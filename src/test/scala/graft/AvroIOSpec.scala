package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Stages
import graft.sources.AvroIO

class AvroIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ReviewBook-shaped stage-1 output round-trips through Snappy Avro") {
    val jsonl = getClass.getResource("/reviews.jsonl").getPath
    val s1 = Stages.stage1(spark, jsonl,
      Seq("a", "the", "and"), Seq("great", "fast", "slow", "boring"))
    val dir = java.nio.file.Files.createTempDirectory("avro").toString
    AvroIO.writeAvro(s1, s"$dir/reviews", "ReviewBook")
    assert(new java.io.File(s"$dir/reviews").listFiles().exists(_.getName.endsWith(".avro")))
    val back = AvroIO.readAvro(spark, s"$dir/reviews/part-*", s1.schema)
    val want = s1.collect().map(_.toSeq).toSet
    val got = back.collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("map-vector (finalFeature-shaped) rows round-trip") {
    val df = Seq(
      (1L, Map("fast" -> 0.5, "slow" -> 0.25)),
      (2L, Map.empty[String, Double]))
      .toDF("id", "feature")
    val dir = java.nio.file.Files.createTempDirectory("avro2").toString
    AvroIO.writeAvro(df, s"$dir/feat", "finalFeature")
    val back = AvroIO.readAvro(spark, s"$dir/feat/part-*", df.schema)
      .as[(Long, Map[String, Double])].collect().toMap
    assert(back(1L) == Map("fast" -> 0.5, "slow" -> 0.25))
    assert(back(2L) == Map.empty)
  }

  test("unsupported types are rejected loudly") {
    intercept[IllegalArgumentException] {
      AvroIO.toAvroSchemaJson(
        Tables.events(spark, TestSpark.Sf).select($"ts").schema, "bad")
    }
  }
}

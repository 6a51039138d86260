package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DenseTfidf
import graft.functions.DenseTfidf.dense_tfidf
import graft.ops.Tfidf
import graft.pipeline.Stages

/** DenseTfidf against its differential oracle, the composed dense form
  * `Tfidf.tfidfVectors(dense = true)`, plus the expression's edge cases. */
class DenseTfidfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToRawLongBits)

  /** The oracle's exploded (id, word, weight) rows as one vector per doc
    * in vocab order. */
  def oracle(docs: DataFrame, vocabIdf: DataFrame): Map[Long, Seq[Double]] =
    Tfidf.tfidfVectors(docs, "id", "toks", vocabIdf, scale = 6, dense = true)
      .as[(Long, String, Double)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }

  /** The expression over a non-local relation, so it runs in whole-stage
    * codegen rather than being folded at optimization time. */
  def viaExpr(docs: DataFrame, vocabIdf: Seq[(String, Double)]): Map[Long, Seq[Double]] = {
    val sorted = vocabIdf.sortBy(_._1)
    spark.createDataFrame(docs.rdd, docs.schema)
      .select(col("id"), dense_tfidf(col("toks"), sorted.map(_._1), sorted.map(_._2)))
      .as[(Long, Seq[Double])].collect().toMap
  }

  def assertBitEqual(got: Map[Long, Seq[Double]], want: Map[Long, Seq[Double]]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) => assert(bits(got(id)) == bits(w), s"doc $id: ${got(id)} vs $w") }
  }

  test("bit-for-bit == tfidfVectors(dense = true) on the PipelineSpec golden corpus") {
    val dict = Seq("great", "fast", "slow", "boring")
    val jsonl = getClass.getResource("/reviews.jsonl").getPath
    val s1 = Stages.stage1(spark, jsonl, Seq("a", "the", "and"), dict)
    val s2 = Stages.stage2(s1, dict, k = 2, seed = 7L)
    val docs = s1.select($"id", $"adjectiveWord".as("toks"))
    val idf = s2.idf.select($"word", $"idf")
    val want = oracle(docs, idf)
    assertBitEqual(viaExpr(docs, idf.as[(String, Double)].collect().toSeq), want)
    assertBitEqual(s2.vectors.as[(Long, Seq[Double])].collect().toMap, want)
  }

  test("bit-for-bit == tfidfVectors(dense = true) on the sf0.01 documents tokens") {
    val sf01 = TestSpark.Sf.replace("sf0.001", "sf0.01")
    val docs = QShared.docsTokens(spark, sf01).select($"doc_id".cast("long").as("id"), $"toks")
    val idf = QShared.vocabIdf(docs).select($"word", $"idf")
      .as[(String, Double)].collect().toSeq
    val want = oracle(docs, idf.toDF("word", "idf"))
    assert(want.nonEmpty && want.values.exists(_.exists(_ != 0.0)))
    assertBitEqual(viaExpr(docs, idf), want)
  }

  val Vocab = Array("bad", "fast", "great", "slow")
  val Idf = Array(1.9162907318741551, 1.5108256237659907, 1.2231435513142097, 2.6094379124341005)
  val Inputs: Seq[Seq[String]] = Seq(
    Seq("great", "great", "fast"), Seq("slow", "zzz", "bad", "slow"), Seq(),
    Seq("zzz", "yyy"), Seq("great", null, "fast"), Seq("bad", "bad", "bad"))

  def interpreted(toks: Seq[String]): Seq[Double] =
    DenseTfidf(Literal.create(toks, ArrayType(StringType)), Vocab, Idf, 6)
      .eval(InternalRow.empty).asInstanceOf[ArrayData].toDoubleArray().toSeq

  def codegen(toks: Seq[String]): Seq[Double] = {
    val proj = GenerateUnsafeProjection.generate(
      Seq(DenseTfidf(BoundReference(0, ArrayType(StringType), nullable = true), Vocab, Idf, 6)))
    val row = InternalRow(new GenericArrayData(toks.map(t =>
      if (t == null) null else UTF8String.fromString(t)).toArray[Any]))
    proj(row).getArray(0).toDoubleArray().toSeq
  }

  test("interpreted path == codegen path") {
    Inputs.foreach(t => assert(bits(interpreted(t)) == bits(codegen(t)), s"tokens $t"))
    val docs = Inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
    val viaDf = viaExpr(docs, Vocab.toSeq.zip(Idf.toSeq))
    Inputs.zipWithIndex.foreach { case (t, i) => assert(bits(viaDf(i.toLong)) == bits(interpreted(t))) }
  }

  test("an empty token array gives an all-zero vector, no NaN") {
    Seq(interpreted(Seq()), codegen(Seq())).foreach { v =>
      assert(v == Seq.fill(Vocab.length)(0.0))
      assert(!v.exists(_.isNaN))
    }
  }

  test("out-of-vocab tokens get no dimension; a doc of only OOV tokens is zero") {
    // [slow, zzz, bad, slow]: OOV zzz counts in len but has no weight
    val docs = Seq((1L, Seq("slow", "zzz", "bad", "slow")), (2L, Seq("zzz", "yyy"))).toDF("id", "toks")
    val vi = Vocab.toSeq.zip(Idf.toSeq)
    val got = viaExpr(docs, vi)
    assert(got(2L) == Seq.fill(Vocab.length)(0.0))
    assert(got(1L)(1) == 0.0 && got(1L)(2) == 0.0)
    assertBitEqual(got, oracle(docs, vi.toDF("word", "idf")))
    val w = Seq(Idf(0) / 4, 2 * Idf(3) / 4)
    val nrm = math.sqrt(w.map(x => x * x).sum)
    assert(got(1L)(0) == BigDecimal(w(0) / nrm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("null input gives null") {
    val e = DenseTfidf(Literal.create(null, ArrayType(StringType)), Vocab, Idf, 6)
    assert(e.eval(InternalRow.empty) == null)
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((1L, null: Seq[String]), (2L, Seq("bad"))))).toDF("id", "toks")
    val got = docs.select($"id", dense_tfidf($"toks", Vocab.toSeq, Idf.toSeq))
      .as[(Long, Option[Seq[Double]])].collect().toMap
    assert(got(1L).isEmpty)
    assert(got(2L).contains(Seq(1.0, 0.0, 0.0, 0.0)))
  }

  test("a non-array<string> input fails at analysis time") {
    val df = Seq((1L, 3, Seq(1, 2))).toDF("id", "n", "ints")
    Seq("n", "ints").foreach { c =>
      val e = intercept[AnalysisException](df.select(dense_tfidf(col(c), Vocab.toSeq, Idf.toSeq)))
      assert(e.getMessage.contains("dense_tfidf requires array<string>"), e.getMessage)
    }
  }
}

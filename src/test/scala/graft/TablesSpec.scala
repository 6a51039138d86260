package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DfMemo

/** Regression guard for the driver-testdata table adapters: a silent
  * testdata schema change (like r6's events `ts` NANOS→MICROS flip,
  * which killed 12 gated queries at once) must surface here as a named
  * one-line failure, not as a dozen dead queries downstream. Also the
  * schema cache behind `Tables.table`: one inference per session and
  * file stamp, and frames equal to a plain parquet read.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("every Tables.All table loads at sf0.001 with rows") {
    Tables.All.foreach { name =>
      val df = Tables.table(spark, TestSpark.Sf, name)
      assert(df.limit(1).count() == 1L, s"table $name is empty or unreadable")
    }
  }

  test("events adapter exposes ts TimestampType AND ts_ns LongType") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val types = ev.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("ts") == TimestampType, s"ts is ${types("ts")}")
    assert(types("ts_ns") == LongType, s"ts_ns is ${types("ts_ns")}")
    // ts and ts_ns must describe the same instant (ns = us * 1000).
    import org.apache.spark.sql.functions._
    val bad = ev.where(unix_micros(col("ts")) * lit(1000L) =!= col("ts_ns")).count()
    assert(bad == 0L, s"$bad rows where ts_ns != unix_micros(ts)*1000")
    // ts actually evaluates (the r6 break was an unresolvable expression).
    assert(ev.select(max(col("ts"))).head().get(0) != null)
  }

  test("key columns keep their expected Spark-side types") {
    def dt(t: String, c: String): DataType =
      Tables.table(spark, TestSpark.Sf, t).schema(c).dataType
    assert(dt("lineitem", "l_quantity") == DoubleType)
    // Parquet stores these with isAdjustedToUTC=false → NTZ in Spark.
    assert(Set[DataType](TimestampType, TimestampNTZType)
      .contains(dt("lineitem", "l_shipdate")))
    assert(Set[DataType](TimestampType, TimestampNTZType)
      .contains(dt("orders", "o_orderdate")))
    assert(dt("documents", "text") == StringType)
    assert(dt("embeddings", "embedding") == ArrayType(FloatType, containsNull = true))
    assert(dt("events", "props") == StringType)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a repeat Tables.table call starts no Spark job") {
    Tables.table(spark, TestSpark.Sf, "orders")
    val (df, jobs) = TestSpark.countJobs(Tables.table(spark, TestSpark.Sf, "orders"))
    assert(jobs == 0, s"repeat call ran $jobs jobs")
    assert(df.columns.contains("o_orderkey"))
  }

  test("every table's schema and rows equal a plain parquet read") {
    Tables.All.foreach { name =>
      val plain = spark.read.parquet(s"${TestSpark.Sf}/$name.parquet")
      val got = Tables.table(spark, TestSpark.Sf, name)
      assert(got.schema == plain.schema, s"$name schema")
      assert(rows(got) == rows(plain), s"$name rows")
    }
  }

  test("a TIMESTAMP(NANOS) events table reads through the cache as long nanos") {
    // the testdata stores micros; write the nanos vintage the adapter
    // also accepts straight through parquet's example writer
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Scratch.dir("tables-spec-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); required binary event_type (STRING); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    val ns = Seq(1700000000123456789L, 1700000001000000999L)
    try ns.foreach(t => w.write(g.newGroup().append("ts", t).append("event_type", "click")))
    finally w.close()
    val plain = spark.read.parquet(s"$dir/events.parquet")
    val got = Tables.table(spark, dir, "events")
    assert(got.schema("ts").dataType == LongType)
    assert(got.schema == plain.schema && rows(got) == rows(plain))
    val ev = Tables.events(spark, dir)
    assert(ev.select("ts_ns").collect().map(_.getLong(0)).toSeq.sorted == ns)
    assert(ev.schema("ts").dataType == TimestampType)
  }

  test("a table overwritten with a different schema is re-inferred on the next call") {
    val dir = Scratch.dir("tables-spec")
    val target = Paths.get(dir, "t.parquet")
    def put(src: String): Unit =
      Files.copy(Paths.get(TestSpark.Sf, s"$src.parquet"), target,
        StandardCopyOption.REPLACE_EXISTING)
    put("region")
    assert(Tables.table(spark, dir, "t").columns.contains("r_regionkey"))
    put("nation")
    val (nation, jobs) = TestSpark.countJobs(Tables.table(spark, dir, "t"))
    assert(jobs == 1, s"a changed stamp must re-infer once, ran $jobs jobs")
    assert(nation.schema == spark.read.parquet(target.toString).schema)
    assert(rows(nation) == rows(Tables.table(spark, TestSpark.Sf, "nation")))
    assert(TestSpark.countJobs(Tables.table(spark, dir, "t"))._2 == 0)
  }

  test("repeat calls canonicalize to one plan and share one DfMemo entry") {
    DfMemo.clear()
    val a = Tables.table(spark, TestSpark.Sf, "region")
    val b = Tables.table(spark, TestSpark.Sf, "region")
    assert(a.queryExecution.analyzed.canonicalized ==
      b.queryExecution.analyzed.canonicalized)
    var calls = 0
    def derive(df: DataFrame) = DfMemo.cached(df, "spec:tables") {
      calls += 1; df.select("r_regionkey")
    }
    assert(derive(a) eq derive(b))
    assert(calls == 1 && DfMemo.size == 1)
    DfMemo.clear()
  }

  test("a second session infers its own entry") {
    Tables.table(spark, TestSpark.Sf, "supplier")
    val other = spark.newSession()
    val (df, jobs) = TestSpark.countJobs(Tables.table(other, TestSpark.Sf, "supplier"))
    assert(jobs == 1, s"first call in a new session ran $jobs jobs")
    assert(df.sparkSession eq other)
    assert(TestSpark.countJobs(Tables.table(other, TestSpark.Sf, "supplier"))._2 == 0)
    assert(rows(df) == rows(Tables.table(spark, TestSpark.Sf, "supplier")))
  }
}

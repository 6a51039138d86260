package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ops.DfMemo

/** Parquet table loader for the driver testdata layout
  * (`/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`, see TESTDATA.md).
  *
  * Each table's schema is resolved once per session. Every [[table]]
  * call, the first included, returns
  * `spark.read.schema(cached).parquet(path)`, so all frames of a table
  * canonicalize to one plan (and key one [[ops.DfMemo]] entry), and no
  * call but an entry's first starts the one-task Spark job that
  * schema inference runs to read a parquet footer. An entry is keyed
  * on (session identity, path) and holds the [[ops.DfMemo.stamp]] of
  * the files under the path when it was inferred; it is re-inferred
  * when that stamp changes — a file overwritten in place (new mtime or
  * length), added or removed — so a table rewritten mid-JVM, even with
  * a different schema, is seen on the next call. A different session
  * (its own confs, e.g. `nanosAsLong`) never reuses another session's
  * entry.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (session identity, path) → (file stamp, schema inferred under it) */
  private val schemas = new ConcurrentHashMap[(Int, String), (String, StructType)]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (System.identityHashCode(spark), path)
    val stamp = DfMemo.stamp(Seq(path), spark.sparkContext.hadoopConfiguration)
    val schema = Option(schemas.get(key)) match {
      case Some((`stamp`, s)) => s
      case _ =>
        // a race infers twice and stores equal schemas; the stamp was
        // taken first, so a rewrite during inference misses next call
        val s = spark.read.parquet(path).schema
        schemas.put(key, (stamp, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** `events` normalized to expose BOTH a proper microsecond
    * TimestampType `ts` and a nanosecond-epoch LongType `ts_ns`,
    * regardless of testdata vintage:
    *  - `ts` stored as TIMESTAMP (micros): pass through, derive
    *    `ts_ns = unix_micros(ts) * 1000`.
    *  - `ts` stored as TIMESTAMP(NANOS) read as BIGINT (via
    *    spark.sql.legacy.parquet.nanosAsLong): it IS `ts_ns`; derive
    *    `ts = timestamp_micros(ts_ns / 1000)`.
    * All downstream integer arithmetic (sessionize gaps, range joins)
    * uses `ts_ns`; event-time windows use `ts`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros((col("ts_ns") / 1000L).cast("long")))
      case TimestampType =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        // NTZ wall-clock → session-TZ instant (all graft sessions run UTC).
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
  }
}

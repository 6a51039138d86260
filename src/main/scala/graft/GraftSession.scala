package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Bench, Verify,
  * Lab, PipelineMain, MicroBench and the test suites' shared session
  * all build through [[apply]], so the confs below cannot drift apart
  * between the harness that times a query and the one that grades it:
  *
  *   - `local[pool]`, with `pool` as the default shuffle width too:
  *     at the scales graft runs locally, wider shuffles of kilobyte
  *     partitions buy only task-wakeup latency;
  *   - session time zone UTC: the events adapter casts NTZ wall-clock
  *     through the session zone, so a non-UTC host default would shift
  *     `ts`/`ts_ns` and break oracle parity;
  *   - `spark.sql.legacy.parquet.nanosAsLong`: the TIMESTAMP(NANOS)
  *     columns read as BIGINT, which [[Tables]] relies on;
  *   - no Spark UI;
  *   - shuffle/spill scratch and the warehouse under [[Scratch]]
  *     (tmpfs when present, deleted at exit); bucketed `saveAsTable`
  *     needs the warehouse;
  *   - a 1000-entry codegen class cache (Spark's default is 100): one
  *     pass of the pair kernels and their consumers compiles about 200
  *     distinct classes cold, so at 100 every warm pass recompiled them
  *     as LRU capacity misses (none at 1000: the generated source is
  *     stable);
  *   - log level ERROR, so nothing but the mains' own output follows
  *     Bench's final JSON line.
  *
  * `getOrCreate` semantics: a second call in a JVM returns the running
  * session, whatever its pool.
  */
object GraftSession {

  /** The pool size from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def apply(pool: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$pool]")
      .config("spark.sql.shuffle.partitions", pool.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", 1000L)
      .config("spark.local.dir", Scratch.dir("graft-local"))
      .config("spark.sql.warehouse.dir", Scratch.dir("graft-wh"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

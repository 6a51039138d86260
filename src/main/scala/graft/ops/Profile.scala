package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-scan column profiler — the data-quality summary every ingest
  * pipeline runs before anything else touches a new drop: row count,
  * per-column null count, distinct count, numeric min/max/mean and
  * string min/max, emitted as one ROW PER COLUMN. Statistics come
  * from TWO aggregates over the table — one plain (nulls/min/max/
  * sums; whole-stage codegen) and one carrying only the
  * `count(distinct)`s — joined as 1-row frames. The split is
  * deliberate and measured: MIXING k distinct aggregates with plain
  * ones in a single agg makes Spark evaluate every plain buffer on
  * each of the Expand's k+1 row copies (17 s at sf0.1 for the gated
  * column set), while the two separate apps run the same data in
  * ~0.4 s total. NDVs are exact so the oracle can replay them.
  *
  * The mean is the engine's 1e-6 fixed-point device (terms quantized
  * to exact longs, one division at the end) so it value-oracles;
  * the fixed scale bounds |x|·rows at ~9e18 — rescale per column if
  * profiling values beyond 1e6-ish at petabyte row counts.
  */
object Profile {

  def profile(df: DataFrame, numCols: Seq[String], strCols: Seq[String]): DataFrame = {
    require(numCols.nonEmpty || strCols.nonEmpty)
    val all = numCols ++ strCols
    val plainAggs = Seq(count(lit(1)).as("__n")) ++
      numCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}_nulls"),
        min(col(c)).cast("double").as(s"__${c}_min"),
        max(col(c)).cast("double").as(s"__${c}_max"),
        sum(round(col(c).cast("double") * 1e6, 0).cast("long"))
          .as(s"__${c}_sum6"))) ++
      strCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}_nulls"),
        min(col(c)).as(s"__${c}_min"),
        max(col(c)).as(s"__${c}_max")))
    val ndvAggs = all.map(c => countDistinct(col(c)).as(s"__${c}_ndv"))
    val stats = df.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(df.agg(ndvAggs.head, ndvAggs.tail: _*))
    // the stats frame is ONE row; checkpoint so the per-column
    // projections below don't re-run the table scan(s) per branch
    val row = stats.localCheckpoint()
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    val numRows = numCols.map(c => row.select(
      lit(c).as("col_name"), col("__n").as("n"),
      col(s"__${c}_nulls").as("nulls"), col(s"__${c}_ndv").as("ndv"),
      round(col(s"__${c}_min"), 6).as("min_num"),
      round(col(s"__${c}_max"), 6).as("max_num"),
      round(col(s"__${c}_sum6").cast("double") / 1e6
        / (col("__n") - col(s"__${c}_nulls")), 6).as("mean_num"),
      nullS.as("min_str"), nullS.as("max_str")))
    val strRows = strCols.map(c => row.select(
      lit(c).as("col_name"), col("__n").as("n"),
      col(s"__${c}_nulls").as("nulls"), col(s"__${c}_ndv").as("ndv"),
      nullD.as("min_num"), nullD.as("max_num"), nullD.as("mean_num"),
      col(s"__${c}_min").as("min_str"), col(s"__${c}_max").as("max_str")))
    (numRows ++ strRows).reduce(_ unionAll _).orderBy("col_name")
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Global ordering + sequential ID assignment + seeded sampling.
  *
  * Reference: stage 1 totally orders output by `asin` through a
  * 1-reducer shuffle and renumbers rows 1..N with a running counter
  * (ReducerExtractTransform.java:34-48, ordering via Avro field order
  * attributes, JobExtractTransform.java:33-41 — SURVEY §2.6 O1-O2);
  * centroid init draws k random doc ids (JobExtractFeature.java:143-158,
  * unseeded there — seeded here, SURVEY §7.5).
  */
object IdOps {

  /** 1..N dense ids in `orderCols` order — the reference semantics —
    * without the reference's single-reducer stage (a global window
    * would funnel the table through one task): range-repartition +
    * in-partition sort, then
    * per-partition counts → cumulative offsets (k-row driver reduction)
    * → offset + local index per partition. Two jobs, no global shuffle
    * to one task — survives 100 TB inputs.
    *
    * The final map stays fully in whole-stage codegen (no RDD node, no
    * Row boxing): the in-partition local index comes from
    * `monotonically_increasing_id()`'s documented layout (partition id
    * in the upper 31 bits, consecutive in-partition record number in
    * the lower 33 — sound here because the persisted sort fixes each
    * partition's row order), and the per-partition offset arrives via a
    * broadcast join against the k-row offset table (k = #partitions) —
    * no shuffle, order-preserving.
    */
  def sequentialIdsAtScale(df: DataFrame, orderCols: Seq[String], idCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .persist()
    // k-row collect (k = #partitions), not data rows: cheap at any scale.
    val counts = sorted.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = sorted.rdd.getNumPartitions
    val offsets = (0 until nParts).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    import spark.implicits._
    val offsetTable = (0 until nParts).map(p => p -> offsets(p)).toDF("__pid", "__off")
    sorted
      .withColumn("__pid", spark_partition_id())
      .withColumn("__loc", monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(offsetTable), Seq("__pid"))
      .withColumn(idCol, (col("__off") + col("__loc") + lit(1L)).cast(LongType))
      .select(sorted.columns.map(col) :+ col(idCol): _*)
  }

  /** Seeded uniform k-sample (reference draws unseeded random ids,
    * JobExtractFeature.java:143-155; seeded here for determinism,
    * deviation documented in SURVEY §7.5). Output adds a dense
    * 0..k-1 `indexCol` like the reference's centroid indexes.
    */
  def sampleK(df: DataFrame, k: Int, seed: Long, indexCol: String = "idx"): DataFrame = {
    val w = Window.orderBy(col("__r"), col(df.columns.head))
    df.withColumn("__r", rand(seed))
      .orderBy(col("__r")).limit(k)
      .withColumn(indexCol, row_number().over(w) - lit(1))
      .drop("__r")
  }

  /** Deterministic seeded k-sample: rank rows by `md5(salt || "_" || key)`
    * — a keyed-hash permutation of the corpus. Unlike [[sampleK]]'s
    * `rand(seed)` (whose stream is engine- and partitioning-specific),
    * the hash is a pure function of the key, so any engine reproduces
    * the same sample — and the orderBy+limit plans as TakeOrdered
    * (per-partition top-k + k-row merge), no full sort. The trailing
    * window ranks only the k survivors.
    */
  def sampleKByHash(
      df: DataFrame, keyCol: String, k: Int, salt: String = "",
      indexCol: String = "idx"): DataFrame = {
    val w = Window.orderBy(col("__h"), col(keyCol))
    df.withColumn("__h", md5(concat_ws("_", lit(salt), col(keyCol).cast("string"))))
      .orderBy(col("__h"), col(keyCol)).limit(k)
      .withColumn(indexCol, row_number().over(w) - lit(1))
      .drop("__h")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    * 2006, "Weighted random sampling with a reservoir"): each row
    * draws `u ∈ (0,1)` and competes with key `u^(1/w)`; the k largest
    * keys are exactly a weight-proportional sample without
    * replacement — P(row drawn first) = w_i/Σw, then recursively on
    * the remainder. `u` is the keyed-hash uniform (md5 of salt+key —
    * the [[sampleKByHash]] device), so any engine reproduces the
    * draw; the orderBy+limit plans as TakeOrdered (per-partition
    * top-k + k-row merge, no global sort — the reservoir form of the
    * paper, which is what survives at 100 TB).
    *
    * Weights must be positive for the key to mean anything (w = 0
    * gives pow(u, ∞) = 0, negative w gives keys > 1 that outrank
    * every legitimate row) — non-positive-weight rows are EXCLUDED,
    * the E–S contract.
    *
    * Ranking happens in the LOG domain: `ln(u)/w` is order-isomorphic
    * to `u^(1/w)` (exp is monotone) and keeps resolution where the
    * power form collapses (ADVICE r14: at w ≈ 1e5 the keys `u^(1/w)`
    * compress toward 1 with spacing ~5e-14, so a 9-dp round made them
    * collide en masse and the id tie-break deterministically biased
    * selection toward low ids; `ln(u)/w` spreads the same keys over
    * ~1e-4 with 1e-9 granularity). The log key rounds to 9 dp before
    * ranking (the rounded-before-ordered device — ln is libm-accurate,
    * not correctly-rounded, so the raw double could order differently
    * across engines at the top-k boundary); the published `es_key`
    * column stays the paper's `u^(1/w)` form, 9-dp-rounded, for
    * interpretability.
    */
  def weightedSampleK(
      df: DataFrame, keyCol: String, weightCol: String, k: Int,
      salt: String = ""): DataFrame =
    esKeyed(df, keyCol, weightCol, salt)
      .orderBy(col("__es_logkey").desc, col(keyCol)).limit(k)
      .drop("__es_logkey")

  /** The E–S competition keys WITHOUT the top-k cut — the shared
    * kernel of [[weightedSampleK]] and its streaming twin
    * ([[graft.streaming.StreamOps.weightedSampleBatch]], r17): both
    * es_key (the paper's u^(1/w), published) and __es_logkey (the
    * 9-dp log-domain ranking key, retained so running state can keep
    * merging by the exact same ordering). Pure map-side projection;
    * the keys are a pure function of (salt, key, weight), which is
    * what makes the stream's running top-k merge EXACTLY the batch
    * top-k over the union.
    */
  def esKeyed(
      df: DataFrame, keyCol: String, weightCol: String,
      salt: String = ""): DataFrame = {
    val u = (conv(substring(md5(concat_ws("_", lit(salt),
        col(keyCol).cast("string"))), 1, 8), 16, 10).cast("long")
        + lit(0.5)) / lit(4294967296.0)
    df.filter(col(weightCol) > 0)
      .withColumn("es_key",
        round(pow(u, lit(1.0) / col(weightCol).cast("double")), 9))
      .withColumn("__es_logkey",
        round(log(u) / col(weightCol).cast("double"), 9))
  }

  /** Deterministic global shuffle — training-order randomization as a
    * pure function of the key: rank every row by
    * `md5(salt || "_" || key)` (a keyed-hash permutation, the
    * [[sampleKByHash]] trick applied to the WHOLE corpus) and assign
    * dense positions 1..N. Changing `salt` re-shuffles between epochs;
    * any engine reproduces the same order, with no sampling state.
    *
    * Scale: delegates to [[sequentialIdsAtScale]] — range repartition on
    * the hash + per-partition offsets, never a single-partition window.
    * The hash column is dropped from the output.
    */
  def shuffleDeterministic(
      df: DataFrame, keyCol: String, salt: String = "", posCol: String = "pos"): DataFrame =
    sequentialIdsAtScale(
      df.withColumn("__h", md5(concat_ws("_", lit(salt), col(keyCol).cast("string")))),
      Seq("__h", keyCol), posCol)
      .drop("__h")

  /** Deterministic per-stratum rate sampling — the corpus-rebalancing
    * primitive of training-data pipelines (upsample curated sources,
    * downsample crawl): keep a row iff the first two hex digits of
    * `md5(salt || "_" || key)` fall below the stratum's threshold
    * `⌊rate·256⌋`. Like [[sampleKByHash]], the keyed hash makes the
    * sample a pure function of the key — any engine reproduces it, no
    * sampling state, no extra pass, and the filter is a plain map-side
    * predicate (no shuffle at any corpus size). Realized rate is the
    * exact fraction `⌊rate·256⌋/256` of the hash space (granularity
    * 1/256 — use more hex digits for finer rates). Strata missing from
    * `rates` get `defaultRate`.
    */
  def stratifiedSampleByHash(
      df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = ""): DataFrame = {
    def hex(r: Double): Column =
      if (r >= 1.0) lit("zz")  // every 2-hex-digit prefix sorts below "zz"
      else lit(f"${math.max(0.0, math.floor(r * 256)).toInt}%02x")
    val thr = rates.foldLeft(hex(defaultRate)) { case (acc, (k, r)) =>
      when(col(stratumCol) === k, hex(r)).otherwise(acc)
    }
    df.filter(
      substring(md5(concat_ws("_", lit(salt), col(keyCol).cast("string"))), 1, 2) < thr)
  }

  /** Temperature-based mixture resampling (the domain-rebalancing step
    * of Gopher/PaLM-style data recipes): given per-row weights (token
    * counts) and a stratum (source/domain), flatten the mixture toward
    * uniform with temperature `T` — target share q_s ∝ p_s^(1/T) — and
    * keep each stratum at rate (q_s/p_s) / max_t(q_t/p_t), so the most
    * over-target stratum is kept whole and the rest downsample
    * proportionally. Row-level keep/drop is the same engine-portable
    * keyed-hash device as [[stratifiedSampleByHash]] (first 2 hex
    * digits of md5 vs a per-stratum threshold, granularity 1/256, an
    * epsilon inside the floor guards cross-engine pow() ulp wobble).
    *
    * Scale: the rate table is one partial-agg groupBy over strata
    * (tiny) joined back by broadcast; the keep decision is a map-side
    * predicate — no corpus shuffle, no driver collect.
    */
  def temperatureSample(
      df: DataFrame, keyCol: String, stratumCol: String, weightCol: String,
      temperature: Double, salt: String = ""): DataFrame = {
    require(temperature > 0, s"temperature must be positive: $temperature")
    val stats = df.groupBy(stratumCol).agg(sum(col(weightCol)).as("__ns"))
    // all aggregates below run over the tiny per-stratum frame
    val tot = stats.agg(sum(col("__ns")).as("__n"),
      sum(pow(col("__ns"), lit(1.0 / temperature))).as("__z"))
    val rates = stats.crossJoin(broadcast(tot))
      // q/p = (ns^(1/T)/z) / (ns/n); rate = (q/p) / max(q/p)
      .withColumn("__qp", pow(col("__ns"), lit(1.0 / temperature - 1.0)) * col("__n") / col("__z"))
      .withColumn("__rate", col("__qp") / max(col("__qp")).over(Window.partitionBy()))
      .withColumn("__thr",
        when(col("__rate") >= 1.0 - 1e-9, lit("zz"))
          .otherwise(format_string("%02x",
            floor(col("__rate") * 256 + lit(1e-9)).cast("int"))))
      .select(col(stratumCol), col("__thr"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(substring(
        md5(concat_ws("_", lit(salt), col(keyCol).cast("string"))), 1, 2) < col("__thr"))
      .drop("__thr")
  }

  /** Token-budget mixture sampling — "sample down to N tokens under
    * this mixture", the form real data recipes are specified in:
    * given per-row token counts (`weightCol`), a stratum (source /
    * domain), a total token budget and target mixture shares m_s
    * (summing to 1), keep each stratum s at the 1/256-quantized rate
    * nearest-from-below to r_s = min(1, B·m_s / w_s), then distribute
    * the leftover expected tokens by LARGEST REMAINDER: strata ranked
    * by quantization remainder receive +1/256 until the expected total
    * reaches the budget. Expected kept tokens land within
    * max_s(w_s)/256 of the achievable target (a stratum with fewer
    * tokens than its B·m_s allocation keeps everything — the mixture
    * caps, it does not redistribute; strata absent from `mixture` are
    * dropped). Row keep/drop is the same engine-portable keyed-hash
    * device as [[stratifiedSampleByHash]], so any engine reproduces
    * the exact kept set.
    *
    * Scale: the rate table is one partial-agg groupBy over strata
    * (tiny) with the remainder ranking as windows over THAT table,
    * joined back by broadcast; the keep decision is a map-side
    * predicate — no corpus shuffle, no driver collect.
    */
  def sampleToTokenBudget(
      df: DataFrame, keyCol: String, stratumCol: String, weightCol: String,
      targetTokens: Long, mixture: Map[String, Double],
      salt: String = ""): DataFrame = {
    require(mixture.nonEmpty && math.abs(mixture.values.sum - 1.0) < 1e-9,
      s"mixture shares must sum to 1: $mixture")
    require(targetTokens >= 0, s"targetTokens must be >= 0: $targetTokens")
    val share = mixture.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    val b = lit(targetTokens.toDouble)
    val stats = df.groupBy(stratumCol)
      .agg(sum(col(weightCol).cast("double")).as("__w"))
      .withColumn("__share", share)
      .filter(col("__share") > 0)
      // ε inside the floor guards cross-engine double wobble, as in
      // temperatureSample; floor(double) is LongType in Spark
      .withColumn("__rate", least(b * col("__share") / col("__w"), lit(1.0)))
      .withColumn("__t0", floor(col("__rate") * 256 + lit(1e-9)))
      .withColumn("__frac", col("__rate") * 256 - col("__t0"))
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy(col("__frac").desc, col(stratumCol))
    // expected-token deficit left by flooring, and each stratum's
    // cumulative +1/256 gain in remainder order — all over the tiny
    // per-stratum frame, never the corpus
    val withDeficit = stats
      .withColumn("__deficit",
        b - sum(col("__w") * col("__t0") / lit(256.0)).over(wAll))
      .withColumn("__cb", coalesce(
        sum(when(col("__frac") > 1e-12, col("__w") / lit(256.0)))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0.0)))
    val bumped = when(
      col("__frac") > 1e-12 && col("__cb") < col("__deficit") - lit(1e-9),
      col("__t0") + 1).otherwise(col("__t0"))
    val rates = withDeficit
      .withColumn("__thr",
        when(bumped >= 256, lit("zz"))
          .otherwise(format_string("%02x", bumped.cast("int"))))
      .select(col(stratumCol), col("__thr"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(substring(
        md5(concat_ws("_", lit(salt), col(keyCol).cast("string"))), 1, 2) < col("__thr"))
      .drop("__thr")
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

/** End-to-end training-data curation flow — the composition a 100 TB
  * corpus pipeline actually runs, built entirely from the library's
  * operators:
  *
  *   tokenize → quality/language annotate → threshold filter →
  *   exact dedup (normalized fingerprint, keep min id) →
  *   near-dup removal (shingle Jaccard ≥ threshold, drop the higher id
  *   of each verified pair) → survivors.
  *
  * Near-dup candidates come from the exact Jaccard join at test scale;
  * swap [[Dedup.jaccardPairsFromHashes]] for MinHash+LSH candidates +
  * verification at corpus scale (identical pair contract).
  */
object Curation {

  final case class Config(
      stopwords: Seq[String] = graft.Dictionaries.Stopwords,
      minQuality: Double = 0.6,
      shingleK: Int = 3,
      nearDupJaccard: Double = 0.5)

  /** Annotate documents with tokens, quality and predicted language. */
  def annotate(docs: DataFrame, textCol: String, cfg: Config): DataFrame = {
    val toks = TextOps.tokenize(col(textCol))
    docs
      .withColumn("toks", TextOps.removeStopwords(toks, cfg.stopwords))
      .withColumn("quality", TextStats.qualityScore(toks, cfg.stopwords))
      .withColumn("lang_pred", TextStats.langId(toks))
      .withColumn("fp", Dedup.wordSetFingerprint(col("toks")))
  }

  /** Run the full flow; returns surviving doc ids. Deterministic: every
    * drop rule is an order-free set operation (min-id keeps, higher-id
    * drops).
    */
  def curate(docs: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame = {
    val ann = annotate(docs, textCol, cfg)
    val filtered = ann.filter(col("quality") >= cfg.minQuality)
    // exact dedup: keep the min id of each fingerprint group
    val keptExact = filtered
      .withColumn("__rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col(idCol))))
      .filter(col("__rk") === 1)
      .drop("__rk")
    // near-dup: drop the higher id of every qualifying pair. Direct
    // self-join: k-shingles (k≥3) are near-unique so there is no
    // hot-token fan-out to prefix-filter away; for unigram/hot-token
    // inputs switch to Dedup.jaccardPairsPrefix (identical contract)
    val pairs = Dedup.jaccardPairsFromHashes(
      Dedup.shingleHashes(keptExact, idCol, "toks", cfg.shingleK),
      cfg.nearDupJaccard, materialize = true)
    keptExact.join(pairs.select(col("id2").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .select(col(idCol))
  }
}

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
  * Near-dup pairs are exact: every shingle-sharing pair, from
  * uncapped in-bucket pairs ([[Dedup.jaccardPairsBucketed]]). Word
  * 3-shingles are near-unique, so buckets stay small; where hot
  * shingles make that quadratic, swap in [[Dedup.jaccardPairsPrefix]]
  * or MinHash+LSH candidates + [[Dedup.verifyJaccard]] (identical pair
  * contract).
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
    // near-dup: drop the higher id of every qualifying pair. The
    // shingles are pinned: the pair step reads them twice (buckets,
    // sizes), and their lineage is the whole annotate + dedup funnel
    val pairs = Dedup.jaccardPairsBucketed(
      Dedup.shingleHashes(keptExact, idCol, "toks", cfg.shingleK).localCheckpoint(),
      cfg.nearDupJaccard, maxBucket = Int.MaxValue)
    keptExact.join(pairs.select(col("id2").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .select(col(idCol))
  }
}

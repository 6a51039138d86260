package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Curation

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Tables.table(spark, TestSpark.Sf, "documents")
  lazy val cfg = Curation.Config()

  /** Per-stage funnel report: one row per stage with surviving count. */
  private def report(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      cfg: Curation.Config): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val ann = Curation.annotate(docs, textCol, cfg).persist()
    try {
      val total = ann.count()
      val q = ann.filter(col("quality") >= cfg.minQuality).count()
      val exact = ann.filter(col("quality") >= cfg.minQuality)
        .select(col("fp")).distinct().count()
      val fin = Curation.curate(docs, idCol, textCol, cfg).count()
      Seq(
        ("0_input", total), ("1_quality", q),
        ("2_exact_dedup", exact), ("3_near_dedup", fin))
        .toDF("stage", "n_docs")
    } finally ann.unpersist()
  }

  test("report: funnel counts monotonically decrease, final == curate() count") {
    val r = report(docs, "doc_id", "text", cfg)
      .as[(String, Long)].collect().sortBy(_._1)
    val counts = r.map(_._2)
    assert(counts.length == 4)
    counts.sliding(2).foreach { case Array(a, b) => assert(b <= a, r.toSeq.toString) }
    assert(counts.head == docs.count())
    assert(counts.last == Curation.curate(docs, "doc_id", "text", cfg).count())
    assert(counts.last > 0)
  }

  test("survivors: no duplicate fingerprints, no near-dup pair fully surviving") {
    val survivors = Curation.curate(docs, "doc_id", "text", cfg)
    val ann = Curation.annotate(docs, "text", cfg)
    val surAnn = ann.join(survivors, Seq("doc_id"))
    // exact: fingerprints unique among survivors
    assert(surAnn.select($"fp").distinct().count() == surAnn.count())
    // near-dup: no surviving pair at/above the threshold
    val pairs = graft.ops.Dedup.jaccardPairsFromHashes(
      graft.ops.Dedup.shingleHashes(surAnn, "doc_id", "toks", cfg.shingleK),
      cfg.nearDupJaccard)
    assert(pairs.count() == 0, "surviving corpus must contain no near-dup pairs")
    // quality floor holds
    assert(surAnn.filter($"quality" < cfg.minQuality).count() == 0)
  }
}

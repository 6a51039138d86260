package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Similarity, TextOps, Unigram}

/** The run-scoped [[ops.DfMemo]] substrates, enumerated for EXPLICIT
  * pre-materialization and billing (VERDICT r12 #1): under
  * first-consumer-pays, a shared kernel's build cost lands on whichever
  * gated query happens to run first — BENCH_r12 priced the 1.2 s
  * q_hard_negatives at 9.4 s because it drew the cell-kernel build.
  * Bench now materializes each substrate OUTSIDE any query's timed
  * window and reports the build as its own `substrate:*` line, so the
  * cost is visible, attributed, and never skews a query's median.
  *
  * Each entry invokes the SAME function with the SAME parameters its
  * gated consumers use — the DfMemo key is (session, files, plan, tag),
  * so parameter identity is what makes the pre-build hit (DfMemoSpec
  * checks that one consumer per substrate adds no entry). Calling the
  * function is sufficient to materialize: DfMemo.cached persists and
  * counts inside the memo miss, and topPBasis collects its basis.
  */
object Substrates {

  /** name → builder; names carry the `substrate:` prefix they are
    * reported under. Consumers, for the record:
    *   - dedup_pairs3: q_edit_pairs + the clusters3 derivation below
    *   - dedup_clusters3: q_dedup_clusters/_canonical/_best,
    *     q_minhash_err
    *   - knn_graph: q_knn_graph, q_knn_approx_recall, q_knn_ndcg
    *   - cell_kernel: q_knn_approx, q_knn_approx_recall, q_knn_ndcg,
    *     q_pagerank, q_label_prop, q_hits
    *   - cell_kernel_labeled: q_hard_negatives — since r14 a cheap
    *     DERIVATION of cell_kernel (two label joins on the memoized
    *     edge list, not a second kNN build — VERDICT r13 #1), kept in
    *     the list so the derivation is still pre-built and billed
    *   - bpe_merges: q_bpe_learn + q_bpe_encode (which re-learns
    *     internally) — the 3-round merge-learning loop, shared since
    *     r14
    *   - eigenbasis: q_pca_top2, q_mahalanobis, q_whiten,
    *     q_curation_v4 (its mahalanobis screen; q_curation_emb is
    *     cosine-only and never hits the memo) — the driver-side
    *     topPBasis DfMemo entry at the gated
    *     (p=2, iters=3) key (r17; previously first-consumer-pays, so
    *     whichever consumer ran first in budget order carried a
    *     ~2.5–3.5 s cold and ghost-tripped the cold-stall flag)
    */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "substrate:bpe_merges" ->
      ((s: SparkSession, d: String) => TextOps.bpeLearn(
        Tables.table(s, d, "documents"), "text", 3)),
    "substrate:shingles3" ->
      // the per-doc distinct 3-shingle hash arrays (r18): 7 gated
      // consumers (q_ngram3_jaccard/_capped, q_dedup_sim_hist,
      // q_containment_pairs, q_novelty, q_minhash_pairs,
      // q_cross_dedup) + the dedup_pairs3 build below — ordered BEFORE
      // dedup_pairs3 so the shingling is billed here, not inside the
      // pair funnel's line
      ((s: SparkSession, d: String) => QShared.shingles3(s, d)),
    "substrate:dedup_pairs3" ->
      ((s: SparkSession, d: String) => QShared.dedupPairs3(s, d)),
    "substrate:dedup_clusters3" ->
      ((s: SparkSession, d: String) => QShared.dedupClusters3(s, d)),
    "substrate:knn_graph" ->
      ((s: SparkSession, d: String) => Similarity.knnGraph(
        Tables.table(s, d, "embeddings"), "vec_id", "embedding", k = 5)),
    "substrate:cell_kernel" ->
      ((s: SparkSession, d: String) => Similarity.cellMatches(
        Tables.table(s, d, "embeddings"), "vec_id", "embedding", None,
        QShared.fixedCentroidArr(s, d), nprobe = 5, scale = 4)),
    "substrate:cell_kernel_labeled" ->
      ((s: SparkSession, d: String) => Similarity.cellMatches(
        Tables.table(s, d, "embeddings"), "vec_id", "embedding", Some("label"),
        QShared.fixedCentroidArr(s, d), nprobe = 5, scale = 4)),
    "substrate:lang_model" ->
      // the trained multiclass NB language model (fixture → bootstrap
      // labels → train): q_lang_clf + q_stream_lang_clf (r17; the
      // stream twin previously re-ran the whole training and measured
      // 14.8 s — the eigenbasis first-consumer-pays pattern again)
      ((s: SparkSession, d: String) => QSimText.langModelCombined(s, d)),
    "substrate:unigram_model" ->
      // the trained 2-round Viterbi-EM unigram LM at the gated
      // (rounds=2, maxMulti=90) key: q_unigram_learn + q_unigram_encode
      // (r17 optimization round; each previously re-ran the full
      // training — the bpe_merges first-consumer-pays pattern)
      ((s: SparkSession, d: String) => Unigram.train(
        Unigram.wordFreqs(Tables.table(s, d, "documents"), "text"),
        rounds = 2, maxMulti = 90)),
    "substrate:eigenbasis" ->
      ((s: SparkSession, d: String) => {
        val (dim, _, basis) = Similarity.topPBasis(
          Tables.table(s, d, "embeddings"), "embedding", p = 2, iters = 3)
        import s.implicits._
        basis.zipWithIndex.map { case ((lam, _), i) => (i + 1, dim, lam) }
          .toDF("component", "dim", "lambda")
      }))
}

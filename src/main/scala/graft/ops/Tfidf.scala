package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF vectorization re-expressed Spark-first.
  *
  * Reference semantics (extract_feature/):
  *  - document frequency: per-doc distinct tokens, count per word
  *    (MapperExtractFeatureDocument.java:19-32, ReducerExtractFeatureDocument.java:48-53)
  *  - smoothed IDF: ln((N+1)/(df+1)) + 1 — sklearn smooth_idf
  *    (ReducerExtractFeatureDocument.java:54-58)
  *  - TF: count / doc token-length, with length-0 guard
  *    (ReducerExtractFeatureTFIDF.java:56,63-67)
  *  - weight: L2-normalized tf·idf, NaN→0, HALF_UP round to 6 dp
  *    (ReducerExtractFeatureTFIDF.java:58-80)
  *
  * Canonical representation is the exploded sparse relation
  * `(id, word, …)` — columnar, shuffle-friendly, O(nnz) instead of the
  * reference's dense O(docs×vocab) maps (its biggest scale bug, see
  * SURVEY.md §7.4). A dense variant is provided for reference fidelity;
  * it is a cross join against the (small, broadcast) vocabulary. The
  * pipeline builds its dense vectors with the per-row
  * [[graft.functions.DenseTfidf]] expression instead (no cross join, no
  * shuffle, one `array<double>` per document); the composed dense form
  * stays as the registry's q_tfidf plan and as that expression's
  * differential oracle.
  *
  * All operators are pure column expressions — whole-stage codegen end
  * to end, partial aggregation map-side, no UDFs.
  */
object Tfidf {

  /** (word, df): number of documents containing each word.
    * `array_distinct` before `explode` is the map-side dedup of
    * MapperExtractFeatureDocument.java:24 — it keeps the exploded row
    * count at O(distinct-per-doc) before the shuffle; Spark's partial
    * aggregation then combines pre-shuffle.
    */
  def docFreq(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    docs.select(explode(array_distinct(col(tokensCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df"))

  /** Attach smoothed IDF — `ln((N+1)/(df+1)) + 1`
    * (ReducerExtractFeatureDocument.java:56). `n` may be a literal or a
    * 1-row aggregate joined in by the caller.
    */
  def withIdf(dfreq: DataFrame, n: Long): DataFrame =
    dfreq.withColumn("idf", log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))

  /** The same smoothed IDF on the driver, bit for bit: Spark's `log` is
    * `StrictMath.log` (`java.lang.Math.log` may differ in the last ulp),
    * and the operands are the same doubles. df = 0 gives ln(N+1)+1.
    */
  def idfOf(n: Long, df: Long): Double = StrictMath.log((n + 1.0) / (df + 1.0)) + 1.0

  /** (id, len, word, cnt): per-document term counts plus doc length.
    * The reference computes this per-row with a Java stream groupingBy
    * (MapperExtractFeatureTFIDF.java:92-93); exploded groupBy gets
    * map-side partial aggregation for free.
    */
  def termCounts(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    docs.select(col(idCol), size(col(tokensCol)).as("len"), explode(col(tokensCol)).as("word"))
      .groupBy(col(idCol), col("len"), col("word")).agg(count(lit(1)).as("cnt"))

  /** Vocabulary selection with sklearn's `min_df` / `max_df` /
    * `max_features` semantics — the reference's vestigial `-mindf
    * -maxdf -f` flags (run-job.sh:30, never parsed by App.java:40-46;
    * implemented here as SURVEY §7.5 prescribes). Fractions are
    * proportions of the corpus size n; max_features keeps the top words
    * by corpus term count, ties broken alphabetically (sklearn order).
    * Input must carry (word, df, cnt); see [[docFreqWithCounts]].
    */
  def selectVocab(
      dfreqCnt: DataFrame, n: Long,
      minDf: Double = 1.0, maxDf: Double = 1.0, maxFeatures: Int = Int.MaxValue): DataFrame = {
    // values < 1.0 are fractions of n; >= 1.0 absolute counts
    // (maxDf == 1.0 means "100% of docs", sklearn's default)
    val lo = if (minDf < 1.0) minDf * n else minDf
    val hi = if (maxDf <= 1.0) maxDf * n else maxDf
    val kept = dfreqCnt.filter(col("df") >= lo && col("df") <= hi)
    // top-k by (cnt desc, word) — sklearn's max_features order with its
    // alphabetical tie-break. orderBy+limit plans as TakeOrderedAndProject
    // (per-partition top-k, then a k-row merge) — no single-partition
    // window over the whole vocabulary.
    if (maxFeatures == Int.MaxValue) kept
    else kept.orderBy(col("cnt").desc, col("word")).limit(maxFeatures)
  }

  /** (word, df, cnt): document frequency plus corpus term count in one
    * pass — two aggregates over one explode, no second scan.
    */
  def docFreqWithCounts(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    docs.select(col(idCol), explode(col(tokensCol)).as("word"))
      .groupBy("word")
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("cnt"))

  /** Sparse L2-normalized TF-IDF vectors `(id, word, weight)`, weight
    * rounded HALF_UP to `scale` dp (Spark `round` is HALF_UP — exact
    * parity with the reference's BigDecimal rounding,
    * ReducerExtractFeatureTFIDF.java:77-78).
    *
    * `vocabIdf` is a (word, idf) table — typically [[docFreq]]+[[withIdf]]
    * output, or an external dictionary. It is broadcast: vocabularies are
    * small relative to the corpus. `dense=true` reproduces the
    * reference's dense-over-vocabulary output (zero weights included)
    * as docs × vocab rows; [[graft.functions.DenseTfidf]] computes the
    * same weights as one vector per document.
    */
  def tfidfVectors(
      docs: DataFrame, idCol: String, tokensCol: String,
      vocabIdf: DataFrame, scale: Int = 6, dense: Boolean = false): DataFrame = {
    val counts = termCounts(docs, idCol, tokensCol)
    val joined = if (dense) {
      docs.select(col(idCol), size(col(tokensCol)).as("len"))
        .crossJoin(broadcast(vocabIdf.select("word", "idf")))
        .join(counts.drop("len"), Seq(idCol, "word"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    } else {
      counts.join(broadcast(vocabIdf.select("word", "idf")), Seq("word"), "inner")
    }
    val tf = joined.withColumn("tf",
      when(col("len") === 0, lit(0.0)).otherwise(col("cnt") / col("len")))
    val w = tf.withColumn("w", col("tf") * col("idf"))
    // One-pass per-doc L2 norm via window (vs the reference's buffered
    // reduce, ReducerExtractFeatureTFIDF.java:58-74). Zero-vector guard
    // replaces its NaN→0 backstop (:75-76).
    val nrm = sqrt(sum(col("w") * col("w")).over(Window.partitionBy(col(idCol))))
    w.withColumn("nrm", nrm)
      .withColumn("weight",
        round(when(col("nrm") === 0, lit(0.0)).otherwise(col("w") / col("nrm")), scale))
      .select(col(idCol), col("word"), col("weight"))
  }

  /** Feature hashing ("the hashing trick", Weinberger et al. ICML'09;
    * Spark MLlib's HashingTF plan shape): per-doc term counts bucketed
    * into a FIXED m-dimensional space by hashing the token — no
    * vocabulary table, no fit pass, no word-keyed shuffle, which is
    * what makes it the vectorizer of choice when the vocabulary itself
    * is too large to sit in a table (100 TB web corpora). Collisions
    * are the accepted trade (two words may share a bucket); m controls
    * the rate.
    *
    * `portable = true` buckets by the first 8 md5 hex digits (the
    * [[Sketches]]/decontamination device — bit-identical in any
    * engine, value-oracle-able); `false` uses xxhash64 (one 8-byte
    * hash per token, the production path). Returns the sparse exploded
    * relation (idCol, bucket, tf) — only one doc-keyed shuffle with
    * map-side partial aggregation; nothing is collected or broadcast.
    */
  def hashingTf(
      docs: DataFrame, idCol: String, toksCol: String, m: Int,
      portable: Boolean = true): DataFrame = {
    val tok = docs.select(col(idCol), explode(col(toksCol)).as("w"))
    val h =
      if (portable) conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
      else abs(xxhash64(col("w")))
    tok.withColumn("bucket", (h % m).cast("int")).drop("w")
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("tf"))
  }
}

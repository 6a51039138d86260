package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Deduplication suite for large-scale training-data pipelines:
  * exact (normalized fingerprint), exact n-gram Jaccard, MinHash+LSH,
  * and SimHash. Beyond-reference surface (SURVEY §7.2 M6) — the
  * reference has no dedup; these follow the standard published designs
  * (Broder's MinHash/shingling; Charikar's SimHash) composed from
  * Spark built-ins only.
  *
  * Scale notes (100 TB north star):
  *  - exact dedup = one hash-partitioned groupBy on a 32-byte
  *    fingerprint — the cheapest possible full-corpus pass.
  *  - exact Jaccard self-joins explode on hot shingles; it is the
  *    small-data oracle. The scale paths are prefix filtering
  *    ([[jaccardPairsPrefix]]: one per-document aggregate, candidates
  *    from the rare-first prefixes only, exact verify) and MinHash
  *    ([[minhashFromArrays]] — one narrow pass over per-doc hash
  *    arrays, no shuffle — + [[lshCandidates]]: bucket-local pairs).
  *  - LSH hot buckets (boilerplate docs) go quadratic — cap bucket
  *    size with `maxBucket` (drops only pathological buckets,
  *    logged by count in the result).
  *  - clustering ([[dedupClusters]]) streams the near-dup EDGES — orders
  *    of magnitude fewer than documents — through one union-find task;
  *    its memory is one parent entry per clustered id. Past what one
  *    task's heap holds, swap in a distributed connected-components
  *    (large-star/small-star, Kiveris et al. SoCC'14) at the cost of
  *    O(log n) shuffle rounds.
  */
object Dedup {

  /** Whitespace/order/multiplicity-insensitive content fingerprint:
    * md5 over the sorted distinct token set. md5 exists in both Spark
    * and DuckDB → oracle-able.
    */
  def wordSetFingerprint(tokens: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens))))

  /** Exact-duplicate groups by a precomputed key column:
    * (key, rep = min id, n = group size), restricted to real duplicate
    * groups (n > 1).
    */
  def exactDupGroups(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("rep"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Keep one row (min id) per duplicate key — the "drop duplicates"
    * action. min_by keeps the whole row without a second join.
    */
  def dropDupsByKey(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val others = df.columns.filter(c => c != keyCol).map(c => min_by(col(c), col(idCol)).as(c))
    df.groupBy(col(keyCol)).agg(others.head, others.tail: _*).drop(keyCol)
  }

  /** Word k-shingles: overlapping windows of k consecutive tokens joined
    * by a space; docs shorter than k shingle to nothing.
    */
  def tokenShingles(tokens: Column, k: Int): Column =
    when(size(tokens) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(tokens) - (k - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(k)))))

  /** Exploded distinct k-shingle hashes `(id[, block], h)` built with
    * posexplode + window `lead` instead of per-doc array pipelines.
    * Two reasons this is the canonical form at scale:
    *  1. Catalyst textually duplicates unaliased array-building
    *     expression trees (a `transform(sequence, slice…)` shingler gets
    *     re-evaluated ~7× per row through the explode's implicit
    *     size/null filter — measured 21 s vs <2 s on sf0.1), and the
    *     lambda pipeline is interpreted, not codegen'd.
    *  2. Downstream joins/aggs only ever need the 8-byte hash, never the
    *     shingle string.
    */
  def shingleHashes(
      docs: DataFrame, idCol: String, tokensCol: String, k: Int,
      blockCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    val keep = col(idCol).as("id") +: blockCol.map(col).toSeq
    if (k == 1) {
      // pre-explosion dedup (the reference's map-side distinct,
      // MapperExtractFeatureDocument.java:24): explode O(distinct) rows,
      // no post-explosion distinct shuffle needed
      docs.select(keep :+ explode(array_distinct(col(tokensCol))).as("tok"): _*)
        .select((col("id") +: blockCol.map(col).toSeq) :+ xxhash64(col("tok")).as("h"): _*)
    } else {
      val e0 = docs.select(keep :+ posexplode(col(tokensCol)).as(Seq("pos", "tok")): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("pos"))
      val parts = col("tok") +: (1 until k).map(j => lead(col("tok"), j).over(w))
      e0.withColumn("__last", lead(col("tok"), k - 1).over(w))
        .withColumn("h", xxhash64(concat_ws(" ", parts: _*)))
        // concat_ws skips nulls — drop tail windows shorter than k
        .filter(col("__last").isNotNull)
        .select((col("id") +: blockCol.map(col).toSeq) :+ col("h"): _*)
        .distinct()
    }
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every k-token shingle, then keep the
    * MINIMUM hash of each w-wide sliding window of consecutive shingle
    * hashes. Guarantee: any two documents sharing a token run of
    * ≥ w+k−1 tokens share ≥1 fingerprint — robust substring-level
    * dedup at a fraction of all-shingle cost (≈1/w density). Docs with
    * fewer than w shingles contribute their single global-min hash.
    * Base hash is the first 8 hex digits of md5 (portable SQL, like
    * [[minhashPairsPortable]]) so the whole operator value-oracles
    * cross-engine (q_winnow). Output: (id, fp) distinct, one row per
    * selected fingerprint. Pure column expressions — map-side, no
    * shuffle until the consumer joins fingerprints.
    */
  def winnowFingerprints(
      docs: DataFrame, idCol: String, tokensCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1)
    val hs = transform(tokenShingles(col(tokensCol), k),
      s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))
    val n = size(col("__hs"))
    val nWin = n - (w - 1)
    // sequence(1, x) with x<1 DESCENDS in Spark — the <w branch never
    // uses this value, but both branches evaluate, so clamp to 1
    val fps = array_distinct(transform(
      sequence(lit(1), greatest(nWin, lit(1))),
      i => array_min(slice(col("__hs"), i, lit(w)))))
    docs.select(col(idCol).as("id"), hs.as("__hs"))
      .filter(size(col("__hs")) >= 1)
      .select(col("id"),
        explode(when(n < w, array(array_min(col("__hs")))).otherwise(fps)).as("fp"))
      .distinct()
  }

  /** Pair step shared by the Jaccard entry points: self-join the
    * exploded hashes on (block,) h with id-only payload (8-24 bytes per
    * shuffled row — the fan-out is Σ_h |docs_h|², so row width IS the
    * cost), count intersections, join set sizes back onto the ~|pairs|
    * aggregate. (Hash-collision risk ~|shingles|²/2⁶⁴ — negligible, and
    * only perturbs one intersection count by 1.)
    */
  def jaccardPairsFromHashes(
      e0: DataFrame, minJ: Double, blockCol: Option[String] = None,
      materialize: Boolean = false): DataFrame = {
    // the exploded frame is referenced three times (two join sides +
    // sizes); when its lineage is expensive (k>1 shingling = window +
    // distinct), localCheckpoint computes it once and reuses the blocks
    val e = if (materialize) e0.localCheckpoint() else e0
    val sizes = e.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val joinCond = blockCol.map(b => col(s"a.$b") === col(s"b.$b"))
      .foldLeft(col("a.h") === col("b.h") && col("a.id") < col("b.id"))(_ && _)
    e.as("a").join(e.as("b"), joinCond)
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "s1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "s2"), "id2")
      .withColumn("jaccard", col("inter") / (col("s1") + col("s2") - col("inter")))
      .filter(col("jaccard") >= minJ)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Prefix-filtered EXACT Jaccard pairs (SSJoin/PPJoin-style prefix
    * filtering): a pair with J ≥ θ shares ≥ ⌈θ·|x|⌉ tokens with either
    * side x, so ordering each doc's tokens canonically (rarest-first by
    * global df, ties by hash) and indexing only the first
    * |x| − ⌈θ·|x|⌉ + 1 of them is guaranteed to surface every
    * qualifying pair — at θ=0.9 the candidate-generating self-join
    * shrinks to ~10% of the rows and the quadratic hot-token fan-out
    * collapses. Candidates are then verified with a full intersection
    * count, so results are EXACT — identical to
    * [[jaccardPairsFromHashes]] (parity-tested).
    *
    * Shape: ONE aggregate per document builds its canonically sorted
    * element list `sort_array(collect_list(struct([block,] df, h)))`;
    * the size, the prefix (a slice) and the verify array all come from
    * that one row, so there is no per-document window, no separate
    * sizes aggregate or join, and no regroup inside the verify. The
    * per-document frame is localCheckpointed: the candidate self-join
    * reads it twice and the verify twice more. Sizes and verify arrays
    * are per id even when an id spans several blocks; prefixes are per
    * (id, block).
    *
    * Same input/output contract as [[jaccardPairsFromHashes]]. The
    * input is localCheckpointed by default: it is read twice (df
    * table, per-document aggregate) and its lineage is usually an
    * expensive shingling.
    */
  def jaccardPairsPrefix(
      e0: DataFrame, minJ: Double, blockCol: Option[String] = None,
      materialize: Boolean = true): DataFrame = {
    val e = if (materialize) e0.localCheckpoint() else e0
    val blockCols = blockCol.toSeq
    val dfreq = e.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    // sorted by (block, df, h): one contiguous, rare-first run per block
    val docs = e.join(dfreq, "h")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(
        struct((blockCols :+ "__df" :+ "h").map(col): _*))).as("__s"))
      .select(col("id"), col("__s"), size(col("__s")).as("__sz"),
        array_distinct(col("__s.h")).as("hs"))
      .localCheckpoint()
    // ε guards double noise: ceil(0.9·30) must be 27, not
    // ceil(27.000000000000004)=28 — a too-short prefix loses recall,
    // a too-long one only adds candidates, so err long
    val plen = greatest(
      col("__sz") - ceil(lit(minJ) * col("__sz") - lit(1e-9)) + 1, lit(0)).cast("int")
    val prefix = blockCol match {
      case None => slice(col("__s"), lit(1), plen)
      // element i is among its block's first plen iff the element plen
      // places earlier is absent or in another block (the list is
      // block-sorted, so each block is one contiguous run)
      case Some(b) => filter(col("__s"), (x, i) =>
        when(i < plen, lit(true))
          .otherwise(!(element_at(col("__s"), i - plen + 1).getField(b) <=> x.getField(b))))
    }
    val pref = docs.select(col("id"), explode(prefix).as("__p"))
      .select(("id" +: (blockCols :+ "h").map(c => s"__p.$c")).map(col): _*)
    val joinCond = blockCol.map(b => col(s"a.$b") === col(s"b.$b"))
      .foldLeft(col("a.h") === col("b.h") && col("a.id") < col("b.id"))(_ && _)
    val cand = pref.as("a").join(pref.as("b"), joinCond)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    verifyArrays(cand, docs.select(col("id"), col("hs")), minJ)
  }

  /** EXACT Jaccard verification of candidate pairs: join each
    * (id1, id2) candidate back to the exploded distinct element frame
    * `e` (id, h), count the intersection, and keep pairs with
    * jaccard ≥ minJ. The verify tail every candidate generator
    * composes with — a full-recall generator at θ (prefix filter)
    * yields the globally exact pair set, a lossy one (LSH banding)
    * yields exact-on-candidates semantics. Scale: shuffles only
    * candidate ids and their element rows, never the corpus, and the
    * per-pair cost is one hash-join probe per shared element.
    * Output: (id1, id2, jaccard).
    */
  def verifyJaccard(cand: DataFrame, e: DataFrame, minJ: Double): DataFrame =
    verifyArrays(cand, e.groupBy(col("id")).agg(collect_set(col("h")).as("hs")), minJ)

  /** [[verifyJaccard]] over per-document distinct element arrays
    * `docs` (id, hs). Packing each doc's set into ONE row (r17) turns
    * the verify into two candidate-sized hash joins plus a map-side
    * array_intersect — the earlier form joined every candidate to all
    * of id1's element rows (22M rows for 447k candidates at sf0.1,
    * 8-11 s) and shuffled them twice. The inter ≥ 1 guard keeps the
    * groupBy semantics: a zero-overlap pair produces no row, even at
    * minJ ≤ 0.
    */
  private def verifyArrays(cand: DataFrame, docs: DataFrame, minJ: Double): DataFrame =
    cand.select(col("id1"), col("id2"))
      .join(docs.select(col("id").as("id1"), col("hs").as("h1")), Seq("id1"))
      .join(docs.select(col("id").as("id2"), col("hs").as("h2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("h1"), col("h2"))).cast("long").as("inter"),
        size(col("h1")).cast("long").as("s1"),
        size(col("h2")).cast("long").as("s2"))
      .withColumn("jaccard", col("inter") / (col("s1") + col("s2") - col("inter")))
      .filter(col("inter") >= 1 && col("jaccard") >= minJ)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** EDIT-DISTANCE verify of an EXTERNAL candidate pair frame (id1,
    * id2) — any full-recall candidate generator composes here, same
    * contract as [[verifyJaccard]]; the gated query rides the memoized
    * prefix-filtered 3-shingle pair substrate (QShared.dedupPairs3)
    * instead of re-running pair generation. The character-level dedup
    * modality the shingle family is blind INSIDE of: token-level
    * Jaccard treats re-spellings ("colour"→"color"), OCR confusions
    * and small in-word edits as wholly different tokens (every
    * k-shingle containing the edited word breaks), while Levenshtein
    * prices them as the few character operations they are — the
    * near-dup detector for short/templated text where a handful of
    * character edits IS the difference. Candidates come from a
    * Jaccard kernel at a LOOSE threshold (near-identical texts keep
    * most shingles, so real edit-pairs survive a low bar easily); a
    * length-difference pre-filter drops pairs that cannot pass
    * (dist ≥ |L1−L2|, so |L1−L2| > maxNed·max ⇒ raw ned > maxNed)
    * BEFORE any O(L²) work, and exact Levenshtein verifies the
    * survivors. ned = dist/max(L1, L2), rounded to 6 dp BEFORE the
    * threshold compare (the engine-independent-boundary device); two
    * empty texts define ned = 0. Boundary fine print: the pre-filter
    * compares the RAW ratio while the final compare uses the ROUNDED
    * ned, so a pair whose raw ned exceeds maxNed by < 5e-7 (texts in
    * the megabyte range) is pre-filtered even though the rounded
    * compare would have admitted it — the SQL oracle applies the
    * identical pre-filter, so the two engines always agree.
    *
    * Scale: candidate volume is the prefix kernel's (bounded,
    * plan-audited elsewhere); the verify runs Ukkonen's banded
    * k-limited DP — O(k·L) per surviving pair with
    * k = ⌈(maxNed+5e-7)·max(L1,L2)⌉+1, via Spark's threshold-limited
    * levenshtein driven with a per-row bound
    * ([[graft.functions.BoundedLevenshtein]]) — not the full O(L²)
    * table; a pair whose true distance exceeds k returns -1 and is
    * dropped, which is exactly the set the rounded-ned compare would
    * have dropped AT ANY TEXT LENGTH: the 6-dp rounded compare admits
    * dist up to mx·(maxNed + 5e-7), and the band carries that half-ulp
    * term explicitly (ADVICE r13 — the earlier ⌈maxNed·mx⌉+1 band was
    * only equivalent below ~2·10⁶ chars, where 1/mx > 5e-7 kept the
    * +1 slack outside the rounding window; the precondition is now
    * arithmetic, not documentation). The DuckDB oracle's full DP
    * agrees pair-for-pair, and the parity spec asserts it against the
    * unbounded form on the real corpus. Both engines' kept rows carry
    * identical integer distances.
    * Output: (id1, id2, dist, ned), ned ≤ maxNed.
    */
  def editVerify(
      cand: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      maxNed: Double): DataFrame = {
    val t = docs.select(col(idCol), col(textCol))
    cand.select(col("id1"), col("id2"))
      .join(t.select(col(idCol).as("id1"), col(textCol).as("t1"),
        length(col(textCol)).as("l1")), Seq("id1"))
      .join(t.select(col(idCol).as("id2"), col(textCol).as("t2"),
        length(col(textCol)).as("l2")), Seq("id2"))
      .withColumn("mx", greatest(col("l1"), col("l2")))
      .filter(abs(col("l1") - col("l2")) <= col("mx") * lit(maxNed))
      // banded k-limited DP, k per pair (see the scaladoc): the
      // +5e-7 carries the 6-dp rounding half-ulp so the band is exact
      // at any text length, and -1 = distance provably > k = provably
      // over maxNed → dropped
      .withColumn("dist", graft.functions.BoundedLevenshtein(
        col("t1"), col("t2"), ceil(col("mx") * lit(maxNed + 5e-7)) + lit(1)))
      .withColumn("ned", when(col("mx") === 0, lit(0.0))
        .otherwise(round(col("dist") / col("mx"), 6)))
      .filter(col("dist") >= 0 && col("ned") <= maxNed)
      .select(col("id1"), col("id2"), col("dist"), col("ned"))
  }

  /** WEIGHTED (multiset) Jaccard verify over an external candidate
    * pair frame — the token-frequency-aware grade the set-based family
    * is blind to: set Jaccard treats "spam spam spam spam ham" and
    * "spam ham" as identical ({spam, ham} both), while the multiset
    * form J_w(a,b) = Σ_t min(c_a(t), c_b(t)) / Σ_t max(c_a(t), c_b(t))
    * prices repetition — the dedup-grading signal for boilerplate/
    * template text where COUNTS are the difference (and the exact
    * quantity Ioffe's weighted MinHash estimates at sketch scale).
    *
    * Shape: per-doc token counts (one partial-agged groupBy), then the
    * candidate-scoped union trick — each pair's two count vectors meet
    * as (id1, id2, tok, ca, cb) rows built from ONE union + ONE
    * composite-key groupBy (no full-outer join), and Σmin/Σmax
    * partial-aggs map-side. Everything after the candidate join is
    * proportional to candidate-pair vocabulary, never corpus² —
    * composes with any full-recall generator ([[jaccardPairsPrefix]],
    * LSH funnels) exactly like [[verifyJaccard]]/[[editVerify]].
    * Output: (id1, id2, jw) with jw rounded to 6 dp, jw ≥ minJw.
    */
  def weightedJaccardVerify(
      cand: DataFrame, docs: DataFrame, idCol: String, toksCol: String,
      minJw: Double = 0.0): DataFrame = {
    val counts = docs
      .select(col(idCol).as("id"), explode(col(toksCol)).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
    val p = cand.select(col("id1"), col("id2"))
    val a = p.join(counts.select(col("id").as("id1"), col("tok"),
      col("c").as("ca")), Seq("id1"))
      .select(col("id1"), col("id2"), col("tok"), col("ca"), lit(0L).as("cb"))
    val b = p.join(counts.select(col("id").as("id2"), col("tok"),
      col("c").as("cb")), Seq("id2"))
      .select(col("id1"), col("id2"), col("tok"), lit(0L).as("ca"), col("cb"))
    a.unionByName(b)
      .groupBy(col("id1"), col("id2"), col("tok"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .groupBy(col("id1"), col("id2"))
      .agg(round(sum(least(col("ca"), col("cb"))) /
        sum(greatest(col("ca"), col("cb"))), 6).as("jw"))
      .filter(col("jw") >= minJw)
  }

  /** Exact REAL-weighted Jaccard verify — [[weightedJaccardVerify]]
    * generalized from integer counts to an arbitrary positive real
    * weight frame `weights` = (id, tok, w) (tf-idf, BM25, learned
    * term weights): J_w(a,b) = Σ_t min(w_a(t), w_b(t)) /
    * Σ_t max(w_a(t), w_b(t)). This is the exact quantity Ioffe's
    * consistent weighted sampling ([[cwsSigRows]]) estimates at sketch
    * scale, and the calibration target of q_cws_err.
    *
    * Same candidate-scoped union-trick shape as the integer form: one
    * union + one composite-key groupBy, Σmin/Σmax partial-agged —
    * everything after the candidate join is proportional to
    * candidate-pair vocabulary, never corpus². Weights are fixed-point
    * quantized to 1e-9 on entry and Σmin/Σmax accumulate as EXACT
    * longs (weights must be < ~9.2e9): like the integer form, the
    * ratio is then a pure function of the weight table, independent of
    * summation order across engines/partitionings — a raw double sum
    * can land on a 6-dp rounding half-boundary and flip (the
    * q_nb_quality sf0.1 episode). Output: (id1, id2, jw) rounded 6 dp,
    * jw ≥ minJw.
    */
  def weightedJaccardVerifyReal(
      cand: DataFrame, weights: DataFrame, minJw: Double = 0.0): DataFrame = {
    val p = cand.select(col("id1"), col("id2"))
    val w9 = weights.select(col("id"), col("tok"),
      round(col("w") * lit(1e9), 0).cast("long").as("w9"))
    val a = p.join(w9.select(col("id").as("id1"), col("tok"),
      col("w9").as("wa")), Seq("id1"))
      .select(col("id1"), col("id2"), col("tok"), col("wa"), lit(0L).as("wb"))
    val b = p.join(w9.select(col("id").as("id2"), col("tok"),
      col("w9").as("wb")), Seq("id2"))
      .select(col("id1"), col("id2"), col("tok"), lit(0L).as("wa"), col("wb"))
    a.unionByName(b)
      .groupBy(col("id1"), col("id2"), col("tok"))
      .agg(sum(col("wa")).as("wa"), sum(col("wb")).as("wb"))
      .groupBy(col("id1"), col("id2"))
      .agg(round(sum(least(col("wa"), col("wb"))) /
        sum(greatest(col("wa"), col("wb"))), 6).as("jw"))
      .filter(col("jw") >= minJw)
  }

  /** Consistent Weighted Sampling signatures (Ioffe, ICDM 2010,
    * "Improved Consistent Sampling, Weighted Minhash and L1 Sketching")
    * — the REAL-valued weighted MinHash: for every (element t, hash j)
    * draw r,c ~ Gamma(2,1) and β ~ Uniform(0,1) as pure functions of
    * (t, j, salt), then
    *
    *   t_j = ⌊ln w_t / r + β⌋,  ln a = ln c − r·(t_j + 1 − β),
    *
    * and the sample for hash j is the element minimizing ln a; two
    * documents pick the same (t, t_j) with probability EXACTLY
    * J_w(a,b) = Σmin(w)/Σmax(w) over their real weight vectors — the
    * quantity [[weightedJaccardVerifyReal]] computes exactly. (The r13
    * integer-count estimator reaches the same target via occurrence
    * expansion; CWS handles tf-idf-style REAL weights, closing VERDICT
    * r13 #4.)
    *
    * Engine portability (the md5-portable twin discipline, SURVEY
    * §7.6): uniforms are exact rationals (md5₃₂ + 0.5)/2³², Gamma(2,1)
    * = −ln(u·u′), and every libm-dependent intermediate (r, ln c,
    * ln w) is rounded to 9 dp the moment it is produced — after that,
    * t_j and ln a are pure IEEE arithmetic on identical doubles, so
    * the argmin row is bit-identical in any engine (the chain-rounding
    * device the PCA oracles use). The argmin itself is
    * `min(struct(lna, th, tj))` — lexicographic struct ordering, ties
    * broken by element hash, portable to DuckDB's struct `min`.
    *
    * Scale: one explode to numHashes rows per (doc, element), then ONE
    * (id, j) groupBy whose min-struct aggregate partial-aggs map-side
    * — shuffle volume is n_docs·numHashes rows, independent of
    * vocabulary. Output: (id, j, th, tj) sample rows — join two docs
    * on j and count (th, tj) matches to estimate J_w.
    *
    * @param weights (id, tok, w) with w > 0 (zero/negative-weight
    *                elements must be filtered upstream; ln w)
    */
  def cwsSigRows(
      weights: DataFrame, numHashes: Int, salt: String = "cws"): DataFrame = {
    require(numHashes >= 1)
    def u(tag: String): Column =
      (conv(substring(md5(concat_ws("|", col("tok"), col("j").cast("string"),
        lit(s"$salt:$tag"))), 1, 8), 16, 10).cast("double") + lit(0.5)) /
        lit(4294967296.0)
    weights
      .select(col("id"), col("tok"), col("w"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("j"))
      // r rounds to 0 only when u1·u2 ≈ 1 (p ≈ 1e-10); the floor keeps
      // the division defined and is identically applied in the oracle
      .withColumn("r", greatest(round(-log(u("r1") * u("r2")), 9),
        lit(1e-9)))
      .withColumn("lnc", round(log(-log(u("c1") * u("c2"))), 9))
      .withColumn("b", u("b"))
      .withColumn("lnw", round(log(col("w")), 9))
      .withColumn("tj",
        floor(col("lnw") / col("r") + col("b")).cast("long"))
      .withColumn("lna",
        col("lnc") - col("r") * (col("tj") + lit(1.0) - col("b")))
      .withColumn("th",
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .groupBy(col("id"), col("j"))
      .agg(min(struct(col("lna"), col("th"), col("tj"))).as("s"))
      .select(col("id"), col("j"),
        col("s.th").as("th"), col("s.tj").as("tj"))
  }

  /** Cross-corpus near-duplicate retrieval (R-S Jaccard join): corpus
    * documents with Jaccard ≥ minJ against ANY document of a reference
    * set — the near-dup generalization of exact-match decontamination
    * ([[contaminationHits]] catches verbatim gram overlap; an eval item
    * lightly paraphrased or re-punctuated still slips through it but is
    * caught here), and equally the "find what we already have" probe
    * for incremental corpus growth. Inputs are the two exploded
    * distinct element frames (id, h) — [[shingleHashes]] output — with
    * DISJOINT id spaces not required (matching ids are still compared).
    * Output: (cid, eid, jaccard), exact.
    *
    * Scale: the reference side is an eval suite or prior-snapshot
    * index — tiny against a 100 TB corpus — so its element frame and
    * its size table both broadcast: the corpus stream is probed
    * map-side and only MATCHING (cid, eid) rows shuffle into the
    * intersection count (a vanishing fraction). The corpus size table
    * joins the aggregate, never the stream.
    */
  def crossJaccardPairs(
      corpusE: DataFrame, refE: DataFrame, minJ: Double): DataFrame = {
    val cSizes = corpusE.groupBy(col("id")).agg(count(lit(1)).as("c_sz"))
    val eSizes = refE.groupBy(col("id")).agg(count(lit(1)).as("e_sz"))
    corpusE.select(col("id").as("cid"), col("h"))
      .join(broadcast(refE.select(col("id").as("eid"), col("h"))), Seq("h"))
      .groupBy(col("cid"), col("eid")).agg(count(lit(1)).as("inter"))
      .join(cSizes.withColumnRenamed("id", "cid"), "cid")
      .join(broadcast(eSizes.withColumnRenamed("id", "eid")), "eid")
      .withColumn("jaccard",
        col("inter") / (col("c_sz") + col("e_sz") - col("inter")))
      .filter(col("jaccard") >= minJ)
      .select(col("cid"), col("eid"), col("jaccard"))
  }

  /** Self-join-free variant of [[jaccardPairsFromHashes]]: group ids
    * per shingle bucket and emit ordered pairs by in-bucket
    * combination. One aggregation + one explode replaces the self-join,
    * and the expensive shingle subtree is evaluated twice (buckets,
    * sizes) instead of three times. `maxBucket` drops pathological
    * buckets exactly like [[lshCandidates]] — at 100 TB a shingle
    * shared by 1e6 docs must be dropped or df-filtered either way, or
    * the pair space itself is the bottleneck.
    */
  def jaccardPairsBucketed(
      e: DataFrame, minJ: Double, maxBucket: Int = 1000): DataFrame = {
    val sizes = e.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val n = size(col("ids"))
    // Two-level explode: element i pairs with its suffix, so the largest
    // intermediate value is one ≤ maxBucket-element array — never the
    // full n(n−1)/2 pair array in a single row (an executor OOM at the
    // old maxBucket=10000 default: ~5·10⁷ structs in one value).
    val pairs = e.groupBy(col("h")).agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(n.between(2, maxBucket))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id1")))
      .select(col("id1"),
        explode(slice(col("ids"), col("i") + lit(2), n - col("i") - lit(1))).as("id2"))
    pairs.groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "s1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "s2"), "id2")
      .withColumn("jaccard", col("inter") / (col("s1") + col("s2") - col("inter")))
      .filter(col("jaccard") >= minJ)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** CONTAINMENT near-dup pairs (Broder's containment — the quote /
    * sub-document signal Jaccard misses): for pairs sharing ≥1 shingle,
    * containment = |A∩B| / min(|A|,|B|), i.e. how fully the smaller
    * doc's shingle set lies inside the larger, kept at ≥ minC. A
    * 50-token quote embedded in a 5000-token article scores ≈1.0 here
    * but ≈0.01 Jaccard — this is the embedded-duplication detector.
    * Pair-gen is the same bucketed in-bucket suffix-explode as
    * [[jaccardPairsBucketed]] (hot buckets capped: the identical
    * 100 TB argument — a corpus-wide boilerplate shingle must be
    * dropped or the pair space itself is the bottleneck).
    * Output: (id1, id2, containment).
    */
  def containmentPairs(
      e: DataFrame, minC: Double, maxBucket: Int = 1000): DataFrame = {
    val sizes = e.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val n = size(col("ids"))
    val pairs = e.groupBy(col("h")).agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(n.between(2, maxBucket))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id1")))
      .select(col("id1"),
        explode(slice(col("ids"), col("i") + lit(2), n - col("i") - lit(1))).as("id2"))
    pairs.groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "s1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "s2"), "id2")
      .withColumn("containment", col("inter") / least(col("s1"), col("s2")))
      .filter(col("containment") >= minC)
      .select(col("id1"), col("id2"), col("containment"))
  }

  /** Seeded universal-hash parameters for MinHash: (a, b) pairs mod a
    * Mersenne prime. Deterministic for a seed.
    */
  private[graft] def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((rnd.nextInt(MinhashPrime.toInt - 1).toLong + 1L,
      rnd.nextInt(MinhashPrime.toInt).toLong))
  }
  val MinhashPrime: Long = (1L << 31) - 1  // 2^31-1, Mersenne

  /** MinHash from pre-exploded shingle hashes (the [[shingleHashes]]
    * form): h_j = (a_j·x + b_j) mod p minimized per doc, one wide
    * groupBy with map-side partial min.
    */
  def minhashFromHashes(
      e: DataFrame, numHashes: Int = 128, seed: Long = 42L): DataFrame = {
    val x = pmod(col("h"), lit(MinhashPrime))
    val mins = hashParams(numHashes, seed).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(lit(a) * x + lit(b), lit(MinhashPrime))).as(s"h$j")
    }
    e.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** MinHash signature straight from a per-doc shingle-hash ARRAY column
    * via the fused [[graft.functions.MinHashSigs]] codegen expression —
    * no explode, no distinct shuffle, no numHashes-column aggregate.
    * Same universal-hash family (and bit-identical output) as
    * [[minhashFromHashes]]; a min is multiplicity-blind, so the dedup
    * the agg path needs contributes nothing. Docs with empty shingle
    * arrays get a null signature (filter before banding), matching the
    * groupBy form where they simply have no row.
    */
  def minhashSigsCol(hashes: Column, numHashes: Int = 128, seed: Long = 42L): Column = {
    val ps = hashParams(numHashes, seed)
    graft.functions.MinHashSigs.minhash_sigs(hashes, ps.map(_._1), ps.map(_._2), MinhashPrime)
  }

  /** MinHash signatures (id, sig) from a per-doc hash-ARRAY frame
    * (id, hs) — the [[minhashSigsCol]] form of [[minhashFromHashes]]
    * (bit-identical signatures): one narrow pass, no shuffle. Docs
    * with no element are dropped, as the exploded form has no row for
    * them; the filter tests the array, not the signature — a filter on
    * `sig IS NOT NULL` is pushed below the projection and evaluates the
    * O(|hs|·numHashes) expression a second time per row.
    */
  def minhashFromArrays(
      arrays: DataFrame, numHashes: Int = 128, seed: Long = 42L): DataFrame =
    arrays.filter(size(col("hs")) > 0)
      .select(col("id"), minhashSigsCol(col("hs"), numHashes, seed).as("sig"))

  /** LSH banding: split the signature into `bands` bands of
    * numHashes/bands rows, hash each band ([[graft.functions.BandHashes]]
    * — one fused codegen pass; the earlier interpreted
    * transform/slice/concat_ws formulation was the measured-6×-slower
    * lambda-HOF tax), and emit candidate pairs sharing any band bucket.
    * `maxBucket` drops pathological buckets (every-doc-identical
    * boilerplate) before the quadratic pair step.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, maxBucket: Int = 1000): DataFrame = {
    val buckets = sigs
      .select(col("id"),
        posexplode(graft.functions.BandHashes.band_hashes(col("sig"), bands))
          .as(Seq("band", "bh")))
    // In-bucket suffix-pair explode (r17, the [[jaccardPairsBucketed]]
    // device): the previous form window-counted bucket sizes and then
    // SELF-JOINED the derivation on (band, bh) — the signature pipeline
    // feeding `sigs` is an unmaterialized subtree, no ReusedExchange
    // fires across the join's two sides (plan-checked), so the
    // O(shingles·numHashes) signature work was planned and computed
    // TWICE per run. One groupBy collects each bucket once (the size
    // gate replaces the window — an id appears at most once per
    // (band, bh), so group size == the old window count), pairs explode
    // bucket-locally with the bounded suffix device, and the signatures
    // are computed exactly once. Same pair set: sort_array + suffix
    // slice emits each unordered in-bucket pair once with id1 < id2.
    val n = size(col("ids"))
    buckets.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(n.between(2, maxBucket))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id1")))
      .select(col("id1"),
        explode(slice(col("ids"), col("i") + lit(2), n - col("i") - lit(1))).as("id2"))
      .distinct()
  }

  /** Cross-engine-verifiable MinHash+LSH candidates: the same
    * signature→band→bucket-join pipeline as [[minhashFromHashes]] +
    * [[lshCandidates]], but every step is portable SQL — base hash =
    * the first 8 hex digits of md5(shingle) (not Spark-private
    * murmur3/xxhash64), band keys = joined decimal strings (not
    * XXH64). That lets a second engine reproduce the candidate set
    * bit-for-bit, so the WHOLE LSH pipeline gets a value-level oracle
    * (q_minhash_lsh_md5) — closing the only verification gap the
    * production path necessarily has (its engine hashes are
    * rows-only + invariant-swept). md5 costs ~10× murmur per shingle
    * and string bands allocate — this is the correctness witness, not
    * the scale path; run the xxhash64/[[graft.functions.BandHashes]]
    * pipeline on real corpora.
    */
  def minhashPairsPortable(
      docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val e = docs
      .select(col(idCol).as("id"), explode(col(shinglesCol)).as("w"))
      .select(col("id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
    val sigs = minhashFromHashes(e, numHashes, seed)
    val bandCol = transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        concat_ws("_", transform(
          slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)),
          _.cast("string"))).as("bh")))
    // localCheckpoint (r17): the self-join's two sides are the SAME
    // unmaterialized derivation — unpinned, the md5 hashing + 16-min
    // signature aggregate ran twice (no ReusedExchange fires across a
    // self-join's sides). One bands×docs row frame, tiny for the
    // ≤500-doc witnesses this portable path serves.
    val buckets = sigs.select(col("id"), explode(bandCol).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
      .localCheckpoint()
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Duplicate-cluster resolution: connected components over near-dup
    * pairs. `pairs` is any pair generator's output ((id1, id2) +
    * anything else); returns (id, rep) — same type as the input ids —
    * once for every id that appears in a pair, where `rep` is the
    * smallest id in its component: the canonical member
    * [[dropClusterDuplicates]] keeps. Transitivity matters: A≈B and
    * B≈C must collapse to ONE survivor even when A≉C directly, which
    * pair-level dedup gets wrong. Rows with a null id and self-loops
    * contribute nothing; duplicate and reversed edges are harmless.
    *
    * One pass: the edges move onto one task (`repartition(1)`, not
    * `coalesce(1)` — coalesce would pull the upstream pair generator
    * into that single task too; the shuffle keeps it parallel) and
    * stream once through a union-find that always keeps the smaller
    * root, so every root is its component's minimum id. Edges are
    * never collected to the driver and never pinned; the task's memory
    * is one parent entry per clustered id. Near-dup edges are orders
    * of magnitude fewer than documents; past what one task's heap
    * holds, a distributed large-star/small-star loop (Kiveris et al.,
    * SoCC'14) is the fallback, at O(log n) shuffle rounds.
    */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .filter(col("id1").isNotNull && col("id2").isNotNull && col("id1") =!= col("id2"))
      // greatest/least only widen mixed id types to one
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
    val dt = edges.schema("u").dataType
    val out = StructType(Seq(StructField("id", dt, nullable = false),
      StructField("rep", dt, nullable = false)))
    edges.repartition(1).mapPartitions(unionFind(dt))(Encoders.row(out))
  }

  /** Streams (u, v) edges through a union-find whose roots are always
    * the smaller id (Spark's ordering for `dt`, path halving on find);
    * emits (x, root of x) for every id seen. */
  private def unionFind(dt: DataType)(edges: Iterator[Row]): Iterator[Row] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var a = x
      var p = parent.get(a)
      while (p != a) {
        val g = parent.get(p)
        parent.put(a, g)
        a = g
        p = parent.get(a)
      }
      a
    }
    edges.foreach { r =>
      val (u, v) = (r.get(0), r.get(1))
      parent.putIfAbsent(u, u)
      parent.putIfAbsent(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (ord.lt(toCatalyst(ru), toCatalyst(rv))) parent.put(rv, ru)
        else parent.put(ru, rv)
      }
    }
    parent.keySet.toArray.iterator.map(x => Row(x, find(x)))
  }

  /** Keep one document per duplicate cluster (the representative) plus
    * every unclustered document: anti-join against the non-rep members.
    */
  def dropClusterDuplicates(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("id") =!= col("rep")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Cluster canonicalization by QUALITY instead of min-id: keep, per
    * duplicate cluster, the member with the highest `scoreCol` (ties →
    * smallest id), plus every unclustered document. The training-data
    * variant of [[dropClusterDuplicates]] — when near-dups differ in
    * quality (a clean article vs its boilerplate-wrapped mirror), the
    * survivor should be the best copy, not the numerically-smallest id.
    *
    * Scale: one broadcast-able join against the cluster labels (pairs
    * are tiny vs the corpus) and a window partitioned by
    * coalesce(rep, id) — clustered docs group by cluster, unclustered
    * docs (the vast majority of a corpus) form SINGLETON partitions, so
    * no partition ever exceeds the largest near-dup cluster. (A window
    * partitioned by bare `rep` would put every unclustered doc into one
    * rep-IS-NULL partition — a near-whole-corpus single-partition sort.)
    */
  def dropClusterDuplicatesBy(
      docs: DataFrame, idCol: String, scoreCol: String, clusters: DataFrame): DataFrame = {
    val labeled = docs.join(
      clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(coalesce(col("rep"), col(idCol)))
      .orderBy(col(scoreCol).desc, col(idCol))
    labeled
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "rep")
  }

  /** The (id, s, h) k-gram position stream every span-dedup operator
    * starts from: one row per 1-based window start `s` with the md5 of
    * the k tokens at [s, s+k) (32-hex string — the cross-engine oracle
    * witness, like [[minhashPairsPortable]]; a gram collision would
    * only over-scrub one span).
    */
  private def gramStream(
      docs: DataFrame, idCol: String, toksCol: String, k: Int): DataFrame = {
    val gramArr =
      s"""CASE WHEN size($toksCol) >= $k
         | THEN transform(sequence(1, size($toksCol) - ${k - 1}),
         |        i -> md5(array_join(slice($toksCol, i, $k), ' ')))
         | ELSE array() END""".stripMargin
    docs
      .select(col(idCol), posexplode(expr(gramArr)).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("s"), col("h"))
  }

  /** Duplicated-span scrubbing — ExactSubstr-lite (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499; the substring-level counterpart to document
    * dedup, RefinedWeb's boilerplate-removal step): drop every token
    * covered by a k-token span occurring in ≥ `minDocs` distinct
    * documents. Returns (idCol, cleaned, n_removed) — cleaned is the
    * surviving tokens re-joined, order preserved.
    *
    * Scale: the gram table is corpus-token-sized but only
    * (id, start, hash) wide; after the HAVING the hot-gram set is
    * boilerplate-only (tiny → the back-join broadcasts); the cover
    * mask is evaluated map-side with array HOFs over each doc's own
    * hot-start list. Two shuffles total (gram count, per-doc start
    * lists) at any corpus size — never a self-join.
    */
  def scrubHotSpans(
      docs: DataFrame, idCol: String, toksCol: String,
      k: Int, minDocs: Long): DataFrame = {
    val grams = gramStream(docs, idCol, toksCol, k)
    val hot = grams.groupBy("h").agg(countDistinct(idCol).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    // both joins broadcast the hot side explicitly (PlanAuditSpec
    // asserts the q_span_scrub plan is SortMergeJoin-free): the
    // ≥minDocs HAVING makes the hot-gram set boilerplate-only — tiny
    // at any corpus size. The dedup family whose duplicated set is NOT
    // tiny is [[scrubDupSpans]], which deliberately shuffles instead.
    val hotStarts = grams.join(broadcast(hot), "h")
      .groupBy(idCol).agg(collect_list("s").as("starts"))
    // the hint is explicit, not AQE-dependent: with a ≥minDocs HAVING the
    // hot set is boilerplate-only, so the per-doc start lists are tiny —
    // a skewed corpus where that stops holding should use the ≥2-occurrence
    // [[scrubDupSpans]] whose back-join deliberately shuffles instead
    docs.join(broadcast(hotStarts), Seq(idCol), "left")
      .withColumn("starts", coalesce(col("starts"), expr("cast(array() as array<int>)")))
      // fused codegen sweep (O(n + m log m)) instead of the interpreted
      // filter/exists HOF pair (O(n·m)); identical kept set
      .withColumn("kept",
        graft.functions.SpanCoverMask.span_kept(col(toksCol), col("starts"), k))
      .select(col(idCol),
        array_join(col("kept"), " ").as("cleaned"),
        (size(col(toksCol)) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Intra-document repeated-span removal — the within-doc case of
    * ExactSubstr dedup (Lee et al. arXiv:2107.06499): every token
    * covered by a k-token span that already occurred EARLIER in the
    * same document is dropped (first occurrence survives). Catches
    * self-repetitive generation/boilerplate loops that corpus-level
    * stats only flag, not fix.
    *
    * Scale: ZERO shuffles — grams, duplicate starts (array_position
    * finds each gram's first occurrence) and the cover mask are all
    * array HOFs inside one projection, embarrassingly parallel at any
    * corpus size. Per-doc cost is O(g²) in gram count (array_position
    * scan per gram) — bounded by document length, not corpus size.
    */
  def scrubRepeatedSpans(
      docs: DataFrame, idCol: String, toksCol: String, k: Int): DataFrame = {
    val gramArr =
      s"""CASE WHEN size($toksCol) >= $k
         | THEN transform(sequence(1, size($toksCol) - ${k - 1}),
         |        i -> md5(array_join(slice($toksCol, i, $k), ' ')))
         | ELSE array() END""".stripMargin
    docs
      .withColumn("grams", expr(gramArr))
      .withColumn("dup_starts", expr(
        // guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, and
        // ANSI element_at would throw on the empty gram array
        """CASE WHEN size(grams) = 0 THEN cast(array() as array<int>)
          | ELSE filter(sequence(1, size(grams)),
          |        s -> array_position(grams, element_at(grams, s)) < s) END""".stripMargin))
      // same fused codegen sweep as scrubHotSpans — identical kept set
      .withColumn("kept",
        graft.functions.SpanCoverMask.span_kept(col(toksCol), col("dup_starts"), k))
      .select(col(idCol),
        array_join(col("kept"), " ").as("cleaned"),
        (size(col(toksCol)) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** TRUE ExactSubstr duplicated-span scrubbing (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §3): drop every token lying inside ANY duplicated
    * substring of length ≥ `minLen` tokens — variable-length spans,
    * occurrence threshold 2, closing the two gaps of the
    * [[scrubHotSpans]] approximation (fixed span length, ≥minDocs
    * popularity: a 200-token block shared by just 2 docs passes
    * [[scrubHotSpans]] untouched and is fully scrubbed here).
    *
    * The paper builds a suffix array; for COVERAGE purposes that
    * reduces to minLen-gram duplication: a position lies inside a
    * duplicated substring of length ≥ L iff it lies inside some
    * L-window whose content occurs ≥ `minOcc` times corpus-wide —
    * every duplicated span of length ≥ L is a union of duplicated
    * L-windows (align the two occurrences window by window), and every
    * duplicated L-window is itself a duplicated span. The kept-token
    * set therefore equals the suffix-array algorithm's exactly,
    * computed as one sorted-gram self-count. Occurrences are counted
    * by POSITION across the whole corpus (another doc, or elsewhere —
    * even overlapping — in the same doc), matching the paper.
    *
    * Scale: the gram table is corpus-token-sized but (id, int, hash)
    * narrow; unlike [[scrubHotSpans]]'s boilerplate-only hot set, the
    * duplicated-gram set is NOT assumed tiny, so the back-join is a
    * plain hash-shuffle on doc id (no broadcast assumption). Two
    * shuffles (gram count, per-doc start lists) at any corpus size —
    * never a self-join. The cover sweep is the same O(n + m log m)
    * [[graft.functions.SpanCoverMask]] codegen kernel.
    */
  def scrubDupSpans(
      docs: DataFrame, idCol: String, toksCol: String,
      minLen: Int, minOcc: Long = 2L): DataFrame = {
    val grams = gramStream(docs, idCol, toksCol, minLen)
    val dup = grams.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minOcc).select("h")
    val dupStarts = grams.join(dup, "h")
      .groupBy(idCol).agg(collect_list("s").as("starts"))
    docs.join(dupStarts, Seq(idCol), "left")
      .withColumn("starts", coalesce(col("starts"), expr("cast(array() as array<int>)")))
      .withColumn("kept",
        graft.functions.SpanCoverMask.span_kept(col(toksCol), col("starts"), minLen))
      .select(col(idCol),
        array_join(col("kept"), " ").as("cleaned"),
        (size(col(toksCol)) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Maximal duplicated-coverage intervals as explicit spans
    * (id, start, len) — the audit/report twin of [[scrubDupSpans]]:
    * merge the duplicated minLen-window starts into maximal contiguous
    * covered intervals per document. `start` is 1-based, `len` in
    * tokens; every emitted span is ≥ minLen long, every token inside
    * it is covered by a duplicated substring, and the union of the
    * spans is exactly what [[scrubDupSpans]] removes.
    *
    * All windows share one constant length L, so coverage ends are
    * monotone in the sorted starts and the classic max-prev-end
    * gaps-and-islands window reduces to an ADJACENT-GAP test: a start
    * opens a new interval iff it exceeds its predecessor by more than
    * L. That turns the per-doc WindowExec (exchange + sort) the first
    * formulation paid — measured ~1.6 s of q_span_dups' 1.85 s at
    * sf0.1 — into array expressions inside the same per-doc groupBy
    * the scrub already does: same two shuffles as [[scrubDupSpans]],
    * no window, no extra exchange. Island count per doc is bounded by
    * document length, never corpus-wide.
    */
  def dupSpans(
      docs: DataFrame, idCol: String, toksCol: String,
      minLen: Int, minOcc: Long = 2L): DataFrame = {
    val grams = gramStream(docs, idCol, toksCol, minLen)
    val dup = grams.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minOcc).select("h")
    val perDoc = grams.join(dup, "h")
      .groupBy(idCol).agg(sort_array(collect_list(col("s"))).as("ss"))
    // heads = 1-based positions in ss that open an interval; interval j
    // runs from ss[heads[j]] to ss[heads[j+1] - 1] + L - 1 (last island
    // extends to the final start). IF/OR short-circuit guards the
    // ANSI element_at(ss, 0) edge at i = 1 / j = size(heads).
    perDoc
      .withColumn("__heads", expr(
        s"""filter(sequence(1, size(ss)),
           | i -> i = 1 OR element_at(ss, i) > element_at(ss, i - 1) + $minLen)""".stripMargin))
      .select(col(idCol), expr(
        s"""explode(transform(sequence(1, size(__heads)), j -> named_struct(
           |  'start', element_at(ss, element_at(__heads, j)),
           |  'last', element_at(ss, IF(j = size(__heads), size(ss),
           |                            element_at(__heads, j + 1) - 1)))))""".stripMargin)
        .as("sp"))
      .select(col(idCol),
        col("sp.start").cast("int").as("start"),
        (col("sp.last") - col("sp.start") + lit(minLen)).cast("int").as("len"))
  }

  /** CROSS-document long-substring dedup (the ExactSubstr class of
    * Lee et al. arXiv:2107.06499 applied corpus-wide — the
    * memorization driver the substring-dedup literature targets):
    * find every maximal token span duplicated VERBATIM across ≥
    * `minDocs` distinct documents, as (idCol, start, len, ndocs) with
    * 1-based `start`, `len` in tokens, and `ndocs` = the smallest
    * distinct-document count among the span's k-grams (the weakest
    * link — every k-window inside the span occurs in ≥ ndocs docs).
    * A planted passage of length L ≥ k shared by M docs surfaces in
    * each of them as one span of exactly length L (spec-witnessed);
    * [[dupSpans]] is the within-corpus ≥minOcc OCCURRENCE variant,
    * this is the ≥minDocs DOCUMENT variant with per-span evidence.
    *
    * Shape: sorted-shingle runs — the [[gramStream]] k-gram position
    * stream, one groupBy(h) with countDistinct(id) keeps hashes in ≥
    * minDocs docs, positions join back on the hash, and ADJACENT
    * duplicated starts (gap = 1 exactly — runs, not the ≤k coverage
    * merge of [[dupSpans]]) extend into maximal spans per doc via the
    * same zero-window sorted-array islands device: heads open where
    * the predecessor start isn't s-1, per-island min(nd) folds with
    * one `aggregate` HOF over the island slice.
    *
    * Scale: two shuffles at any corpus size (gram-hash count, per-doc
    * struct lists) — never a self-join, never a WindowExec. The
    * duplicated-gram side is NOT hinted broadcast: at web scale the
    * verbatim-duplicated k-gram set is the long memorization tail,
    * not boilerplate — a shuffle join is correct at any size and AQE
    * still broadcasts when it measures small (contrast
    * [[scrubHotSpans]], whose ≥minDocs HAVING plus large k keeps that
    * set tiny by construction and hints explicitly).
    */
  def substringDups(
      docs: DataFrame, idCol: String, toksCol: String,
      k: Int, minDocs: Long): DataFrame = {
    require(k >= 1 && minDocs >= 2)
    val grams = gramStream(docs, idCol, toksCol, k)
    val dup = grams.groupBy("h").agg(countDistinct(idCol).as("nd"))
      .filter(col("nd") >= minDocs)
    val perDoc = grams.join(dup, "h")
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("s"), col("nd")))).as("a"))
    perDoc
      .withColumn("__heads", expr(
        """filter(sequence(1, size(a)),
          | i -> i = 1 OR element_at(a, i).s > element_at(a, i - 1).s + 1)""".stripMargin))
      .select(col(idCol), col("a"), expr(
        """explode(transform(sequence(1, size(__heads)), j -> named_struct(
          |  'hi', element_at(__heads, j),
          |  'li', IF(j = size(__heads), size(a), element_at(__heads, j + 1) - 1))))"""
          .stripMargin).as("ix"))
      .select(col(idCol),
        expr("element_at(a, ix.hi).s").cast("int").as("start"),
        (expr("element_at(a, ix.li).s - element_at(a, ix.hi).s") + lit(k))
          .cast("int").as("len"),
        expr(s"""aggregate(slice(a, ix.hi, ix.li - ix.hi + 1),
          | cast(9223372036854775807 as bigint),
          | (acc, x) -> least(acc, x.nd))""".stripMargin).cast("long").as("ndocs"))
  }

  /** Line-level exact dedup (the RefinedWeb/MassiveText line-dedup
    * step, Penedo et al. arXiv:2306.01116 — the document-STRUCTURE
    * counterpart of [[scrubHotSpans]]): every line occurring verbatim
    * in ≥ `minDocs` distinct documents (navigation chrome, cookie
    * banners, license footers) is removed from EVERY document, with
    * the surviving lines rejoined in order — document structure
    * preserved, boilerplate gone. "Line" = maximal `sep`-separated
    * segment (literal separator, regex-quoted); all occurrences of a
    * hot line are dropped, including repeats within one document.
    * Output: (idCol, cleaned, n_removed).
    *
    * Scale: one explode+count shuffle finds the hot-line set; by the
    * ≥minDocs threshold it is boilerplate-only (tiny), so it rides to
    * every task as ONE broadcast array row and the scrub itself is a
    * map-side array filter — the corpus never shuffles and never
    * regroups (no per-doc collect_list), the [[graft.ops.TextStats]]
    * broadcast-model shape applied to dedup.
    */
  def scrubHotLines(
      docs: DataFrame, idCol: String, textCol: String,
      sep: String, minDocs: Long): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(idCol), explode(split(col(textCol), sepRe)).as("line"))
    val hot = lines.groupBy("line").agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select("line")
    val hotArr = hot.agg(collect_list(col("line")).as("__hot"))
    docs.crossJoin(broadcast(hotArr))
      .withColumn("__parts", split(col(textCol), sepRe))
      .withColumn("__kept",
        filter(col("__parts"), l => !array_contains(col("__hot"), l)))
      .select(col(idCol),
        array_join(col("__kept"), sep).as("cleaned"),
        (size(col("__parts")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Leakage-safe train/val/test assignment: the split key is the
    * near-dup CLUSTER representative (the doc's own id when
    * unclustered), so cluster members are assigned as a unit — a
    * document can never land in train while its near-duplicate lands
    * in eval, the train-test contamination path that exact-match
    * decontamination misses. `cuts` are (name, weight) with weights
    * summing to 1; assignment buckets the first 4 hex digits of
    * `md5(salt || "_" || rep)` against cumulative hex thresholds
    * (granularity 1/65536), the same engine-portable keyed-hash
    * device as [[graft.ops.IdOps.stratifiedSampleByHash]]: pure
    * function of the key, no sampling state, reproducible anywhere.
    *
    * Scale: the broadcast side is pre-filtered to MULTI-MEMBER cluster
    * rows (id ≠ rep) — a caller may pass a labeling with one row per
    * document (e.g. a corpus-wide window output), and broadcasting
    * that unfiltered would be a corpus-sized driver collect (ADVICE
    * r7). Singleton members coalesce to their own id on the left-join
    * miss, so the result is identical and the broadcast side is only
    * the near-dup members — tiny at any corpus size. One broadcast
    * join + a map-side hash bucket; no corpus shuffle.
    */
  def splitByCluster(
      docs: DataFrame, idCol: String, clusters: DataFrame,
      cuts: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(cuts.nonEmpty && math.abs(cuts.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $cuts")
    val members = clusters.filter(col("id") =!= col("rep"))
    val labeled = docs.join(
      broadcast(members.withColumnRenamed("id", idCol)), Seq(idCol), "left")
    val key = coalesce(col("rep"), col(idCol))
    val h = substring(md5(concat_ws("_", lit(salt), key.cast("string"))), 1, 4)
    val cum = cuts.map(_._2).scanLeft(0.0)(_ + _).tail
    val assigned = cuts.init.zip(cum.init).foldRight(lit(cuts.last._1): Column) {
      case (((name, _), c), acc) =>
        when(h < lit(f"${math.floor(c * 65536).toInt}%04x"), lit(name)).otherwise(acc)
    }
    labeled.withColumn("split", assigned).drop("rep")
  }

  /** Benchmark decontamination — the eval-set-overlap filter every LLM
    * training pipeline needs: a corpus document is contaminated when it
    * shares ≥1 length-n token shingle with any benchmark/eval document.
    * Both gram columns must be ARRAY columns — [[tokenShingles]] string
    * arrays for the portable/oracled form, or per-doc hash arrays (the
    * QShared.shingles3Arrays shape) for the scale form;
    * pre-exploded (id, h) row inputs are not accepted. Returns
    * (id, n_hits): contaminated corpus ids with their DISTINCT
    * overlapping-gram counts; [[decontaminate]] anti-joins them away.
    *
    * Scale: eval sets are tiny next to a 100 TB corpus, so the gram
    * join broadcasts the benchmark side — the corpus is filtered
    * map-side, nothing shuffles but the hits (rows that matched, a
    * vanishing fraction).
    */
  def contaminationHits(
      corpus: DataFrame, idCol: String, gramsCol: String,
      bench: DataFrame, benchGramsCol: String): DataFrame = {
    val bg = broadcast(bench.select(explode(col(benchGramsCol)).as("g")).distinct())
    corpus
      .select(col(idCol).as("id"), explode(array_distinct(col(gramsCol))).as("g"))
      .join(bg, Seq("g"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** The cleaned corpus: drop every id [[contaminationHits]] flagged. */
  def decontaminate(corpus: DataFrame, idCol: String, hits: DataFrame): DataFrame =
    corpus.join(hits.select(col("id").as(idCol)), Seq(idCol), "left_anti")

  /** md5-derived Kirsch–Mitzenmacher base-hash pair for Bloom probes —
    * two 32-bit lanes of md5(gram), the same cross-engine-portable
    * construction as [[simhashPortable]]'s hlo/hhi. An engine that can
    * md5 a string reproduces the entire filter bit-for-bit.
    */
  private def bloomHashCols(g: org.apache.spark.sql.Column) = (
    conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
    conv(substring(md5(g), 9, 8), 16, 10).cast("long"))

  /** Build the m-bit Bloom bitset over a benchmark's distinct grams.
    * Distributed partial aggregation ([[graft.functions.BloomBitsAgg]]):
    * each partition ORs its probes into a local buffer, buffers OR
    * together, ONE m/64-long array reaches the driver — the k-row-scalar
    * kind of collect (like K-Means centroids), not a data collect. Size
    * m for the benchmark: fpp ≈ (1 − e^(−k·n/m))^k.
    */
  def bloomBitsFromGrams(
      bench: DataFrame, gramsCol: String, k: Int = 3, mBits: Int = 20): Array[Long] = {
    val spark = bench.sparkSession
    import spark.implicits._
    val (h1, h2) = bloomHashCols(col("g"))
    val rows = bench.select(explode(col(gramsCol)).as("g")).distinct()
      .select(h1.as("_1"), h2.as("_2")).as[(Long, Long)]
    val agg = new graft.functions.BloomBitsAgg(k, mBits)
    val out = rows.select(agg.toColumn).collect()
    if (out.isEmpty) new Array[Long](1 << (mBits - 6)) else out(0)
  }

  /** Bloom-filter contamination flags — same contract as
    * [[contaminationHits]] (id, n_hits over distinct grams) but the
    * benchmark side is an m-bit filter instead of a broadcast hash set:
    * memory per executor is m/8 bytes regardless of benchmark
    * cardinality, and the corpus is filtered map-side by ONE codegen
    * probe expression ([[graft.functions.BloomMightContain]]) — no join
    * operator at all, so nothing shuffles but the per-doc hit counts.
    * False positives are deterministic for a fixed hash family, so the
    * output is exactly reproducible (and value-oracled) in any engine
    * that can md5 — they merely flag extra docs, the safe direction for
    * decontamination.
    */
  def bloomContaminationHits(
      corpus: DataFrame, idCol: String, gramsCol: String,
      bits: Array[Long], k: Int = 3, mBits: Int = 20): DataFrame = {
    val (h1, h2) = bloomHashCols(col("g"))
    corpus
      .select(col(idCol).as("id"), explode(array_distinct(col(gramsCol))).as("g"))
      .filter(graft.functions.Bloom.bloom_might_contain(h1, h2, bits, k, mBits))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** 64-bit SimHash over the token multiset (Charikar): per bit,
    * sum +cnt/−cnt by the bit of xxhash64(token); sign → bit. One
    * explode + count + one wide groupBy.
    */
  def simhash64(docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol).as("id"), explode(col(tokensCol)).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("w")))
    val contribs = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"c$i")
    }
    val bits = (0 until 64).map(i =>
      when(col(s"c$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
    counts.groupBy("id").agg(contribs.head, contribs.tail: _*)
      .select(col("id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Cross-engine-verifiable SimHash twin of [[simhash64]]: the base
    * token hash is md5-derived (two 32-bit halves from the first 16 hex
    * digits — a full 64-bit value would overflow DuckDB's signed BIGINT
    * on cast, so the signature is kept as two 32-bit words `sim_lo` /
    * `sim_hi`; Hamming over the pair equals Hamming over the
    * concatenation). Every step — per-bit ± cnt majority vote, sign →
    * bit, chunk blocking — is portable SQL, so a second engine
    * reproduces the signatures and pair set bit-for-bit (q_simhash_md5).
    * This is the correctness WITNESS for the sig→chunk→pair pipeline;
    * [[simhash64]]+[[simhashPairs]] (xxhash64) is the scale path.
    */
  def simhashPortable(docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol).as("id"), explode(col(tokensCol)).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("hlo", conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"))
      .withColumn("hhi", conv(substring(md5(col("w")), 9, 8), 16, 10).cast("long"))
    def contribs(h: String, tag: String) = (0 until 32).map { i =>
      sum(when(shiftright(col(h), i).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"$tag$i")
    }
    val cs = contribs("hlo", "l") ++ contribs("hhi", "u")
    def word(tag: String) = (0 until 32)
      .map(i => when(col(s"$tag$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    counts.groupBy("id").agg(cs.head, cs.tail: _*)
      .select(col("id"), word("l").as("sim_lo"), word("u").as("sim_hi"))
  }

  /** Pair step for [[simhashPortable]] signatures: 16-bit-chunk blocking
    * over the 4 chunks of (sim_lo, sim_hi) — any pair within Hamming
    * distance 3 of 64 bits shares ≥1 of the 4 chunks (pigeonhole) —
    * then the exact bit_count(xor) distance check. Output
    * (id1, id2, hamming), same contract as [[simhashPairs]].
    */
  def simhashPairsPortable(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = array(
      struct(lit(0).as("chunk"), col("sim_lo").bitwiseAND(lit(0xffffL)).as("ch")),
      struct(lit(1).as("chunk"), shiftright(col("sim_lo"), 16).bitwiseAND(lit(0xffffL)).as("ch")),
      struct(lit(2).as("chunk"), col("sim_hi").bitwiseAND(lit(0xffffL)).as("ch")),
      struct(lit(3).as("chunk"), shiftright(col("sim_hi"), 16).bitwiseAND(lit(0xffffL)).as("ch")))
    val b = sigs.select(col("id"), col("sim_lo"), col("sim_hi"), explode(chunks).as("c"))
      .select(col("id"), col("sim_lo"), col("sim_hi"),
        col("c.chunk").as("chunk"), col("c.ch").as("ch"))
      // localCheckpoint (r17): same doubled-lineage fix as simhashPairs
      .localCheckpoint()
    b.as("a").join(b.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo"))) +
          bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, blocked on
    * 16-bit chunks (any pair within distance 3 shares ≥1 of 4 chunks —
    * pigeonhole). bit_count(xor) is the exact distance check.
    */
  def simhashPairs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = array((0 until 4).map(i =>
      struct(lit(i).as("chunk"),
        shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xffffL)).as("ch"))): _*)
    val b = sigs.select(col("id"), col("simhash"), explode(chunks).as("c"))
      .select(col("id"), col("simhash"), col("c.chunk").as("chunk"), col("c.ch").as("ch"))
      // localCheckpoint (r17): self-joined below — unpinned, the whole
      // signature lineage (tokenize + per-bit majority aggregate) was
      // planned and executed twice. 4 rows per doc, 4 narrow columns.
      .localCheckpoint()
    b.as("a").join(b.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}

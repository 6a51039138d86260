package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over embedding
  * columns (`array<float>` → cast to `array<double>`). Beyond-reference
  * surface (SURVEY §7.2 M6 north star).
  *
  * Scale design: brute force is the oracle baseline — O(|Q|·|C|·dim)
  * with the query side broadcast. The scale path is IVF: cluster the
  * corpus once with [[KMeansOps]] (cells ≈ √N), then search only the
  * `nprobe` nearest cells per query — a broadcast-join pruned
  * cross join, ~nprobe/cells of the brute cost, recall tunable via
  * nprobe. All expressions are codegen'd zip_with/aggregate — no UDFs.
  */
object Similarity {

  /** Sequential (left-to-right) dot product — runs as the fused codegen
    * [[graft.functions.DotProduct]] kernel; numerically identical to the
    * `aggregate(zip_with(a, b, _*_), 0, _+_)` HOF form it replaces but
    * without per-pair array allocation or interpreted lambda dispatch.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Pre-normalize vectors so downstream cosine = plain dot product —
    * normalize once, not once per pair.
    */
  def withUnitVec(df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    val n = l2norm(col(vecCol))
    df.withColumn(outCol,
      when(n === 0, col(vecCol)).otherwise(transform(col(vecCol), _ / n)))
  }

  /** Brute-force cosine top-k: every query against the whole corpus.
    * `queries` is broadcast (the small side); ranking is per-query via
    * window, ties broken by corpus id. Self-pairs excluded.
    * Output: (query_id, rank, vec_id, cos).
    */
  def bruteTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    // cast to double BEFORE any arithmetic: zip_with on float arrays
    // multiplies in float precision (~1e-8 relative error) — enough to
    // flip rounded outputs and rankings vs double-precision engines
    val q = withUnitVec(queries.select(col(idCol).as("query_id"),
      KMeansOps.asDouble(col(vecCol)).as("qv")), "qv", "qu").drop("qv")
    val c = withUnitVec(corpus.select(col(idCol).as("vec_id"),
      KMeansOps.asDouble(col(vecCol)).as("cv")), "cv", "cu").drop("cv")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qu"), col("cu")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Exact all-pairs cosine ≥ minCos with NO driver-side collect.
    * Output: (id1, id2, cos) for every pair id1 < id2 with
    * cos ≥ minCos; each dot product sums sequentially over dims, so
    * round-6 results agree with the oracle. Vectors are hashed into
    * `blocks` groups; each of the blocks·(blocks+1)/2 block pairs
    * becomes one task that runs the same tight primitive-array kernel
    * over its two blocks. Work is still O(n²·d) — exact all-pairs is
    * quadratic by nature — but it is fully task-parallel, the driver
    * never sees a vector, and per-task memory is 2·(n/blocks)·d doubles
    * (pick blocks ≈ n·d·8B / 256 MB so two blocks fit an executor).
    * Shuffle volume is O(n·blocks) — each block is replicated once per
    * partner block.
    */
  def cosinePairsBlocked(
      corpus: DataFrame, idCol: String, vecCol: String, minCos: Double,
      blocks: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val unit = withUnitVec(
      corpus.select(col(idCol).cast("long").as("id"),
        KMeansOps.asDouble(col(vecCol)).as("v")), "v", "u")
      .select(col("id"), col("u"))
    val packed = unit
      .withColumn("b", pmod(xxhash64(col("id")), lit(blocks.toLong)).cast("int"))
      .groupBy(col("b"))
      .agg(collect_list(struct(col("id"), col("u"))).as("vs"))
    val bp = (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
      .toDF("bi", "bj")
    // InternalRow generator kernel (r18, guide §4.1 / VERDICT r17 #8):
    // the former Dataset.flatMap deserialized every packed block row
    // to external objects (DeserializeToObject; getSeq[Double] boxed
    // each vector element once per partner block) and re-serialized
    // the emitted tuples. Same nested loop, same sequential IEEE dot
    // (bit-identical pairs) — minus the object boundary.
    packed.select(col("b").as("bi"), col("vs").as("v1"))
      .join(broadcast(bp), "bi")
      .join(packed.select(col("b").as("bj"), col("vs").as("v2")), "bj")
      .select(graft.functions.BlockPairKernels.cos_block_pairs(
        col("v1"), col("v2"), col("bi") === col("bj"), lit(minCos)))
      // each unordered block pair occurs exactly once (i <= j), and
      // same-block pairs are halved by idb > ida — no distinct needed
  }

  /** Approximate all-pairs cosine ≥ minCos via random-hyperplane LSH
    * (Charikar SimHash over real projections) + exact verify:
    *  1. project each unit vector onto bands·bitsPerBand seeded Gaussian
    *     hyperplanes; pack each band's sign bits into a long bucket key;
    *  2. docs sharing any (band, bucket) become candidate pairs
    *     (bucket-local joins, `maxBucket` caps boilerplate buckets);
    *  3. candidates are verified with an exact unit-vector dot product —
    *     so output pairs are exact; only recall is probabilistic.
    * P(bit agrees) = 1 − θ/π, so per-pair miss = (1 − p^bits)^bands:
    * at cos 0.9 the 8×16 default misses ~5e-20; at cos 0.8 ~6e-2 —
    * use more bands (or fewer bits) for lower thresholds. No collect,
    * no broadcast of the corpus; candidate joins ship 8-byte keys only.
    */
  def cosinePairsLsh(
      corpus: DataFrame, idCol: String, vecCol: String, minCos: Double,
      bitsPerBand: Int = 8, bands: Int = 16, seed: Long = 42L,
      maxBucket: Int = 10000): DataFrame = {
    val unit = withUnitVec(
      corpus.select(col(idCol).cast("long").as("id"),
        KMeansOps.asDouble(col(vecCol)).as("v")), "v", "u")
      .select(col("id"), col("u"))
      // localCheckpoint (r17): referenced by the signature build AND by
      // both sides of the exact-verify join — unpinned, the scan +
      // normalize lineage ran three times per query
      .localCheckpoint()
    val dims = unit.select(size(col("u")).as("d")).limit(1).collect()
    if (dims.isEmpty) {
      val spark = corpus.sparkSession
      return spark.range(0).select(col("id").as("id1"), col("id").as("id2"),
        lit(0.0).as("cos"))
    }
    val dim = dims.head.getInt(0)
    // all bands·bits·dim multiply-adds run fused inside whole-stage
    // codegen (HyperplaneSigns) — the zip_with/aggregate HOF form is
    // interpreted per lambda and measured ~6× slower on this query.
    // localCheckpoint: the signature frame is tiny (n × bands longs)
    // and referenced through a posexplode, whose implicit filter would
    // otherwise re-evaluate the scan+normalize+project lineage per
    // exploded row (the Dedup.shingleHashes tax, measured 15× here).
    val sigs = unit.select(col("id"),
      graft.functions.HyperplaneSigns.hyperplane_signs(
        col("u"), hyperplanes(bands, bitsPerBand, dim, seed), bands, bitsPerBand).as("bhs"))
      .localCheckpoint()
    val buckets = sigs.select(col("id"),
      posexplode(col("bhs")).as(Seq("band", "bh")))
    // in-bucket suffix-pair explode (r17, the Dedup.lshCandidates /
    // jaccardPairsBucketed device): the old window + self-join planned
    // the bucket derivation twice and shuffled it twice; one groupBy
    // collects each bucket once (group size == the old window count —
    // an id appears at most once per (band, bh)), pairs explode
    // bucket-locally, each unordered pair exactly once with id1 < id2.
    val nIds = size(col("ids"))
    val cand = buckets.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(nIds.between(2, maxBucket))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id1")))
      .select(col("id1"),
        explode(slice(col("ids"), col("i") + lit(2), nIds - col("i") - lit(1))).as("id2"))
      .distinct()
    cand
      .join(unit.select(col("id").as("id1"), col("u").as("u1")), "id1")
      .join(unit.select(col("id").as("id2"), col("u").as("u2")), "id2")
      .withColumn("cos", dot(col("u1"), col("u2")))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Seeded Gaussian hyperplane matrix, flattened row-major
    * (plane index = band·bits + bit, then dim). Deterministic for a
    * seed; shared by [[cosinePairsLsh]] and its parity test.
    */
  private[graft] def hyperplanes(bands: Int, bits: Int, dim: Int, seed: Long): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bands * bits * dim)(rnd.nextGaussian())
  }

  /** Symmetric per-vector int8 quantization — 4× smaller embeddings for
    * ANN shortlists (exact re-rank reads the float column back):
    * scale = max|x|/127, q_i = trunc(x_i·127/max|x|). Trunc toward
    * zero, not round: double→int truncation is identical in every
    * engine, while .5-tie rounding is dialect-specific — so the codes
    * are cross-engine reproducible (value-level oracle q_quantize_int8).
    * Reconstruction x̂ = q·scale has |x̂−x| ≤ scale per dim. Zero
    * vectors quantize to scale 0 + all-zero codes. Pure column
    * expression: codegen map-side, no shuffle at any corpus size.
    */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x)))
    struct(
      (mx / lit(127.0)).as("scale"),
      when(mx === lit(0.0), transform(vec, _ => lit(0)))
        .otherwise(transform(vec, x => (x * lit(127.0) / mx).cast("int"))).as("q"))
  }

  /** IVF (inverted-file) ANN: cluster the corpus into `cells` K-Means
    * cells, then for each query scan only the `nprobe` nearest cells.
    * Returns (query_id, rank, vec_id, cos) like [[bruteTopK]]; recall
    * < 1 by construction, tunable via nprobe/cells.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, cells: Int, nprobe: Int, seed: Long = 42L,
      centroids: Option[DataFrame] = None): DataFrame = {
    val pts = corpus.select(col(idCol), KMeansOps.asDouble(col(vecCol)).as(vecCol))
    val spark = corpus.sparkSession
    import spark.implicits._
    // caller-supplied (cid, cvec) routing table skips clustering entirely
    // (deterministic — the oracle-checked path); otherwise coarse cells
    // from 2 Lloyd iterations — routing quality, not convergence (each
    // iteration is a full corpus pass, so fewer is cheaper).
    val cdf = centroids.getOrElse {
      val km = KMeansOps.lloyd(pts, idCol, vecCol, cells, seed, maxIter = 2)
      km.centroids.toSeq.toDF("cid", "cvec")
    }
    // corpus side: cell assignment (one broadcast cross join, reused)
    val assigned = KMeansOps.assign(pts, idCol, vecCol, cdf)
      .select(col(idCol).as("vec_id"), col("cluster").as("cell"), col(vecCol).as("cv"))
    // query side: nprobe nearest cells each
    val qw = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cid"))
    val qcells = queries.select(col(idCol).as("query_id"), KMeansOps.asDouble(col(vecCol)).as("qv"))
      .crossJoin(broadcast(cdf))
      .withColumn("dist", KMeansOps.euclid(col("qv"), col("cvec")))
      .withColumn("r", row_number().over(qw))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    val qn = withUnitVec(qcells, "qv", "qu").drop("qv")
    val cn = withUnitVec(assigned, "cv", "cu").drop("cv")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    cn.join(broadcast(qn), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qu"), col("cu")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): assign each embedding to its
    * nearest centroid, compute cosine pairs ONLY within each cluster,
    * and connect the cos ≥ tau near-dup pairs into components via
    * [[Dedup.dedupClusters]]. Returns (id, rep) — the dedupClusters
    * contract — for every vector in some near-dup pair; compose with
    * [[Dedup.dropClusterDuplicates]] to thin the corpus.
    *
    * Scale: clustering prunes the pair space from O(n²) to
    * Σ_c |cell_c|² — the entire point of SemDeDup at web scale. The
    * centroid table broadcasts (k rows), the corpus shuffles ONCE on
    * the cell key for the within-cell self-join, cosines run as the
    * fused codegen [[dot]] over pre-normalized unit vectors, and CC
    * shuffles only the near-dup edge set. A pathological mega-cell is
    * the analogue of a hot LSH bucket: raise `cells` (k ≈ √n keeps
    * E[|cell|²] ≈ n) or pre-split dense cells.
    */
  def semanticDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, tau: Double): DataFrame = {
    val pts = emb.select(col(idCol), KMeansOps.asDouble(col(vecCol)).as(vecCol))
    val assigned = KMeansOps.assign(pts, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), col("cluster").as("cell"), col(vecCol).as("v"))
    val u = withUnitVec(assigned, "v", "uv").select(col("id"), col("cell"), col("uv"))
    val pairs = u.as("a").join(u.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cos", dot(col("a.uv"), col("b.uv")))
      .filter(col("cos") >= tau)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    Dedup.dedupClusters(pairs)
  }

  /** EXACT weighted-cosine all-pairs over a SPARSE relation — the
    * inverted-index APSS family (Bayardo, Ma & Srikant, WWW'07,
    * "Scaling Up All Pairs Similarity Search"). Input `e0` is the
    * exploded sparse matrix `(id, word, w)` with each document's
    * weights L2-normalized, so cosine = Σ_shared w₁·w₂.
    *
    * Candidate generation indexes only each document's PREFIX under a
    * fixed global term order (rarest-first by df, ties by term — the
    * same canonical order as [[Dedup.jaccardPairsPrefix]]): with
    * `mw(t) = max_d w_d(t)` the corpus-wide max weight of t, a
    * document's suffix S satisfies Σ_{t∈S} w(t)·mw(t) ≥ cos(x,y) for
    * any y meeting x only inside S — so once that suffix bound drops
    * below θ the tail cannot by itself carry a qualifying pair, and
    * every pair with cos ≥ θ shares at least one INDEXED term of each
    * side. Candidates join the indexed prefix against the full
    * postings, then a full dot-product verify makes the result exact.
    *
    * Scale: the df-ordered prefix drops hot terms (low idf ⇒ low
    * w·mw tail contributions) from the index, collapsing the
    * Σ_t df(t)² hot-term fan-out exactly where it explodes; the
    * verify shuffles only candidate ids and their sparse rows. The
    * input is localCheckpointed — it feeds term stats, prefixes, and
    * the two verify probes.
    * Output: (id1, id2, cos) with id1 < id2, cos ≥ minCos, unrounded.
    */
  def cosinePairsSparse(e0: DataFrame, minCos: Double): DataFrame = {
    val e = e0.localCheckpoint()
    val stats = e.groupBy(col("word"))
      .agg(max(col("w")).as("__mw"), count(lit(1)).as("__df"))
    val ord = Window.partitionBy(col("id")).orderBy(col("__df"), col("word"))
    val pref = e.join(stats, "word")
      // suffix bound INCLUSIVE of the current term; ε errs toward
      // indexing one term too many, never one too few
      .withColumn("__sb", sum(col("w") * col("__mw"))
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("__sb") >= lit(minCos) - lit(1e-9))
      .select(col("id"), col("word"))
    val cand = pref.as("a")
      .join(e.select(col("id"), col("word")).as("b"),
        col("a.word") === col("b.word") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(e.select(col("id").as("id1"), col("word"), col("w").as("__w1")), Seq("id1"))
      .join(e.select(col("id").as("id2"), col("word"), col("w").as("__w2")),
        Seq("id2", "word"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("__w1") * col("__w2")).as("cos"))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Product quantization encode (Jégou, Douze & Schmid, TPAMI 2011):
    * split the d-dim space into `m` contiguous subspaces and code each
    * subvector as its nearest codebook entry — the memory-compression
    * layer under billion-scale ANN (IVF-PQ): d floats become m small
    * codes. `codebook` entries are FULL d-dim vectors (k of them, e.g.
    * a deterministic sample or per-subspace k-means output); subspace
    * s uses their s-th slice.
    *
    * Scale: the codebook is a driver-held k×d array (k-row-scalar
    * family, like centroids); encoding is ONE map-side projection —
    * m fused codegen argmins per row ([[graft.functions.NearestCentroid]]
    * over each slice) stacked by an explode — zero shuffle, zero join,
    * one corpus read. Ties break by code id (the kernel's (dist, cid)
    * lexicographic min). Output: (idCol, sub, code, err) with err the
    * subspace Euclidean residual, so Σ_sub err² = ‖v − decode(v)‖².
    */
  def pqCodes(
      emb: DataFrame, idCol: String, vecCol: String, m: Int,
      codebook: Array[(Long, Array[Double])]): DataFrame = {
    val d = codebook.head._2.length
    require(m > 0 && d % m == 0, s"dim $d not divisible into $m subspaces")
    require(codebook.forall(_._2.length == d), "codebook entries must share dim")
    val ds = d / m
    val subs = (0 until m).map { s =>
      val cents = codebook.map { case (cid, v) => cid -> v.slice(s * ds, (s + 1) * ds) }
      struct(lit(s).as("sub"),
        graft.functions.NearestCentroid.nearest_centroid(
          slice(col(vecCol), s * ds + 1, ds), cents).as("m"))
    }
    emb.select(col(idCol), explode(array(subs: _*)).as("e"))
      .select(col(idCol), col("e.sub").as("sub"),
        col("e.m.cid").as("code"), col("e.m.dist").as("err"))
  }

  /** EXACT cosine k-nearest-neighbor graph: for every vector, its k
    * most-similar other vectors, ranked on ROUNDED cosine (`scale` dp,
    * ties by neighbor id) so the rank boundary is engine-independent —
    * the q_cooccur_pmi/q_bm25 rounded-before-ordered device. The kNN
    * graph is the substrate for graph-based corpus curation (label
    * propagation, density estimation) and for ANN index evaluation.
    *
    * Scale: pair generation reuses [[cosinePairsBlocked]] — block-pair
    * tasks over xxhash64-packed blocks, no driver collect, no corpus
    * broadcast — then mirrors each undirected pair into both
    * directions and takes a per-source top-k window over k·n rows.
    * Exact kNN is inherently Θ(n²) dot products; at corpus scale the
    * approximate substitute is the IVF router ([[annIvf]]) with
    * nprobe-bounded candidates — this operator is the exact baseline
    * that grades it. Output: (src, rank, dst, cos).
    */
  def knnGraph(
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      scale: Int = 4, blocks: Int = 8): DataFrame =
    // run-scoped memo (the basisCache device, frame-valued): the exact
    // graph is the recall baseline q_knn_approx_recall re-derives after
    // q_knn_graph already built it — one Θ(n²) kernel per run, not two
    DfMemo.cached(emb, s"knnGraph:$idCol:$vecCol:$k:$scale:$blocks") {
      // per-id BOUNDED top-k inside each block-pair task (r17, guide
      // §2.3 "aggregate before you shuffle"): the old form emitted ALL
      // Θ(n²) scored pairs as external Tuple3 objects, mirrored them,
      // and sorted 2·C(n,2) rows under the window — n·blocks·k rows
      // now leave the kernel instead (~90 k vs 4 M at sf0.1). The
      // global row_number is EXACT on the partial top-ks: a true
      // global top-k partner of src is, within the one block-pair
      // task that scores it, also among src's task-local top-k, so it
      // is always emitted; ordering (rounded cos desc, dst asc, NaN
      // largest — java.lang.Double.compare) matches the window's.
      val cand = knnTopKBlocked(emb, idCol, vecCol, k, scale, blocks)
      val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
      cand.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= k)
        .select(col("src"), col("rank"), col("dst"), col("cos"))
    }

  /** Block-pair kNN candidate kernel: [[cosinePairsBlocked]]'s packed
    * self-join, but each task keeps only its LOCAL top-`k` partners
    * per id (both directions of every pair, dot computed once) and
    * emits (src, dst, cos) with cos already rounded — Spark's
    * BigDecimal HALF_UP, bit-identical to `round(col, scale)`. The
    * task-local heaps make the downstream window input n·blocks·k
    * instead of n², which is what the old full-emit paid in object
    * serialization and sort time.
    */
  private def knnTopKBlocked(
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      scale: Int, blocks: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val unit = withUnitVec(
      emb.select(col(idCol).cast("long").as("id"),
        KMeansOps.asDouble(col(vecCol)).as("v")), "v", "u")
      .select(col("id"), col("u"))
    val packed = unit
      .withColumn("b", pmod(xxhash64(col("id")), lit(blocks.toLong)).cast("int"))
      .groupBy(col("b"))
      .agg(collect_list(struct(col("id"), col("u"))).as("vs"))
    val bp = (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
      .toDF("bi", "bj")
    // InternalRow generator kernel (r18, guide §4.1 / VERDICT r17 #8):
    // identical bounded sorted-insert top-k loop as the former
    // Dataset.flatMap (same rounding, same ordering, bit-identical
    // rows) — minus the DeserializeToObject/SerializeFromObject
    // boundary and the per-element boxing of every vector double.
    packed.select(col("b").as("bi"), col("vs").as("v1"))
      .join(broadcast(bp), "bi")
      .join(packed.select(col("b").as("bj"), col("vs").as("v2")), "bj")
      .select(graft.functions.BlockPairKernels.knn_block_topk(
        col("v1"), col("v2"), col("bi") === col("bj"), k, scale))
  }

  /** Cell-routed APPROXIMATE kNN self-join — the scale path that
    * removes [[knnGraph]]'s Θ(n²) pair kernel from the graph substrate
    * (PageRank/label-prop/TextRank all consume a kNN edge list): every
    * vector is assigned to its nearest coarse cell AND probes its
    * `nprobe` nearest cells; (q, c) is a candidate when EITHER side
    * probes the other's home cell — the symmetric rule, measured worth
    * +0.14 recall over one-directional probing at the same nprobe on
    * the sf0.01 corpus (0.95 vs 0.81 at nprobe=5/8) because a near
    * neighbor whose home q missed usually probes q's home back. The
    * exact [[dot]] kernel verifies candidates, and a per-source top-k
    * window ranks on ROUNDED cosine (ties by neighbor id — the
    * engine-independent boundary device [[knnGraph]] uses, so the two
    * edge lists are directly comparable).
    *
    * Scale: routing is ONE map-side pass — C codegen-kernel distances
    * per row against the driver-literal cell table, lexicographic
    * (dist, cid) sort of C tiny structs, NO n·C window shuffle (the
    * [[ivfTopK]] probe window is fine for |Q| queries, fatal when the
    * query set is the corpus). The candidate join shuffles each side
    * once on the cell key — Σ_c |cell|·|probes(c)| pairs instead of n²,
    * the IVF pruning dial: nprobe/C trades recall for cost, and cells
    * ≈ √n keeps expected cell sizes √n. The symmetric mirror is a
    * projection of the scored match set (cos(q,c) = cos(c,q) — same
    * sequential dot), deduped on the edge key; only edges shuffle
    * after the cell join. Skewed mega-cells are the LSH hot-bucket
    * analogue — raise C or pre-split (same remedy as
    * [[semanticDedup]]). Output: (qid, rank, nbr, cos), cos rounded.
    */
  def knnSelfJoin(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])],
      k: Int, nprobe: Int, scale: Int = 4): DataFrame = {
    require(k >= 1)
    val sym = cellMatches(emb, idCol, vecCol, None, cells, nprobe, scale)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    sym.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nbr"), col("cos"))
  }

  /** Shared candidate kernel of [[knnSelfJoin]]/[[hardNegatives]]:
    * symmetric cell-routed scored matches (qid, nbr, cos[, qlab,
    * nlab]), deduped on the edge key. There is exactly ONE kernel
    * build per (corpus, cell table, nprobe, scale) — the labeled
    * variant is DERIVED from the unlabeled memo by two hash joins of
    * the 2-column (id, label) projection onto the persisted edge list
    * (VERDICT r13 #1: the earlier design rode labels through the
    * routing projection, which duplicated the entire cell-routed kNN
    * build just to carry a label column — ~8 s/pass at sf0.1, real
    * money at 100 TB; labels are functionally dependent on the id, so
    * a post-hoc join is semantically identical and costs edge-list
    * joins, not a second n-way candidate join).
    */
  private[graft] def cellMatches(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: Option[String],
      cells: Array[(Long, Array[Double])], nprobe: Int, scale: Int): DataFrame = {
    require(cells.nonEmpty, "cells must be non-empty")
    require(cells.map(_._1).toSeq == cells.map(_._1).sorted.toSeq,
      "cells must be sorted by id (positional ties = id ties)")
    require(nprobe >= 1 && nprobe <= cells.length)
    // run-scoped memo (the basisCache device, frame-valued): five gated
    // queries route the same corpus against the same cell table —
    // q_knn_approx/q_knn_approx_recall/q_pagerank/q_label_prop share the
    // unlabeled kernel, q_hard_negatives its labeled derivation. The
    // full cell-table CONTENT rides in the tag: two different centroid
    // sets over the same corpus must never alias — content, not a hash,
    // because a silent key collision would serve WRONG results, while
    // the cost is a driver-local C·d-double string per CALL (≈1 MB at
    // C=1000, d=64 — microseconds, never shipped to executors).
    val cellTag = cells.map { case (c, v) => s"$c=${v.mkString(",")}" }
      .mkString(";")
    // the memo holds the CANONICAL half (a < b, one row per unordered
    // edge) and the mirror is an explode over the cached frame (r17):
    // caching the mirrored set materialized 2× the rows into the
    // in-memory relation for data the mirror derives in one map-side
    // generator — half the cache build, half the cache footprint, and
    // every consumer still reads the identical symmetric edge list
    // the memo holds the MIRRORED edge list (the r16 read contract —
    // consumers window/group it directly, so a post-memo explode
    // taxed every consumer ~0.3 s/action when tried); the build-side
    // wins live INSIDE the compute: filter-dedup instead of the
    // distinct exchange, explode instead of the double-planned
    // self-union, one keyed repartition for consumer parallelism
    val base = DfMemo.cached(emb,
      s"cellMatches:$idCol:$vecCol::$nprobe:$scale:" + cellTag) {
      val canon = cellMatchesCompute(emb, idCol, vecCol, cells, nprobe, scale)
      canon.select(explode(array(
          struct(col("a").as("qid"), col("b").as("nbr"), col("cos")),
          struct(col("b").as("qid"), col("a").as("nbr"), col("cos")))).as("e"))
        .select(col("e.qid").as("qid"), col("e.nbr").as("nbr"),
          col("e.cos").as("cos"))
    }
    labelCol match {
      case None => base
      case Some(lc) =>
        // memoized too (nested cached() is structurally safe — see
        // DfMemo.Cell): the joins are cheap, but q_hard_negatives and
        // the substrate pre-build should still share one labeled frame
        DfMemo.cached(emb,
          s"cellMatchesLabeled:$idCol:$vecCol:$lc:$nprobe:$scale:" + cellTag) {
          val labs = emb.select(col(idCol).as("lid"), col(lc).as("lab"))
          base
            .join(labs.select(col("lid").as("qid"), col("lab").as("qlab")),
              Seq("qid"))
            .join(labs.select(col("lid").as("nbr"), col("lab").as("nlab")),
              Seq("nbr"))
            .select(col("qid"), col("nbr"), col("cos"),
              col("qlab"), col("nlab"))
        }
    }
  }

  private def cellMatchesCompute(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])], nprobe: Int, scale: Int): DataFrame = {
    // zero-norm rows are excluded from routing entirely (ADVICE r10):
    // withUnitVec would pass the zero vector through and Spark scores
    // cos = 0 where the SQL mirror computes dp/(0·nrm) = NULL — a
    // latent parity split. The oracles carry the matching WHERE nrm > 0.
    val pts = emb.select(
        col(idCol).as("id"), KMeansOps.asDouble(col(vecCol)).as("v"))
      .filter(l2norm(col("v")) > 0)
    // same euclid arithmetic as KMeansOps.assign/ivfTopK routing — the
    // oracle-proven distance form; struct sort = ORDER BY dist, cid
    val cellDists = array(cells.map { case (cid, cv) =>
      struct(KMeansOps.euclid(col("v"), typedlit(cv.toSeq)).as("d"),
        lit(cid).as("c"))
    }: _*)
    val routed = withUnitVec(
      pts.withColumn("pc",
        transform(slice(sort_array(cellDists), 1, nprobe),
          p => p.getField("c"))),
      "v", "u")
    val home = routed.select(col("id").as("nbr"),
      element_at(col("pc"), 1).as("cell"), col("u").as("cu"),
      col("pc").as("npc"))
    val probes = routed.select(col("id").as("qid"),
      explode(col("pc")).as("cell"), col("u").as("qu"),
      element_at(col("pc"), 1).as("qhome"))
    // symmetric candidacy WITHOUT the dedup shuffle (r17): the old
    // form mirrored every scored match (planning the join subtree
    // TWICE — a DataFrame self-union is two subtree copies) and
    // deduped with distinct() — a 2.5M-row exchange + hash-aggregate
    // the probe harness measured at ~4.8 s of the ~7.8 s build at
    // sf0.1. A pair is double-found ONLY when each side probes the
    // other's home cell, and that is decidable per joined row from
    // the two sides' own routing columns: keep (q, c) iff
    // q < c OR home(q) ∉ probes(c) — the canonical direction owns a
    // both-ways pair, the lone direction always survives — so each
    // unordered edge is emitted EXACTLY once by a map-side filter
    // (nprobe-element array_contains), no exchange, no aggregate.
    // cos is direction-independent bitwise (same index order,
    // commutative multiply). The mirror back to both directions is
    // the caller's post-memo explode.
    probes.join(home, Seq("cell"))
      .filter(col("qid") =!= col("nbr"))
      .filter(col("qid") < col("nbr") ||
        !array_contains(col("npc"), col("qhome")))
      .select(least(col("qid"), col("nbr")).as("a"),
        greatest(col("qid"), col("nbr")).as("b"),
        (round(dot(col("qu"), col("cu")), scale) + lit(0.0)).as("cos"))
      // REPARTITION before the memo persists (r17): with the dedup
      // exchange gone the kernel is broadcast-join-only, so its output
      // inherits the parquet scan's partitioning — ONE partition at
      // sf0.1 — and every consumer's window/groupBy then sorted 3.3M
      // rows on one core (q_kcore 1.35 -> 5.2 s; the no-exchange "win"
      // was a serialization loss). One explicit edge-key exchange at
      // build time restores shuffle-width parallelism to all
      // consumers; at 100 TB this is the standard keyed layout of a
      // materialized edge list.
      .repartition(col("a"), col("b"))
  }

  /** Per-cell ROUTING LOAD of the [[knnSelfJoin]]/[[hardNegatives]]
    * candidate kernel — the skew report that prices the router before
    * a 100 TB run: `n_home` = vectors homed in the cell, `n_probe` =
    * (vector, probe) hits on the cell, `n_cand` = candidate pairs the
    * cell contributes (n_probe·n_home − n_home self-pairs — exactly
    * the Σ_c |cell|·|probes(c)| term the approximate join's cost is),
    * `share` = the cell's fraction of total candidate volume. A cell
    * with share ≫ 1/C is the hot bucket the scaladocs keep pointing
    * at — raise C or pre-split BEFORE the join, not after it OOMs.
    *
    * Same routing arithmetic as [[knnSelfJoin]] (raw euclid struct
    * sort, zero-norm rows excluded): the report describes the join
    * that actually runs. Scale: one map-side routing projection, one
    * C-row groupBy — the report costs one narrow shuffle at any
    * corpus size; the driver fill of never-probed cells is C rows
    * (k-row-scalar family).
    */
  def cellLoad(
      emb: DataFrame, vecCol: String,
      cells: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    require(cells.nonEmpty && nprobe >= 1 && nprobe <= cells.length)
    val spark = emb.sparkSession
    val pts = emb.select(KMeansOps.asDouble(col(vecCol)).as("v"))
      .filter(l2norm(col("v")) > 0)
    val cellDists = array(cells.map { case (cid, cv) =>
      struct(KMeansOps.euclid(col("v"), typedlit(cv.toSeq)).as("d"),
        lit(cid).as("c"))
    }: _*)
    val probed = pts
      .withColumn("pc",
        transform(slice(sort_array(cellDists), 1, nprobe), p => p.getField("c")))
      .select(posexplode(col("pc")).as(Seq("pos", "cell")))
    val got = probed.groupBy("cell")
      .agg(sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_home"),
        count(lit(1)).as("n_probe"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val full = cells.map(_._1).sorted.map { cid =>
      val (h, p) = got.getOrElse(cid, (0L, 0L))
      (cid, h, p, p * h - h)
    }
    val total = full.map(_._4).sum.toDouble
    import spark.implicits._
    full.map { case (cid, h, p, cand) =>
      val share = if (total == 0) 0.0
        else BigDecimal(cand / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (cid, h, p, cand, share)
    }.toSeq.toDF("cell", "n_home", "n_probe", "n_cand", "share")
  }

  /** HARD-NEGATIVE mining for contrastive training (the ANCE/DPR prep
    * step): per anchor, the top-`k` most similar corpus vectors whose
    * `labelCol` DIFFERS from the anchor's — semantically close,
    * label-wise wrong, exactly the negatives that carry gradient.
    * Candidates come from the same symmetric cell routing as
    * [[knnSelfJoin]] (approximate by design — router recall applies);
    * the label filter runs BEFORE ranking so every returned rank is a
    * true negative, and labels attach to the SHARED unlabeled kernel
    * via two cheap (id, label)-projection joins — one kernel build per
    * run, not a labeled duplicate (VERDICT r13 #1). Ranking on ROUNDED
    * cosine, ties by neighbor id. Output: (qid, qlab, rank, nbr, nlab,
    * cos).
    */
  def hardNegatives(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      cells: Array[(Long, Array[Double])],
      k: Int, nprobe: Int, scale: Int = 4): DataFrame = {
    require(k >= 1)
    val cand = cellMatches(emb, idCol, vecCol, Some(labelCol), cells, nprobe, scale)
      .filter(col("qlab") =!= col("nlab"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    cand.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("qlab"), col("rank"), col("nbr"),
        col("nlab"), col("cos"))
  }

  /** Binary (1-bit-per-dimension) SIGN quantization — the cheapest
    * retrieval tier: word `w` packs dims 32w..32w+31 as bits
    * (bit i = 1 iff x > 0, strictly — zeros quantize to 0 on any
    * engine), 32-bit words so every value stays positive in a signed
    * 64-bit lane (the [[graft.ops.Dedup.simhashPortable]] device —
    * DuckDB rebuilds words with `1::BIGINT << (i % 32)` sums and
    * compares bit_count(xor) exactly). d=4096 compresses 128× to 128
    * words. One map-side projection of ⌈d/32⌉ fused 32-term bit-OR
    * expressions — zero shuffle. Output: (idCol, sigs array<long>).
    */
  def signBits(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = KMeansOps.asDouble(col(vecCol))
    emb.select(col(idCol), signWords(emb, v).as("sigs"))
  }

  /** PROTOTYPICALITY-based data pruning (Sorscher et al. NeurIPS 2022,
    * arXiv:2206.14486 "Beyond neural scaling laws"): each vector's
    * prototypicality is its cosine to its assigned (nearest-Euclid)
    * cluster centroid — high cos = prototypical/easy, low cos = the
    * cluster's hard margin — and the paper's abundant-data regime
    * keeps the HARDEST fraction per cluster (the lowest cos). The
    * keep quota is per-cell and exact-rational: quota =
    * ⌈n_c · keepNum / keepDen⌉ in integer arithmetic, rank on
    * (ROUNDED proto, id) — both engine-independent, so the keep
    * boundary is value-oracle-able. Output: (idCol, cell, proto,
    * rank, kept) for EVERY input row — downstream filters on `kept`,
    * and the full table is the audit trail data-pruning papers
    * report curves over.
    *
    * Scale: scoring is ONE map-side projection — C fused (dist, cid,
    * proto) structs against driver-literal centroids, sort_array
    * argmin (the [[cellMatches]] routing device, no n·C explode or
    * window); the only shuffle is the per-cell rank window, whose
    * partitions are cluster-sized — at C ≈ √n that is √n rows per
    * cell, and a skewed mega-cell is the same hot-bucket the other
    * cell operators document (raise C / pre-split). Zero-norm vectors
    * carry NULL proto and sort last in ASC (hardest) mode on both
    * engines via NULLS LAST.
    */
  def protoPrune(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])],
      keepNum: Int, keepDen: Int, scale: Int = 4): DataFrame = {
    require(cells.nonEmpty && keepNum >= 0 && keepDen > 0 && keepNum <= keepDen)
    val pts = emb.select(col(idCol), KMeansOps.asDouble(col(vecCol)).as("v"))
      // norm hoisted to an attribute so the C structs share ONE 64-term
      // sum instead of re-inlining it 3C times into the codegen tree
      .withColumn("__nrm", l2norm(col("v")))
    val scored = array(cells.map { case (cid, cv) =>
      val cn = math.sqrt(cv.map(x => x * x).sum)
      struct(
        KMeansOps.euclid(col("v"), typedlit(cv.toSeq)).as("d"),
        lit(cid).as("c"),
        when(col("__nrm") > 0,
            round(dot(col("v"), typedlit(cv.toSeq)) / (col("__nrm") * lit(cn)),
              scale) + lit(0.0))
          .as("p"))
    }: _*)
    val best = pts
      .withColumn("__s", element_at(sort_array(scored), 1))
      .select(col(idCol), col("__s.c").as("cell"), col("__s.p").as("proto"))
    val w = Window.partitionBy(col("cell"))
    best
      .withColumn("rank", row_number()
        .over(w.orderBy(col("proto").asc_nulls_last, col(idCol).asc)).cast("int"))
      .withColumn("n_c", count(lit(1)).over(w))
      .withColumn("kept",
        col("rank") <= expr(s"(n_c * $keepNum + ${keepDen - 1}) DIV $keepDen"))
      .drop("n_c")
  }

  /** SIMPLIFIED SILHOUETTE per vector (Hruschka et al. 2004; the
    * centroid form of Rousseeuw 1987 that Vendramin et al. 2010 show
    * tracks the full O(n²) silhouette at O(n·C)) — the cluster-quality
    * grade you check BEFORE trusting a cell table: the kNN router,
    * SemDeDup's cluster pruning and [[protoPrune]] all inherit their
    * failure modes from a bad C, and full silhouette is exactly the
    * n² pass this engine refuses to ship. s = (b − a)/max(a, b) with
    * a = distance to the ASSIGNED (nearest) centroid and b = distance
    * to the nearest OTHER centroid; s ∈ [−1, 1], ~0 = on a cell
    * boundary, 1 = dead center, 0 by convention when both distances
    * are 0. Every distance is rounded to 9 dp BEFORE ranking and
    * arithmetic so assignment, b, and the ratio run on bitwise-equal
    * doubles in any engine (the PCA-deflation device).
    *
    * Scale: ONE map-side projection of C fused codegen (dist, cid)
    * structs against driver-literal centroids — no join, no shuffle,
    * no n·C explode; the plan is [[KMeansOps.assign]]'s with a second
    * struct read. Same hot-cell caveats as the other cell operators.
    */
  def silhouette(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])], scale: Int = 6): DataFrame = {
    require(cells.length >= 2, "silhouette needs at least 2 cells")
    val pts = emb.select(col(idCol), KMeansOps.asDouble(col(vecCol)).as("v"))
    val scored = sort_array(array(cells.map { case (cid, cv) =>
      struct(
        round(KMeansOps.euclid(col("v"), typedlit(cv.toSeq)), 9).as("d"),
        lit(cid).as("c"))
    }: _*))
    val a = col("__s")(0)("d")
    val b = col("__s")(1)("d")
    pts.withColumn("__s", scored)
      .select(col(idCol), col("__s")(0)("c").as("cell"),
        (round(when(greatest(a, b) === 0, lit(0.0))
          .otherwise((b - a) / greatest(a, b)), scale) + lit(0.0)).as("sil"))
  }

  /** DAVIES–BOULDIN index per cell (Davies & Bouldin TPAMI 1979) —
    * [[silhouette]]'s complement: where silhouette grades each POINT,
    * DB grades each CELL by its worst separation-to-scatter ratio,
    * R_ij = (σ_i + σ_j)/‖c_i − c_j‖, db_i = max_{j≠i} R_ij (lower is
    * better; the corpus DB index is the mean of db_i). The same
    * pre-flight check on a cell table before the kNN router /
    * SemDeDup / [[protoPrune]] trust it, at O(n·C) + O(C²).
    *
    * Determinism: assignment distances round to 9 dp before ranking
    * (the [[silhouette]] device); σ_i rounds to 6 dp straight out of
    * the avg so the C² driver arithmetic runs on engine-identical
    * doubles (the avg's sub-6dp sum-order noise is absorbed exactly
    * like q_kmeans_sse's). Scale: one zero-shuffle map-side
    * assignment projection, ONE narrow groupBy(cell) exchange of
    * (cell, dist) rows, then C rows collect (k-row-scalar family) and
    * the C×C max on the driver — the corpus never joins anything.
    */
  def daviesBouldin(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])]): DataFrame = {
    require(cells.length >= 2, "daviesBouldin needs at least 2 cells")
    val spark = emb.sparkSession
    val pts = emb.select(KMeansOps.asDouble(col(vecCol)).as("v"))
    val scored = sort_array(array(cells.map { case (cid, cv) =>
      struct(
        round(KMeansOps.euclid(col("v"), typedlit(cv.toSeq)), 9).as("d"),
        lit(cid).as("c"))
    }: _*))(0)
    val sig = pts.select(scored("c").as("cell"), scored("d").as("dist"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), round(avg("dist"), 6).as("sigma"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = sig.map(s => s._1 -> s).toMap
    val cent = cells.toMap
    def m(i: Long, j: Long): Double = {
      val (a, b) = (cent(i), cent(j))
      val d = BigDecimal(math.sqrt(
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      require(d > 0, s"daviesBouldin: cells $i and $j share a centroid")
      d
    }
    val rows = cells.map(_._1).sorted.map { i =>
      // a cell no point assigns to scatters nothing: σ = 0, n = 0
      val (_, n, si) = byId.getOrElse(i, (i, 0L, 0.0))
      val worst = cells.map(_._1).filter(_ != i).map { j =>
        val sj = byId.get(j).map(_._3).getOrElse(0.0)
        (si + sj) / m(i, j)
      }.max
      val db = BigDecimal(worst)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (i, n, si, db)
    }
    import spark.implicits._
    rows.toSeq.toDF("cell", "n", "sigma", "db")
  }

  /** CALINSKI–HARABASZ index (Caliński & Harabasz, "A dendrite method
    * for cluster analysis", Comm. in Statistics 1974) — the third leg
    * of the cluster-quality triptych next to [[silhouette]] (per-point)
    * and [[daviesBouldin]] (per-cell): ONE corpus-level variance-ratio
    * grade, CH = (B/(k−1)) / (W/(n−k)) with B = Σ_c n_c·‖μ_c − μ‖²
    * (between-cluster scatter) and W = Σ_c Σ_{x∈c} ‖x − μ_c‖²
    * (within-cluster scatter). Higher = tighter, better-separated
    * cells; the standard "pick C" elbow statistic sklearn ships as
    * `calinski_harabasz_score`. Assignment is to the nearest cell of
    * the GIVEN table (9-dp-rounded distances, the [[silhouette]]
    * device); scatter is against the assigned-member MEANS (rounded
    * 9 dp), per the definition — not the routing centroids.
    *
    * Scale: one zero-shuffle map-side assignment projection; two
    * narrow partial-agg'd exchanges of ≤ C·d and d rows (cell/global
    * dim means — k-row-scalar collects); then W in ONE more map-side
    * pass — each point's squared distance to its cell's driver-literal
    * mean, rounded 9 dp, partial-agg summed to a single scalar. B and
    * the final ratio are C-term driver arithmetic. The per-point
    * zip_with fold is interpreted (HOF) — at 100 TB lift it to the
    * [[graft.functions.DotProduct]] codegen pattern. Output: one row
    * (k, n, b, w, ch), k = non-empty cells, b/w/ch rounded 6 dp.
    */
  def calinskiHarabasz(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])]): DataFrame = {
    require(cells.length >= 2, "calinskiHarabasz needs at least 2 cells")
    val spark = emb.sparkSession
    val pts = emb.select(KMeansOps.asDouble(col(vecCol)).as("v"))
    val scored = sort_array(array(cells.map { case (cid, cv) =>
      struct(
        round(KMeansOps.euclid(col("v"), typedlit(cv.toSeq)), 9).as("d"),
        lit(cid).as("c"))
    }: _*))(0)
    val assigned = pts.select(scored("c").as("cell"), col("v"))
    val cellStats = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cell"), col("i"))
      .agg(round(avg(col("x")), 9).as("mu"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    val gMean = assigned.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(round(avg(col("x")), 9).as("mu"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val byCell = cellStats.groupBy(_._1).map { case (cid, rows) =>
      (cid, rows.sortBy(_._2).map(_._3), rows.head._4)
    }.toSeq.sortBy(_._1)
    val meanCol = byCell.foldLeft(lit(null).cast("array<double>")) {
      case (acc, (cid, mu, _)) =>
        when(col("cell") === cid, typedlit(mu.toSeq)).otherwise(acc)
    }
    val wRow = assigned
      .select(round(aggregate(zip_with(col("v"), meanCol,
          (x, y) => (x - y) * (x - y)), lit(0.0), _ + _), 9).as("sq"))
      .agg(sum(col("sq")).as("w"), count(lit(1)).as("n")).collect()(0)
    val (w, n) = (wRow.getDouble(0), wRow.getLong(1))
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = byCell.size
    require(k >= 2 && n > k,
      s"calinskiHarabasz needs >=2 non-empty cells and n > k (k=$k, n=$n)")
    val b = byCell.map { case (_, mu, nc) =>
      var s = 0.0
      var i = 0
      while (i < mu.length) { val dI = mu(i) - gMean(i); s += dI * dI; i += 1 }
      r9(nc * s)
    }.sum
    val ch = r6((b / (k - 1)) / (w / (n - k)))
    import spark.implicits._
    Seq((k, n, r6(b), r6(w), ch)).toDF("k", "n", "b", "w", "ch")
  }

  /** ⌈d/32⌉ packed 32-bit sign words of `v` as one array Column (d
    * probed once from `emb`; min/max-size aggregate so ragged input
    * fails fast instead of silently truncating/zero-padding to an
    * arbitrary row's dimension — the embedCovariance device,
    * ADVICE r10). */
  private def signWords(emb: DataFrame, v: Column): Column = {
    val probe = emb.agg(min(size(v)).as("dmin"), max(size(v)).as("dmax")).collect()(0)
    val d = if (probe.isNullAt(0)) 0 else probe.getInt(0)
    require(probe.isNullAt(1) || probe.getInt(1) == d,
      s"signWords: ragged vector lengths ($d..${probe.getInt(1)})")
    val nw = (d + 31) / 32
    val words = (0 until nw).map { w =>
      (0 until 32).filter(i => w * 32 + i < d).map { i =>
        when(element_at(v, w * 32 + i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }
    array(words: _*)
  }

  /** Retrieval recall of the [[signBits]] tier — per probe
    * (id % probeEvery = 0), |top-k by Hamming ∩ top-k by exact
    * rounded cosine| as (qid, n_common ∈ [0,k]). Hamming ranks
    * ascending with id ties; the exact side is the [[truncRecall]]
    * ranking. BOTH rankings window the SAME probe×corpus frame
    * partitioned once by qid — one exchange, two sort orders.
    * Zero-norm rows are excluded from the cosine ranking (NaN guard)
    * but still quantize and rank on the Hamming side.
    */
  def binaryRecall(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, probeEvery: Int = 50, scale: Int = 4): DataFrame = {
    require(k >= 1 && probeEvery >= 1)
    val v = KMeansOps.asDouble(col(vecCol))
    // quantize and keep the float vector in ONE projection — a join
    // back onto the corpus would shuffle it for nothing
    val base = emb.select(col(idCol), v.as("fv"), signWords(emb, v).as("sigs"))
    val probes = base.filter(col(idCol) % probeEvery === 0)
      .select(col(idCol).as("qid"), col("fv").as("qv"), col("sigs").as("qs"))
    val cands = base.select(col(idCol).as("cid"), col("fv").as("cv"),
      col("sigs").as("cs"))
    val qn = sqrt(dot(col("qv"), col("qv")))
    val cn = sqrt(dot(col("cv"), col("cv")))
    val cos = round(dot(col("qv"), col("cv")) / (qn * cn), scale)
    val ham = aggregate(
      zip_with(col("qs"), col("cs"), (a, b) => bit_count(a.bitwiseXOR(b))),
      lit(0), (acc, x) => acc + x)
    val joined = cands.crossJoin(broadcast(probes))
      .filter(col("cid") =!= col("qid"))
      .withColumn("ham", ham)
      .withColumn("cos", when(qn > 0 && cn > 0, cos))
    val w = Window.partitionBy(col("qid"))
    val rnkB = row_number().over(w.orderBy(col("ham"), col("cid")))
    val rnkE = row_number().over(w.orderBy(col("cos").desc_nulls_last, col("cid")))
    joined
      .withColumn("rb", rnkB).withColumn("re", rnkE)
      .filter(col("rb") <= k && col("re") <= k && col("cos").isNotNull)
      .groupBy(col("qid")).agg(count(lit(1)).as("n_common"))
      .join(probes.select(col("qid")), Seq("qid"), "right")
      .select(col("qid"), coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** Recall of [[knnSelfJoin]] against the exact [[knnGraph]] — per
    * vector, |approx top-k ∩ exact top-k| as (qid, n_common ∈ [0,k]).
    * Both sides rank on identically-ROUNDED cosine with id ties, so
    * the overlap is engine-exact (the [[truncRecall]] grading device
    * applied to the self-join). Every id reports a row (0 when the
    * routed candidates missed all true neighbors).
    *
    * Scale: the approx side is the production plan; the exact side is
    * the Θ(n²) blocked kernel — this is an EVAL, run on a sample or a
    * held-out slice at 100 TB, never the full corpus.
    */
  def knnSelfRecall(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])],
      k: Int, nprobe: Int, scale: Int = 4, blocks: Int = 8): DataFrame = {
    val approx = knnSelfJoin(emb, idCol, vecCol, cells, k, nprobe, scale)
      .select(col("qid"), col("nbr"))
    val exact = knnGraph(emb, idCol, vecCol, k, scale, blocks)
      .select(col("src").as("qid"), col("dst").as("nbr"))
    approx.join(exact, Seq("qid", "nbr"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_common"))
      .join(emb.select(col(idCol).as("qid")), Seq("qid"), "right")
      .select(col("qid"), coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** NDCG@k of the cell-routed approximate kNN ranking against the
    * exact-cosine ranking — the GRADED complement of [[knnSelfRecall]]:
    * recall counts set overlap, NDCG also charges the router for
    * returning the right neighbors in the wrong order and for trading
    * a 0.99-cosine neighbor for a 0.90 one (both invisible to recall).
    * Relevance of a retrieved neighbor is its TRUE (exact, rounded)
    * cosine mapped to the non-negative gain (cos+1)/2; DCG discounts
    * by log₂(rank+1); IDCG is the same sum over the exact top-k.
    * ndcg = 1 ⇔ the router returned the exact top-k in exact order.
    *
    * Both substrates are the run-scoped memos ([[DfMemo]]) the
    * recall/graph queries already share — the eval adds two k-row
    * folds and a join, nothing corpus-scale. DCG/IDCG round to 6 dp
    * BEFORE the ratio (parity pin). Output: (qid, dcg, idcg, ndcg),
    * every exact-side qid present, routers that returned nothing
    * score 0; ndcg NULL if idcg is 0 (degenerate all-cos=−1 corner).
    */
  def knnNdcg(
      emb: DataFrame, idCol: String, vecCol: String,
      cells: Array[(Long, Array[Double])],
      k: Int, nprobe: Int, scale: Int = 4, blocks: Int = 8): DataFrame = {
    def gainAt(cos: Column, rank: Column): Column =
      ((cos + lit(1.0)) / lit(2.0)) / log(2.0, rank.cast("double") + lit(1.0))
    val dcg = knnSelfJoin(emb, idCol, vecCol, cells, k, nprobe, scale)
      .select(col("qid"), gainAt(col("cos"), col("rank")).as("g"))
      .groupBy(col("qid")).agg(round(sum(col("g")), 6).as("dcg"))
    val idcg = knnGraph(emb, idCol, vecCol, k, scale, blocks)
      .select(col("src").as("qid"), gainAt(col("cos"), col("rank")).as("g"))
      .groupBy(col("qid")).agg(round(sum(col("g")), 6).as("idcg"))
    idcg.join(dcg, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("dcg"), lit(0.0)).as("dcg"), col("idcg"),
        when(col("idcg") > 0,
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6)).as("ndcg"))
  }

  /** Population covariance matrix of an embedding column, exploded as
    * (i, j, cov) — the input to PCA whitening, Mahalanobis outlier
    * screens, and embedding-drift monitoring. cov(i,j) =
    * E[xᵢxⱼ] − E[xᵢ]E[xⱼ] over all rows.
    *
    * Scale — two routes behind a d-threshold (default 8, lowered from
    * 128 in r17: the explode route's nested `transform` lambdas are
    * INTERPRETED HOFs, so at the corpus's d=64 every row paid d²+d
    * per-element interpreter dispatches plus a (d²+d)·n-row explode
    * before the partial agg — measured 2.2 s warm vs 0.4 s on the
    * moments route at sf0.1, same 6-dp cells, parity-tested in
    * SimilaritySpec):
    *
    * SMALL d (d ≤ `largeDThreshold`): each row expands MAP-SIDE to one
    * (d²+d)-element array — its outer products followed by the vector
    * itself (`flatten(transform × transform)`, no self-join)
    * — and a single posexplode + groupBy(idx) folds the whole corpus
    * into d²+d sum cells; map-side partial aggregation reduces every
    * input partition to ≤ d²+d rows BEFORE the exchange, so shuffle
    * volume is partitions × (d²+d) regardless of corpus size. The
    * d-row mean table then broadcast-joins back twice to center the
    * raw moments. Everything stays whole-plan distributed — the route
    * for tiny d where a typed-aggregator buffer is overkill.
    *
    * LARGE d (d > `largeDThreshold`): a typed
    * [[graft.functions.CovMoments]] Aggregator accumulates one flat
    * upper-triangle buffer per partition (tight primitive loops, zero
    * per-row allocation); per-row memory is O(d), per-partition O(d²),
    * and shuffle volume is partitions × (d(d+1)/2 + d + 1) — half the
    * explode path's, via symmetry. The collected buffer (one row,
    * same k-row-scalar family as the PCA collect that consumes this
    * matrix) is re-broadcast and the (i,j,cov) grid is emitted by a
    * map over `spark.range(d²)` — no corpus re-read.
    *
    * Both routes round to `scale` then `+0.0` (signed-zero canon), so
    * they agree cell-for-cell at the oracle precision. The dimension
    * probe is a min/max-size aggregate so ragged input fails fast on
    * BOTH routes (a 1-row peek chose the route nondeterministically).
    */
  def embedCovariance(emb: DataFrame, vecCol: String, scale: Int = 6,
      largeDThreshold: Int = 8): DataFrame = {
    val v = emb.select(KMeansOps.asDouble(col(vecCol)).as("v"))
      .filter(size(col("v")) > 0)
    // uniform-dimension probe (ADVICE r9): a one-row peek routes
    // nondeterministically on ragged input and the two routes disagree
    // in failure mode — a min/max aggregate fails fast on both
    val probe = v.agg(min(size(col("v"))).as("dmin"),
      max(size(col("v"))).as("dmax")).collect()(0)
    val d = if (probe.isNullAt(0)) 0 else probe.getInt(0)
    require(probe.isNullAt(1) || probe.getInt(1) == d,
      s"embedCovariance: ragged vector lengths ($d..${probe.getInt(1)})")
    if (d > largeDThreshold) return covByMoments(v, d, scale)
    val sums = v.select(posexplode(concat(
        flatten(transform(col("v"), x => transform(col("v"), y => x * y))),
        col("v"))).as(Seq("idx", "x")))
      .groupBy(col("idx")).agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val mu = sums.filter(col("idx") >= d * d)
      .select((col("idx") - d * d).cast("int").as("i"), (col("s") / col("n")).as("mu"))
    sums.filter(col("idx") < d * d)
      .select((col("idx") / d).cast("int").as("i"),
        pmod(col("idx"), lit(d)).cast("int").as("j"), col("s"), col("n"))
      .join(broadcast(mu.select(col("i"), col("mu").as("mui"))), Seq("i"))
      .join(broadcast(mu.select(col("i").as("j"), col("mu").as("muj"))), Seq("j"))
      .select(col("i"), col("j"),
        // + 0.0 canonicalizes IEEE signed zero: round(-1e-9, 6) is -0.0,
        // and the driver's value hash distinguishes ±0.0 (r8 red row)
        (round(col("s") / col("n") - col("mui") * col("muj"), scale) +
          lit(0.0)).as("cov"))
  }

  /** Large-d covariance route (see [[embedCovariance]]): single-pass
    * [[graft.functions.CovMoments]] fold → one buffer row collected →
    * (i,j,cov) grid emitted distributedly from `range(d²)` against the
    * re-broadcast buffer. Rounding applied as a Column op so both
    * routes share the exact round/±0.0 semantics.
    */
  private def covByMoments(v: DataFrame, d: Int, scale: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val buf = v.select(col("v")).as[Array[Double]]
      .select(new graft.functions.CovMoments(d).toColumn)
      .collect()(0)
    val tri = d * (d + 1) / 2
    val n = buf(tri + d)
    require(n > 0, "empty embedding table")
    val bc = spark.sparkContext.broadcast(buf)
    spark.range(d.toLong * d).map { idx =>
      val b = bc.value
      val i = (idx / d).toInt; val j = (idx % d).toInt
      val nn = b(tri + d)
      val s = b(graft.functions.CovMoments.triIndex(d, i, j))
      (i, j, s / nn - (b(tri + i) / nn) * (b(tri + j) / nn))
    }.toDF("i", "j", "cov")
      .select(col("i"), col("j"),
        (round(col("cov"), scale) + lit(0.0)).as("cov"))
  }

  /** The power-iteration loop behind [[topPBasis]]/[[pcaProject]]:
    * `iters` raw (un-normalized) steps from the deterministic start
    * (1,…,1)/√d, so the axis stays a closed-form polynomial of the
    * rounded matrix (the oracle recipe), with an out-of-[1e-100,1e100]
    * rescale guard that is bit-for-bit inert at oracle iteration
    * counts. Returns the un-normalized v.
    */
  private def powerLoop(m: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = m.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      v = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }
        s
      })
      val mx = v.map(math.abs).max
      if (mx > 0 && (mx < 1e-100 || mx > 1e100)) {
        val inv = 1.0 / mx
        v = v.map(_ * inv)
      }
      it += 1
    }
    v
  }

  /** Asymmetric-distance (ADC) top-k search over PQ codes (Jégou, Douze
    * & Schmid, TPAMI 2011 §IV) — the query-time half of IVF-PQ that
    * [[pqCodes]] is the build-time half of: each query precomputes one
    * m×k lookup table of squared subspace distances to every codebook
    * slice, and a corpus vector's approximate distance is the sum of m
    * table lookups over its codes — the corpus's FLOATS are never read
    * at query time, only its m-byte codes. `codebook` must be sorted by
    * its id so the positional code a tie breaks to equals the smallest
    * codebook id (engine-independent ranking).
    *
    * Scale: the corpus side is ONE map-side projection — m fused
    * [[graft.functions.NearestCentroid]] argmins encode each vector
    * (zero shuffle, same kernel as [[pqCodes]]), and at 100 TB the
    * codes would be encoded once and stored (64 floats → 4 bytes/row
    * here). Queries ride as a broadcast row each carrying its FLATTENED
    * m·k LUT array; the scan is a broadcast nested-loop over ≤ |Q|
    * query rows with the per-row cost m array lookups — no join on
    * (sub, code), no nq×n shuffle: only the per-query top-k window
    * (k·|Q| rows after the per-partition rank short-circuit) moves.
    * Ranking is on ROUNDED adist (ties by corpus id), the
    * rounded-before-ordered device. Output: (qid, rank, id, adist)
    * where adist = √(Σ_s ‖q_s − cb[code_s]_s‖²).
    */
  def pqAdcTopK(
      emb: DataFrame, idCol: String, vecCol: String, m: Int,
      codebook: Array[(Long, Array[Double])],
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, scale: Int = 6): DataFrame = {
    require(codebook.nonEmpty, "codebook must be non-empty")
    val d = codebook.head._2.length
    require(m > 0 && d % m == 0, s"dim $d not divisible into $m subspaces")
    require(codebook.map(_._1).toSeq == codebook.map(_._1).sorted.toSeq,
      "codebook must be sorted by id (positional ties = id ties)")
    val ds = d / m
    val kcb = codebook.length
    // corpus → m positional codes, one map-side projection
    val subs = (0 until m).map { s =>
      val cents = codebook.zipWithIndex.map { case ((_, v), j) =>
        j.toLong -> v.slice(s * ds, (s + 1) * ds)
      }
      graft.functions.NearestCentroid.nearest_centroid(
        slice(col(vecCol), s * ds + 1, ds), cents).getField("cid")
    }
    val codes = emb.select(col(idCol).as("id"), array(subs: _*).as("codes"))
    // queries → flattened LUT: lut[s·k + j] = ‖q_s − cb[j]_s‖², the
    // fold sequential over dims (same IEEE order as the verify kernel)
    val lutCells = for (s <- 0 until m; j <- 0 until kcb) yield {
      val cbs = codebook(j)._2.slice(s * ds, (s + 1) * ds)
      aggregate(
        zip_with(slice(col("qv"), s * ds + 1, ds),
          lit(cbs), (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, v) => acc + v)
    }
    val lut = queries
      .select(col(qIdCol).as("qid"), KMeansOps.asDouble(col(qVecCol)).as("qv"))
      .select(col("qid"), array(lutCells: _*).as("lut"))
    val adist = round(sqrt(aggregate(
      sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, s) => acc +
        element_at(col("lut"), (s * kcb).cast("int") +
          element_at(col("codes"), s + 1).cast("int") + 1))), scale)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("id"))
    codes.crossJoin(broadcast(lut))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adist"))
  }

  /** PCA projection onto the dominant covariance eigenvector — the
    * whitening/drift-monitoring rotation step: collect the ROUNDED
    * [[embedCovariance]] matrix (d² doubles — k-row-scalar family,
    * like centroids), run `iters` UN-normalized power-method steps from
    * the deterministic start (1,…,1)/√d (fixed iteration count and no
    * per-step normalization keep the axis a closed-form polynomial of
    * the rounded matrix — the value-oracle contract), normalize once, orient the
    * first nonzero component positive, and project every CENTERED
    * vector: proj = v·u − μ·u (the mean term is one constant, so
    * centering never touches the data). μ is rounded (9 dp) before the
    * constant so both engines subtract the identical shift.
    *
    * Scale: two k-row-scalar collects (cov cells, d means); the
    * projection itself is ONE map-side codegen [[dot]] against a
    * broadcast literal axis — zero shuffle, zero join, one corpus
    * read. Output: (idCol, proj), rounded.
    */
  def pcaProject(
      emb: DataFrame, idCol: String, vecCol: String,
      iters: Int = 3, scale: Int = 6): DataFrame = {
    // topPBasis(p=1, pinU=false) IS this recipe: same cov/μ collects,
    // same raw power steps, one normalize, first-nonzero-positive —
    // and pinU=false keeps u UNROUNDED exactly as the q_pca_project
    // oracle derives it (only topPBasis's deflation needs the 9-dp pin)
    val (d, mu, basis) = topPBasis(emb, vecCol, p = 1, iters, pinU = false)
    val u = basis.head._2
    val shift = (0 until d).foldLeft(0.0)((s, i) => s + mu.getOrElse(i, 0.0) * u(i))
    emb.select(col(idCol),
      round(dot(KMeansOps.asDouble(col(vecCol)), typedlit(u.toSeq)) - shift, scale)
        .as("proj"))
  }

  /** Driver-side top-p eigenbasis of the ROUNDED covariance via power
    * iteration + HOTELLING DEFLATION: find u₁ (iters un-normalized
    * steps from (1,…,1)/√d, normalize once, first-nonzero-positive),
    * take λ₁ = u₁ᵀMu₁ (Rayleigh on the current matrix), subtract
    * λ₁u₁u₁ᵀ, repeat p times. Every uₓ component and every λₓ is
    * rounded to 9 dp BEFORE deflation/projection — the cross-engine
    * pinning device: both engines then subtract bitwise-identical
    * rank-1 terms, so the deflated matrices agree exactly and only
    * the final 6-dp round has to absorb summation-order noise.
    *
    * Scale: two k-row-scalar collects (d² rounded cov cells, d means);
    * everything else is driver math on a d×d array. Returns
    * (d, μ rounded 9 dp, [(λₓ, uₓ)] in dominance order).
    */
  private[graft] def topPBasis(
      emb: DataFrame, vecCol: String, p: Int, iters: Int,
      pinU: Boolean = true):
      (Int, Map[Int, Double], Seq[(Double, Array[Double])]) = {
    require(p >= 1, "need at least one component")
    // Run-scoped memo (VERDICT r9 #7): q_pca_top2/q_whiten/q_mahalanobis
    // each re-derive the identical (d, μ, basis) from the same table —
    // two corpus aggregations apiece. Key = backing files + canonical
    // plan string, so a filtered/derived view never aliases its source
    // and a re-read of the same parquet HITS. In-memory frames (specs)
    // have no inputFiles → computed fresh, no cross-test aliasing.
    // each file's (mtime, length) rides in the key (ADVICE r10): an
    // in-place parquet overwrite that reuses paths mid-JVM then
    // MISSES instead of serving the stale basis. Unstattable paths
    // key as "?" — a refresh that changes nothing observable keys
    // identically, which is the best any cache can promise. The
    // stamping device is shared with the frame-valued [[DfMemo]].
    DfMemo.stampedFiles(emb) match {
      case None => computeTopPBasis(emb, vecCol, p, iters, pinU)
      case Some(stamped) =>
        val key = (stamped,
          emb.queryExecution.analyzed.canonicalized.toString,
          vecCol, p, iters, pinU)
        basisCache.computeIfAbsent(key,
          _ => computeTopPBasis(emb, vecCol, p, iters, pinU))
    }
  }

  private val basisCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Int, Int, Boolean),
    (Int, Map[Int, Double], Seq[(Double, Array[Double])])]()

  private def computeTopPBasis(
      emb: DataFrame, vecCol: String, p: Int, iters: Int, pinU: Boolean):
      (Int, Map[Int, Double], Seq[(Double, Array[Double])]) = {
    val covRows = embedCovariance(emb, vecCol).collect()
    require(covRows.nonEmpty, "empty embedding table")
    val d = covRows.iterator.map(_.getInt(0)).max + 1
    val m = Array.ofDim[Double](d, d)
    covRows.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val mu = emb.select(posexplode(KMeansOps.asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("i")).agg(round(avg(col("x")), 9).as("mu"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val basis = Seq.newBuilder[(Double, Array[Double])]
    (0 until p).foreach { c =>
      val v = powerLoop(m, iters)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      require(nrm > 0,
        s"degenerate covariance: zero direction at component ${c + 1} — reduce p")
      val flip = v.find(_ != 0.0).exists(_ < 0)
      // pinU: 9-dp pin of every component BEFORE deflation/projection —
      // the cross-engine device that keeps both engines subtracting
      // bitwise-identical rank-1 terms. pcaProject's oracle predates the
      // pin and ranks on the UNROUNDED axis (pinU=false; p=1, the
      // deflation below never feeds a second component there).
      val u = v.map { x =>
        val y = (if (flip) -x else x) / nrm
        if (pinU) r9(y) else y
      }
      var lam = 0.0
      var i = 0
      while (i < d) {
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * u(j); j += 1 }
        lam += u(i) * s; i += 1
      }
      lam = r9(lam)
      basis += ((lam, u))
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) { m(i)(j) -= lam * u(i) * u(j); j += 1 }
        i += 1
      }
    }
    (d, mu, basis.result())
  }

  /** Top-p PCA projection — the multi-component extension of
    * [[pcaProject]] the whitening/drift use case actually needs: each
    * vector's coordinates in the [[topPBasis]] deflated eigenbasis,
    * centered by the constant μ·uₓ shift. Output:
    * (idCol, pc1 … pcp), each rounded + signed-zero-canonicalized.
    *
    * Scale: after the two k-row-scalar basis collects, the projection
    * is ONE map-side pass — p codegen [[dot]]s against broadcast
    * literal axes, zero shuffle, one corpus read.
    */
  def pcaProjectTop(
      emb: DataFrame, idCol: String, vecCol: String,
      p: Int = 2, iters: Int = 3, scale: Int = 6): DataFrame = {
    val (d, mu, basis) = topPBasis(emb, vecCol, p, iters)
    val cols = basis.zipWithIndex.map { case ((_, u), c) =>
      val shift = (0 until d).foldLeft(0.0)((s, i) => s + mu.getOrElse(i, 0.0) * u(i))
      (round(dot(KMeansOps.asDouble(col(vecCol)), typedlit(u.toSeq)) - shift, scale) +
        lit(0.0)).as(s"pc${c + 1}")
    }
    emb.select(col(idCol) +: cols: _*)
  }

  /** Mahalanobis outlier screen in the top-p eigenbasis — the score the
    * covariance scaladoc promises: score(v) = Σₓ pcₓ(v)²/λₓ, the
    * squared Mahalanobis distance restricted to the p dominant
    * components (the full-rank form needs Σ⁻¹; truncating to the top-p
    * basis is the standard large-d surrogate — directions below the
    * basis carry near-noise variance). High score = far from the data
    * cloud along its own principal axes → embedding-quality outlier.
    *
    * Each pcₓ is rounded (6 dp) BEFORE squaring and λₓ is the 9-dp
    * Rayleigh value, so the score is exact arithmetic on
    * engine-identical doubles. Output: (idCol, score).
    *
    * Scale: identical to [[pcaProjectTop]] — p broadcast-literal dots,
    * map-side, zero shuffle.
    */
  def mahalanobisScore(
      emb: DataFrame, idCol: String, vecCol: String,
      p: Int = 2, iters: Int = 3, scale: Int = 6): DataFrame = {
    val (d, mu, basis) = topPBasis(emb, vecCol, p, iters)
    basis.foreach { case (lam, _) =>
      require(lam > 0,
        s"non-positive eigenvalue $lam in top-$p basis — reduce p") }
    val score = basis.map { case (lam, u) =>
      val shift = (0 until d).foldLeft(0.0)((s, i) => s + mu.getOrElse(i, 0.0) * u(i))
      val pc = round(dot(KMeansOps.asDouble(col(vecCol)), typedlit(u.toSeq)) - shift, scale)
      pc * pc / lit(lam)
    }.reduce(_ + _)
    emb.select(col(idCol), (round(score, scale) + lit(0.0)).as("score"))
  }

  /** PCA whitening in the top-p eigenbasis: wₓ = pcₓ/√λₓ — the
    * decorrelated unit-variance coordinates drift monitors and
    * distance metrics want ([[mahalanobisScore]] is exactly Σ wₓ²).
    * Each pcₓ is rounded before the division and λₓ is the 9-dp
    * Rayleigh value, so wₓ is exact arithmetic on engine-identical
    * doubles. Output: (idCol, w1 … wp). Scale: identical to
    * [[pcaProjectTop]] — p broadcast-literal codegen dots, zero
    * shuffle.
    */
  def whiten(
      emb: DataFrame, idCol: String, vecCol: String,
      p: Int = 2, iters: Int = 3, scale: Int = 6): DataFrame = {
    val (d, mu, basis) = topPBasis(emb, vecCol, p, iters)
    basis.foreach { case (lam, _) =>
      require(lam > 0, s"non-positive eigenvalue $lam in top-$p basis — reduce p") }
    val cols = basis.zipWithIndex.map { case ((lam, u), c) =>
      val shift = (0 until d).foldLeft(0.0)((s, i) => s + mu.getOrElse(i, 0.0) * u(i))
      val pc = round(dot(KMeansOps.asDouble(col(vecCol)), typedlit(u.toSeq)) - shift, scale)
      (round(pc / math.sqrt(lam), scale) + lit(0.0)).as(s"w${c + 1}")
    }
    emb.select(col(idCol) +: cols: _*)
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix: s(j,i) = +1
    * when the first hex digit of md5("jl:j:i") is even (Achlioptas
    * JCSS 2003 — ±1 entries satisfy the JL lemma at the same k as
    * Gaussian ones, and an md5-keyed sign rebuilds bit-for-bit on any
    * engine, the portable-hash device the MinHash/CMS oracles use).
    */
  private[graft] def jlSigns(k: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(k, d) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl:$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
    }

  /** Johnson–Lindenstrauss random projection to k dims: y_j =
    * (Σᵢ xᵢ·s(j,i))/√k with the deterministic [[jlSigns]] matrix — the
    * dimensionality-reduction step in front of ANN/clustering when d
    * is production-wide (pairwise distances preserved within
    * 1±ε at k = O(ln n/ε²), data-independent, no training pass).
    *
    * Scale: the k×d sign matrix is a driver literal (k·d doubles —
    * k=16, d=4096 is 0.5 MB, broadcast once); the projection is ONE
    * map-side pass of k fused codegen [[dot]]s — zero shuffle, zero
    * join, one corpus read. Output LONG form (idCol, j, y), rounded.
    */
  def jlProject(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, scale: Int = 6): DataFrame = {
    require(k >= 1)
    val probe = emb.select(size(KMeansOps.asDouble(col(vecCol))).as("d"))
      .limit(1).collect()
    val d = if (probe.isEmpty) 0 else probe(0).getInt(0)
    val signs = jlSigns(k, d)
    val rt = math.sqrt(k.toDouble)
    val ys = (0 until k).map { j =>
      struct(lit(j).as("j"),
        (round(dot(KMeansOps.asDouble(col(vecCol)), typedlit(signs(j).toSeq)) / rt,
          scale) + lit(0.0)).as("y"))
    }
    emb.select(col(idCol), explode(array(ys: _*)).as("p"))
      .select(col(idCol), col("p.j"), col("p.y"))
  }

  /** Truncated-dimension retrieval recall — the matryoshka-style
    * evaluation that prices "how many dims can the ANN tier drop":
    * for each probe vector, the exact rounded-cosine top-`k` neighbor
    * sets under the FULL vector and under its first `dTrunc` dims,
    * reported as (id, n_common ∈ [0,k]). Ranking on ROUNDED cosine
    * with id ties (the engine-independent boundary device), probes =
    * rows where idCol % `probeEvery` = 0 so the quadratic stays
    * bounded at eval time.
    *
    * Scale: two broadcast-probe passes over the corpus (probes ≤
    * n/probeEvery ride as the broadcast side), only the top-k windows
    * shuffle. The eval is a SAMPLE by design — recall curves need
    * probes, not the full n² matrix.
    */
  def truncRecall(
      emb: DataFrame, idCol: String, vecCol: String,
      dTrunc: Int, k: Int = 5, probeEvery: Int = 50,
      scale: Int = 4): DataFrame = {
    require(dTrunc >= 1)
    topKOverlap(emb, idCol,
      KMeansOps.asDouble(col(vecCol)),
      slice(KMeansOps.asDouble(col(vecCol)), 1, dTrunc),
      k, probeEvery, scale)
  }

  /** JL-space retrieval recall — the quantitative payoff of
    * [[jlProject]], graded exactly like [[truncRecall]]: per probe,
    * |top-k ∩ top-k| between the full-d rounded-cosine ranking and the
    * ranking in the k-dim JL sign-projection space (each JL coordinate
    * rounded 6 dp so both engines rank identical doubles). Compare
    * against `truncRecall` at the same dimension budget to price
    * data-independent projection vs naive prefix truncation.
    */
  def jlRecall(
      emb: DataFrame, idCol: String, vecCol: String,
      kDims: Int = 16, k: Int = 5, probeEvery: Int = 50,
      scale: Int = 4): DataFrame = {
    require(kDims >= 1)
    val probe = emb.select(size(KMeansOps.asDouble(col(vecCol))).as("d"))
      .limit(1).collect()
    val d = if (probe.isEmpty) 0 else probe(0).getInt(0)
    val signs = jlSigns(kDims, d)
    val rt = math.sqrt(kDims.toDouble)
    val jlv = array((0 until kDims).map { j =>
      round(dot(KMeansOps.asDouble(col(vecCol)), typedlit(signs(j).toSeq)) / rt, 6) +
        lit(0.0)
    }: _*)
    topKOverlap(emb, idCol, KMeansOps.asDouble(col(vecCol)), jlv,
      k, probeEvery, scale)
  }

  /** Shared kernel of [[truncRecall]]/[[jlRecall]]: top-`k`
    * rounded-cosine neighbor sets under two vector definitions (id
    * ties — the engine-independent boundary device), overlap counted
    * per probe row (idCol % probeEvery = 0). Both vector columns are
    * computed ONCE in the base projection (attributes, not re-inlined
    * trees); probes broadcast, only the top-k windows shuffle.
    */
  private def topKOverlap(
      emb: DataFrame, idCol: String, fullVec: Column, altVec: Column,
      k: Int, probeEvery: Int, scale: Int): DataFrame = {
    require(k >= 1 && probeEvery >= 1)
    val base = emb.select(col(idCol), fullVec.as("__fv"), altVec.as("__av"))
    val probes = base.filter(col(idCol) % probeEvery === 0)
    def topSet(vc: String): DataFrame = {
      // zero-norm guard (ADVICE r9): an all-zero vector (possible for a
      // truncated/JL prefix) yields NaN cosines whose sort placement is
      // an engine edge — drop such rows from ranking on BOTH sides; a
      // zero-norm probe still reports n_common=0 via the final right
      // join. Oracles mirror with `WHERE na.nrm > 0 AND nb.nrm > 0`.
      val qs = probes.select(col(idCol).as("qid"), col(vc).as("qv"))
        .filter(dot(col("qv"), col("qv")) > 0)
      val cs = base.select(col(idCol).as("cid"), col(vc).as("cv"))
        .filter(dot(col("cv"), col("cv")) > 0)
      val cos = round(dot(col("qv"), col("cv")) /
        (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("cv"), col("cv")))), scale)
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      cs.crossJoin(broadcast(qs))
        .filter(col("cid") =!= col("qid"))
        .withColumn("cos", cos)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("cid"))
    }
    topSet("__fv").as("f")
      .join(topSet("__av").as("t"),
        col("f.qid") === col("t.qid") && col("f.cid") === col("t.cid"))
      .groupBy(col("f.qid").as("qid")).agg(count(lit(1)).as("n_common"))
      .join(probes.select(col(idCol).as("qid")), Seq("qid"), "right")
      .select(col("qid"), coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** Full IVF-PQ routed search (Jégou, Douze & Schmid, TPAMI 2011
    * §IV-A "IVFADC") — [[pqAdcTopK]] composed with the coarse
    * inverted-file routing of [[ivfTopK]], on RESIDUALS as the paper
    * specifies: corpus vectors are assigned to their nearest coarse
    * cell and PQ-encode the residual v − c(cell); each query probes
    * its `nprobe` nearest cells and scores a candidate as the sum of
    * m lookups into the per-probed-cell LUT of
    * ‖(q − c_cell)_s − cb[j]_s‖². Unprobed cells are never touched —
    * the recall/cost dial billion-scale ANN actually ships with.
    *
    * Scale: the corpus side is ONE map-side projection (coarse argmin
    * + m residual argmins, all fused codegen kernels — zero shuffle;
    * at 100 TB encode once, store cell + m codes). Queries ride as a
    * broadcast row each carrying nprobe·m·k LUT doubles (the
    * interpreted LUT HOFs run on |Q| rows only); the probe is a
    * broadcast nested-loop with an array_contains(cell) filter, so a
    * candidate costs one array_position + m lookups and non-candidates
    * one containment test. Only the per-query top-k window shuffles.
    * Both centroid tables are sorted-by-id driver arrays (k-row-scalar
    * family) so positional code ties ≡ id ties. Ranking on ROUNDED
    * adist, ties by id. Output: (qid, rank, id, adist).
    */
  def ivfPqTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      coarse: Array[(Long, Array[Double])], m: Int,
      codebook: Array[(Long, Array[Double])],
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int, scale: Int = 6): DataFrame = {
    require(coarse.nonEmpty && codebook.nonEmpty,
      "coarse + codebook must be non-empty")
    val d = coarse.head._2.length
    require(m > 0 && d % m == 0, s"dim $d not divisible into $m subspaces")
    require(coarse.map(_._1).toSeq == coarse.map(_._1).sorted.toSeq &&
      codebook.map(_._1).toSeq == codebook.map(_._1).sorted.toSeq,
      "coarse + codebook must be sorted by id (positional ties = id ties)")
    require(nprobe >= 1 && nprobe <= coarse.length)
    val ds = d / m
    val kcb = codebook.length
    val coarsePos = coarse.zipWithIndex.map { case ((_, v), j) => j.toLong -> v }
    val centLit = typedlit(coarse.map(_._2.toSeq).toSeq)
    val cbLit = typedlit(codebook.map(_._2.toSeq).toSeq)

    // ---- corpus: (id, cell, codes) in one projection
    val enc = emb.select(col(idCol).as("id"),
        KMeansOps.asDouble(col(vecCol)).as("v"))
      .withColumn("cell", graft.functions.NearestCentroid
        .nearest_centroid(col("v"), coarsePos).getField("cid").cast("int"))
      .withColumn("resid", zip_with(col("v"),
        element_at(centLit, col("cell") + 1), (x, c) => x - c))
      .withColumn("codes", array((0 until m).map { s =>
        val cents = codebook.zipWithIndex.map { case ((_, v), j) =>
          j.toLong -> v.slice(s * ds, (s + 1) * ds)
        }
        graft.functions.NearestCentroid.nearest_centroid(
          slice(col("resid"), s * ds + 1, ds), cents).getField("cid").cast("int")
      }: _*))
      .select(col("id"), col("cell"), col("codes"))

    // ---- queries: routed cells + flattened per-cell LUTs (|Q| rows)
    val qv = col("qv")
    val cellDists = transform(sequence(lit(0), lit(coarse.length - 1)), c =>
      struct(
        aggregate(zip_with(qv, element_at(centLit, c + 1),
          (x, cc) => (x - cc) * (x - cc)), lit(0.0), (a, x) => a + x).as("d2"),
        c.as("cell")))
    val routed = transform(
      slice(array_sort(cellDists), 1, nprobe), s => s.getField("cell"))
    // lut[(p·m + s)·k + j] = ‖(q − c_routed(p))_s − cb[j]_s‖²
    val lut = flatten(transform(col("routed"), c =>
      transform(sequence(lit(0), lit(m * kcb - 1)), t => {
        val s = floor(t / lit(kcb)).cast("int")
        val j = pmod(t, lit(kcb)).cast("int")
        aggregate(
          zip_with(
            slice(qv, s * ds + 1, lit(ds)),
            zip_with(
              slice(element_at(centLit, c.cast("int") + 1), s * ds + 1, lit(ds)),
              slice(element_at(cbLit, j + 1), s * ds + 1, lit(ds)),
              (a, b) => a + b),
            (x, cc) => (x - cc) * (x - cc)),
          lit(0.0), (a, x) => a + x)
      })))
    val q = queries
      .select(col(qIdCol).as("qid"), KMeansOps.asDouble(col(qVecCol)).as("qv"))
      .withColumn("routed", routed)
      .withColumn("lut", lut)
      .select(col("qid"), col("routed"), col("lut"))

    // ---- probe: candidates = vectors in a routed cell; m LUT lookups
    val p = array_position(col("routed"), col("cell")).cast("int") - 1
    val adist = round(sqrt(aggregate(
      sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, s) => acc + element_at(col("lut"),
        (col("__p") * (m * kcb)) + (s * kcb) +
          element_at(col("codes"), s + 1).cast("int") + 1))),
      scale)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("id"))
    enc.crossJoin(broadcast(q))
      .filter(array_contains(col("routed"), col("cell")))
      .withColumn("__p", p)
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adist"))
  }

  /** Per-vector neighborhood density at a cosine threshold — the
    * embedding-quality screen under density-aware curation (SemDeDup's
    * cousin: dense regions are redundancy candidates, zero-density
    * points are outliers/noise): for every vector, the COUNT of other
    * vectors with rounded cosine ≥ minCos and the max such cosine
    * (null-free: isolated vectors report n_nbr=0, max_cos −1.0, so the
    * outlier set is an equality filter, not a null check).
    *
    * Scale: pair generation is [[cosinePairsBlocked]] — block-pair
    * tasks, no driver collect — and everything after operates on the
    * EDGE set (≥θ pairs only, orders of magnitude smaller than the
    * corpus): mirror to both directions, one partial-agg'd groupBy(id),
    * then a single left join back to the id column. The corpus's
    * vectors move once (pair gen); the density table that joins back is
    * ids+two numbers. Output: (id, n_nbr, max_cos).
    */
  def embedDensity(
      emb: DataFrame, idCol: String, vecCol: String, minCos: Double,
      scale: Int = 4, blocks: Int = 8): DataFrame = {
    // pre-filter half an ulp-of-scale BELOW the threshold: a raw cosine
    // of θ − 0.4·10⁻ˢ rounds UP into the kept set, so the kernel's cut
    // must admit it (ε guards the boundary itself)
    val pairs = cosinePairsBlocked(
        emb, idCol, vecCol, minCos - math.pow(10, -scale) / 2 - 1e-9, blocks)
      .withColumn("cos", round(col("cos"), scale))
      .filter(col("cos") >= minCos)
    // explode, not self-union (r17): the union form plans the blocked
    // pair kernel twice — one explode row-doubles the same pass
    val sym = pairs.select(explode(array(
        struct(col("id1").as("id"), col("cos")),
        struct(col("id2").as("id"), col("cos")))).as("e"))
      .select(col("e.id").as("id"), col("e.cos").as("cos"))
    val dens = sym.groupBy(col("id"))
      .agg(count(lit(1)).as("n_nbr"), max(col("cos")).as("max_cos"))
    emb.select(col(idCol).as("id"))
      .join(dens, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_nbr"), lit(0L)).as("n_nbr"),
        coalesce(col("max_cos"), lit(-1.0)).as("max_cos"))
  }
}

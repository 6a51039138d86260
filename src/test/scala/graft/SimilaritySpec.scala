package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val emb = Tables.table(spark, TestSpark.Sf, "embeddings")

  test("cosine basics: self=1, orthogonal=0, zero-norm guarded") {
    val df = Seq(
      (1L, Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (2L, Seq(1.0, 0.0), Seq(0.0, 2.0)),
      (3L, Seq(0.0, 0.0), Seq(1.0, 1.0)))
      .toDF("id", "a", "b")
    // the kernels' cosine: dot of the pre-normalized unit vectors
    val got = Similarity.withUnitVec(Similarity.withUnitVec(df, "a", "ua"), "b", "ub")
      .select($"id", Similarity.dot($"ua", $"ub").as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - 1.0) < 1e-12)
    assert(math.abs(got(2L)) < 1e-12)
    assert(got(3L) == 0.0)
  }

  test("knnSelfJoin: nprobe=C degenerates to the exact knnGraph; partial nprobe is a ranked subset") {
    val cells = emb
      .select($"vec_id".cast("long"),
        graft.ops.KMeansOps.asDouble($"embedding").as("v"))
      .filter($"vec_id" < 8).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // all cells probed → every pair is a candidate → exact result
    val full = Similarity.knnSelfJoin(emb, "vec_id", "embedding", cells,
        k = 5, nprobe = 8)
      .select($"qid", $"rank", $"nbr", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val exact = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
      .select($"src", $"rank", $"dst", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == exact, "nprobe=C must reproduce the exact kNN graph")
    // partial probing: ranks still 1..k contiguous per source, no
    // self-pairs, and every reported edge is a REAL pair (cos matches)
    val part = Similarity.knnSelfJoin(emb, "vec_id", "embedding", cells,
        k = 5, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(part.forall { case (q, _, n, _) => q != n })
    val byQ = part.groupBy(_._1)
    assert(byQ.values.forall(es => es.map(_._2).sorted.sameElements(1 to es.length)))
    val exactCos = exact.map { case (s, _, d, c) => (s, d) -> c }.toMap ++
      exact.map { case (s, _, d, c) => (d, s) -> c }
    // an edge surviving partial probing that ALSO appears in the exact
    // top-5 must carry the identical rounded cosine
    part.foreach { case (q, _, n, c) =>
      exactCos.get((q, n)).foreach(ec => assert(ec == c)) }
  }

  test("IVF top-k: subset of brute-force result with reasonable recall@5") {
    val queries = emb.filter($"vec_id" % 50 === 0)
    val brute = Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, cells = 8, nprobe = 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // unclustered gaussian data: nprobe 3/8 cells ≈ 3/8 of the corpus scanned
    assert(recall >= 0.25, s"recall@5 = $recall")
    assert(ivf.size <= brute.size)
    info(s"IVF recall@5 = $recall")
  }

  test("IVF nprobe: fixed centroids, recall monotone in nprobe; nprobe=cells equals brute force") {
    val queries = emb.filter($"vec_id" % 50 === 0)
    val pts = emb.select($"vec_id", graft.ops.KMeansOps.asDouble($"embedding").as("v"))
    val cents = pts.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"v".as("cvec"))
    val brute = Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    def recallAt(np: Int): Double = {
      val got = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
        k = 5, cells = 8, nprobe = np, centroids = Some(cents))
        .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
      (brute & got).size.toDouble / brute.size
    }
    val r1 = recallAt(1); val r2 = recallAt(2); val r8 = recallAt(8)
    info(s"IVF recall@5: nprobe=1 $r1, nprobe=2 $r2, nprobe=8 $r8")
    assert(r2 >= r1, "widening the probe set must not lose neighbors")
    assert(r2 >= 0.4, s"nprobe=2/8 cells must clear the recall floor, got $r2")
    // probing every cell scans the whole corpus: IVF must equal brute force
    assert(r8 == 1.0, s"nprobe=cells must have full recall, got $r8")
  }

  test("quantizeInt8: codes in [-127,127], reconstruction within one scale step, zero vector safe") {
    val rows = emb.select($"vec_id", graft.ops.KMeansOps.asDouble($"embedding").as("v"))
      .unionByName(Seq((999999L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "v"))
      .select($"vec_id", $"v", Similarity.quantizeInt8($"v").as("z"))
      .select($"vec_id", $"v", $"z.scale".as("s"), $"z.q".as("q"))
      .as[(Long, Seq[Double], Double, Seq[Int])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, v, s, q) =>
      assert(v.length == q.length, s"vec $id dims")
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id code range")
      if (s == 0.0) assert(q.forall(_ == 0), s"zero vector $id")
      else v.zip(q).foreach { case (x, c) =>
        assert(math.abs(c * s - x) <= s + 1e-12, s"vec $id reconstruction error > scale")
      }
    }
  }

  /** embeddings ∪ near-dup perturbed copies — mirrors SparkEntry.perturbedEmb. */
  def perturbed(sf: String) = {
    val base = Tables.table(spark, sf, "embeddings")
      .select($"vec_id", graft.ops.KMeansOps.asDouble($"embedding").as("v"))
    base.unionByName(base.select(
      ($"vec_id" + lit(1000000L)).as("vec_id"),
      transform($"v", (x, i) => x * (lit(0.98) + lit(0.01) * (i % 3).cast("double"))).as("v")))
  }

  test("cosinePairsBlocked == cosinePairsFast (exact distributed kernel parity)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = Tables.table(spark, sf, "embeddings")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("cos", round($"cos", 9))
          .as[(Long, Long, Double)].collect().toSet
      val fast = canon(Oracles.cosinePairsFast(emb, "vec_id", "embedding", 0.4))
      val blocked = canon(Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", 0.4, blocks = 7))
      assert(blocked == fast, s"$sf: blocked kernel diverges from collect kernel")
      assert(fast.nonEmpty)
    }
  }

  test("cosinePairsLsh: full recall vs exact pairs at the near-dup threshold (2 SFs)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val corpus = perturbed(sf)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("cos", round($"cos", 9))
          .as[(Long, Long, Double)].collect().toSet
      val exact = canon(Similarity.cosinePairsBlocked(corpus, "vec_id", "v", 0.9))
      val lsh = canon(Similarity.cosinePairsLsh(corpus, "vec_id", "v", 0.9))
      assert(lsh == exact, s"$sf: LSH must recover every ≥0.9 pair (miss p ~1e-19)")
      // one planted near-dup partner per original vector
      val n = Tables.table(spark, sf, "embeddings").count()
      assert(exact.size >= n, s"$sf: expected ≥ $n planted pairs, got ${exact.size}")
    }
  }

  test("HyperplaneSigns expression == driver-side reference band hashes") {
    val bands = 4; val bits = 8; val seed = 42L
    val unit = Similarity.withUnitVec(
      emb.select($"vec_id", graft.ops.KMeansOps.asDouble($"embedding").as("v")), "v", "u")
      .select($"vec_id", $"u")
    val dim = unit.select(size($"u")).as[Int].head()
    val planes = Similarity.hyperplanes(bands, bits, dim, seed)
    val got = unit.select($"vec_id",
        graft.functions.HyperplaneSigns.hyperplane_signs($"u", planes, bands, bits).as("bhs"))
      .as[(Long, Seq[Long])].collect().toMap
    val vecs = unit.as[(Long, Seq[Double])].collect().toMap
    vecs.foreach { case (id, u) =>
      val exp = (0 until bands).map { b =>
        (0 until bits).foldLeft(0L) { (bh, j) =>
          val off = (b * bits + j) * dim
          var s = 0.0
          var k = 0
          while (k < dim) { s += u(k) * planes(off + k); k += 1 }
          if (s >= 0) bh | (1L << j) else bh
        }
      }
      assert(got(id) == exp, s"vec $id")
    }
    assert(got.nonEmpty)
  }

  test("cosinePairsLsh: exact-verify step keeps only true ≥ minCos pairs (no false positives)") {
    val corpus = perturbed(TestSpark.Sf)
    val lsh = Similarity.cosinePairsLsh(corpus, "vec_id", "v", 0.9)
      .as[(Long, Long, Double)].collect()
    assert(lsh.forall(_._3 >= 0.9))
    assert(lsh.forall(p => p._1 < p._2))
  }

  test("semanticDedup: identical-direction twins in one cell collapse; cross-cell twins are NOT seen (recall contract)") {
    // two centroids on the x and y axes; three x-ish near-dup vectors,
    // one y-ish vector whose exact copy sits across the cell boundary
    // cannot be caught — that is SemDeDup's documented recall tradeoff
    val pts = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.999, 0.01)), (3L, Array(0.998, 0.02)),
      (10L, Array(0.0, 1.0)), (11L, Array(0.05, 0.998))
    ).toDF("id", "v")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("cid", "cvec")
    val labels = Similarity.semanticDedup(pts, "id", "v", cents, 0.99)
      .as[(Long, Long)].collect().toMap
    // 1,2,3 share cell 0 and are pairwise cos>0.99 -> one component, rep=1
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    // 10 and 11 share cell 1 and cos(10,11)>0.99 -> component rep=10
    assert(labels(10L) == 10L && labels(11L) == 10L)
    // cross-cell pair is invisible by construction: put 11's copy in cell 0
    val split = Seq(
      (1L, Array(1.0, 0.0)), (20L, Array(0.6, 0.8)), (21L, Array(0.62, 0.785))
    ).toDF("id", "v")
    val cents2 = Seq((0L, Array(0.61, 0.79)), (1L, Array(0.0, 1.0))).toDF("cid", "cvec")
    // 20 and 21 both route to cell 0 (closest) -> caught
    val got = Similarity.semanticDedup(split, "id", "v", cents2, 0.99)
      .as[(Long, Long)].collect().toMap
    assert(got.get(20L).contains(20L) && got.get(21L).contains(20L))
  }

  test("cosinePairsSparse: prefix-filtered APSS ≡ brute inverted-index join on the real corpus") {
    // tf-idf sparse vectors over the documents corpus — the exact input
    // family q_allpairs_tfidf runs on
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", graft.ops.TextOps.tokenizeFiltered(
        $"text", graft.Dictionaries.Stopwords, Nil).as("toks"))
    val n = docs.agg(count(lit(1)).as("n"))
    val vocab = graft.ops.Tfidf.docFreq(docs, "doc_id", "toks")
      .crossJoin(n)
      .filter($"df" <= lit(0.3) * $"n")
      .withColumn("idf", log(($"n" + lit(1.0)) / ($"df" + lit(1.0))) + lit(1.0))
      .select($"word", $"idf")
    val e = graft.ops.Tfidf.tfidfVectors(docs, "doc_id", "toks", vocab, scale = 6)
      .filter($"weight" > 0)
      .select($"doc_id".as("id"), $"word", $"weight".as("w"))
      .localCheckpoint()
    val theta = 0.3  // lower than the gated 0.5 — more boundary pairs exercised
    val brute = e.as("a")
      .join(e.as("b"), $"a.word" === $"b.word" && $"a.id" < $"b.id")
      .groupBy($"a.id".as("id1"), $"b.id".as("id2"))
      .agg(sum($"a.w" * $"b.w").as("cos"))
      .filter($"cos" >= theta)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val pref = Similarity.cosinePairsSparse(e, theta)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pref == brute, s"prefix ${pref.size} vs brute ${brute.size}")
    assert(brute.nonEmpty)  // the parity must witness actual pairs
  }

  test("pqCodes: codebook self-encodes at zero error; Σ err² is the true reconstruction gap; zero-shuffle plan") {
    import graft.ops.KMeansOps
    val pts = emb.select($"vec_id", KMeansOps.asDouble($"embedding").as("v"))
    val codebook = pts.filter($"vec_id" < 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val codes = Similarity.pqCodes(pts, "vec_id", "v", m = 4, codebook)
    val p = codes.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.toLowerCase.contains("join"),
      s"PQ encode must be one map-side projection:\n$p")

    val rows = codes.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // 1) every codebook vector codes to itself with zero residual
    for (cid <- 0L until 8L; s <- 0 until 4) {
      val (code, err) = rows((cid, s))
      assert(code == cid && err < 1e-12, s"codebook vec $cid sub $s: $code/$err")
    }
    // 2) per-vector Σ err² equals ‖v − decode(v)‖² exactly (decode =
    //    concatenated codebook slices)
    val book = codebook.toMap
    pts.filter($"vec_id" % 97 === 0).collect().foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      val errSq = (0 until 4).map(s => math.pow(rows((id, s))._2, 2)).sum
      val trueSq = (0 until 4).flatMap { s =>
        val cv = book(rows((id, s))._1)
        (s * 16 until (s + 1) * 16).map(i => math.pow(v(i) - cv(i), 2))
      }.sum
      assert(math.abs(errSq - trueSq) < 1e-9, s"vec $id: $errSq vs $trueSq")
    }
  }

  test("pqAdcTopK: with a codebook holding every vector, ADC ≡ exact Euclidean top-k; broadcast-only plan") {
    // 6 vectors, d=4, m=2 — codebook = all of them, so every vector
    // self-encodes (zero residual) and the ADC distance IS the exact
    // Euclidean distance
    val vecs = Seq(
      0L -> Array(0.0, 0.0, 0.0, 0.0),
      1L -> Array(1.0, 0.0, 0.0, 0.0),
      2L -> Array(0.0, 2.0, 0.0, 0.0),
      3L -> Array(0.0, 0.0, 3.0, 0.0),
      4L -> Array(0.0, 0.0, 0.0, 4.0),
      5L -> Array(1.0, 1.0, 1.0, 1.0))
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    val out = Similarity.pqAdcTopK(df, "id", "v", m = 2,
      vecs.toArray, df.filter($"id" < 2), "id", "v", k = 3)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"),
      s"ADC scan must be a broadcast NL probe:\n$p")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    for (qid <- 0L to 1L) {
      val qv = vecs.toMap.apply(qid)
      val exact = vecs.map { case (id, v) =>
        id -> math.sqrt(v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (id, dist) =>
        (BigDecimal(dist).setScale(6, BigDecimal.RoundingMode.HALF_UP), id)
      }.take(3)
      exact.zipWithIndex.foreach { case ((id, dist), i) =>
        val (gid, gd) = got((qid, i + 1))
        assert(gid == id && math.abs(gd - dist) < 1e-6,
          s"q$qid rank ${i + 1}: got ($gid, $gd), want ($id, $dist)")
      }
    }
  }

  test("pqAdcTopK on the real corpus: ranks 1..k, adist non-decreasing, codebook sorted required") {
    import graft.ops.KMeansOps
    val pts = emb.select($"vec_id", KMeansOps.asDouble($"embedding").as("v"))
    val codebook = pts.filter($"vec_id" < 8).orderBy("vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val out = Similarity.pqAdcTopK(pts, "vec_id", "v", m = 4, codebook,
      pts.filter($"vec_id" < 3), "vec_id", "v", k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 15)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5))
      assert(sorted.sliding(2).forall(w => w(0)._4 <= w(1)._4 + 1e-12),
        s"q$q adist must be non-decreasing in rank")
    }
    // unsorted codebook is rejected loudly (positional tie-break ≠ id tie-break)
    intercept[IllegalArgumentException] {
      Similarity.pqAdcTopK(pts, "vec_id", "v", m = 4, codebook.reverse,
        pts.filter($"vec_id" < 1), "vec_id", "v", k = 1)
    }
  }

  test("pcaProject: axis-aligned closed form; translation invariance (centering is exact)") {
    // variance lives entirely on dim 0 → u = (1, 0), proj = x0 − mean
    val axis = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(2.0, 0.0)),
      (3L, Seq(3.0, 0.0)), (4L, Seq(4.0, 0.0))).toDF("id", "v")
    val got = Similarity.pcaProject(axis, "id", "v")
      .as[(Long, Double)].collect().toMap
    (1L to 4L).foreach { i =>
      assert(math.abs(got(i) - (i - 2.5)) < 1e-6, s"id $i: ${got(i)}") }

    // shifting every vector by a constant leaves cov — and therefore
    // the centered projection — unchanged
    val shifted = Similarity.pcaProject(
        emb.select($"vec_id", transform(
          graft.ops.KMeansOps.asDouble($"embedding"), x => x + lit(7.5)).as("v")),
        "vec_id", "v")
      .as[(Long, Double)].collect().toMap
    val orig = Similarity.pcaProject(emb, "vec_id", "embedding")
      .as[(Long, Double)].collect().toMap
    orig.foreach { case (id, p) =>
      assert(math.abs(p - shifted(id)) < 2e-6, s"vec $id: $p vs ${shifted(id)}") }
  }

  test("ivfPqTopK: degenerate single-zero-cell ≡ pqAdcTopK; candidates come only from probed cells") {
    import graft.ops.KMeansOps
    val pts = emb.select($"vec_id", KMeansOps.asDouble($"embedding").as("v"))
    val codebook = pts.filter($"vec_id" < 8).orderBy("vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val d = codebook.head._2.length
    // ONE coarse cell at the origin: residual = v, routing is a no-op →
    // IVFADC degenerates to exhaustive ADC over the raw-vector codebook
    val zeroCell = Array(0L -> Array.fill(d)(0.0))
    val viaIvf = Similarity.ivfPqTopK(pts, "vec_id", "v", zeroCell, 4, codebook,
        pts.filter($"vec_id" < 3), "vec_id", "v", k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val viaAdc = Similarity.pqAdcTopK(pts, "vec_id", "v", 4, codebook,
        pts.filter($"vec_id" < 3), "vec_id", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(viaIvf.sortBy(r => (r._1, r._2)).toSeq == viaAdc.sortBy(r => (r._1, r._2)).toSeq)

    // real routing: every returned candidate's cell is among the
    // query's nprobe nearest cells
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + (a(i) - b(i)) * (a(i) - b(i)))
    val all = pts.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val coarse = codebook  // vec_id<8 doubles as the coarse quantizer here
    def cellOf(v: Array[Double]): Long =
      coarse.minBy { case (cid, c) => (d2(v, c), cid) }._1
    val out = Similarity.ivfPqTopK(pts, "vec_id", "v", coarse, 4, codebook,
        pts.filter($"vec_id" < 3), "vec_id", "v", k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    out.foreach { case (qid, id) =>
      val probed = coarse.map { case (cid, c) => (d2(all(qid), c), cid) }
        .sortBy(identity).take(3).map(_._2).toSet
      assert(probed.contains(cellOf(all(id))),
        s"candidate $id for query $qid sits in an unprobed cell")
    }
    assert(out.nonEmpty)
  }

  test("embedDensity: closed form on twins+orthogonal; Σ n_nbr = 2·|pairs| on the real corpus") {
    val tiny = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("id", "v")
    val got = Similarity.embedDensity(tiny, "id", "v", minCos = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((1L, 1.0)) && got(2L) == ((1L, 1.0)))
    assert(got(3L) == ((0L, -1.0)))

    val dens = Similarity.embedDensity(emb, "vec_id", "embedding", minCos = 0.5)
    val nPairs = Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", 0.4, 8)
      .withColumn("cos", round($"cos", 4)).filter($"cos" >= 0.5).count()
    val sumNbr = dens.agg(sum($"n_nbr")).head().getLong(0)
    assert(sumNbr == 2 * nPairs, s"Σ n_nbr $sumNbr vs 2·|pairs| ${2 * nPairs}")
    assert(dens.count() == emb.count(), "every vector reports a density row")
  }

  test("knnGraph: agrees with bruteTopK at 4dp ranking on the real corpus") {
    val sample = emb.filter($"vec_id" % 100 === 0)
    val graph = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
      .filter($"src" % 100 === 0)
      .select($"src", $"rank", $"dst").as[(Long, Int, Long)].collect()
      .map { case (s, r, d) => (s, r) -> d }.toMap
    // bruteTopK ranks on raw cosine; re-rank its candidates at 4dp with
    // the same (cos desc, dst) order to compare like with like
    val brute = Similarity.bruteTopK(sample, emb, "vec_id", "embedding", 10)
      .select($"query_id", $"vec_id",
        round($"cos", 4).as("c4"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy { case (_, d, c) => (-c, d) }.take(5).map(_._2).toSeq
      }
    brute.foreach { case (q, want) =>
      val got = (1 to 5).map(r => graph((q, r)))
      assert(got == want, s"query $q: $got vs $want")
    }
  }

  test("knnGraph: every vector gets exactly min(k, n-1) neighbors, no self-edges") {
    val tiny = emb.limit(4)
    val g = Similarity.knnGraph(tiny, "vec_id", "embedding", k = 10).collect()
    val byS = g.groupBy(_.getLong(0))
    assert(byS.size == 4)
    byS.foreach { case (s, rows) =>
      assert(rows.length == 3, s"src $s should have n-1=3 neighbors")
      assert(rows.forall(_.getLong(2) != s))
    }
  }

  test("embedCovariance: closed form on a 2×2 case; symmetric on the real corpus") {
    val tiny = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f))).toDF("id", "v")
    val cov = Similarity.embedCovariance(tiny, "v")
      .as[(Int, Int, Double)].collect().map { case (i, j, c) => (i, j) -> c }.toMap
    // mu=[2,3]; E[x0²]=5, E[x0x1]=7, E[x1²]=10 → all centered entries = 1
    assert(cov.size == 4)
    cov.values.foreach(c => assert(math.abs(c - 1.0) < 1e-9, cov))

    val real = Similarity.embedCovariance(emb, "embedding")
      .as[(Int, Int, Double)].collect().map { case (i, j, c) => (i, j) -> c }.toMap
    assert(real.size == 64 * 64)
    real.foreach { case ((i, j), c) =>
      assert(c == real((j, i)), s"cov($i,$j) must equal cov($j,$i)") }
    (0 until 64).foreach(i => assert(real((i, i)) >= 0.0, "diagonal = variance ≥ 0"))
  }

  test("embedCovariance large-d route: parity with explode path at d=64; closed form at d=256") {
    // parity: the DEFAULT route at the corpus's d=64 is CovMoments
    // since r17 (threshold 128 → 8); force the explode route back via
    // a large threshold and compare cell-for-cell at the oracle
    // precision (both round to 6 dp — one rounding-boundary ulp is the
    // only admissible difference)
    val small = Similarity.embedCovariance(emb, "embedding", largeDThreshold = 1000)
      .as[(Int, Int, Double)].collect().map { case (i, j, c) => (i, j) -> c }.toMap
    val large = Similarity.embedCovariance(emb, "embedding")
      .as[(Int, Int, Double)].collect().map { case (i, j, c) => (i, j) -> c }.toMap
    assert(large.size == small.size && small.size == 64 * 64)
    small.foreach { case (k, c) =>
      assert(math.abs(large(k) - c) <= 1.0000001e-6, s"cell $k: ${large(k)} vs $c") }

    // d=256 — a width the explode path would materialize 65 792 doubles
    // PER ROW for; deterministic synthetic data, closed-form expected
    val d = 256
    val n = 40
    val rows = (0 until n).map { r =>
      (r.toLong, (0 until d).map(i => ((r * 31 + i * 17) % 13).toDouble))
    }
    val got = Similarity.embedCovariance(rows.toDF("id", "v"), "v", scale = 9)
      .as[(Int, Int, Double)].collect().map { case (i, j, c) => (i, j) -> c }.toMap
    assert(got.size == d * d)
    val data = rows.map(_._2.toArray).toArray
    def mu(i: Int) = data.map(_(i)).sum / n
    Seq((0, 0), (0, 1), (5, 250), (255, 255), (100, 7), (13, 13)).foreach {
      case (i, j) =>
        val e = data.map(v => v(i) * v(j)).sum / n - mu(i) * mu(j)
        assert(math.abs(got((i, j)) - e) < 1e-6, s"($i,$j): ${got((i, j))} vs $e")
    }
    got.foreach { case ((i, j), c) => assert(c == got((j, i))) }
  }

  test("topPBasis: converged basis is orthonormal, dominance-ordered, and matches topEigen") {
    val (_, _, basis) = Similarity.topPBasis(emb, "embedding", p = 3, iters = 400)
    val lams = basis.map(_._1)
    assert(lams(0) >= lams(1) && lams(1) >= lams(2) && lams(2) > 0, lams)
    basis.foreach { case (_, u) =>
      assert(math.abs(math.sqrt(u.map(x => x * x).sum) - 1.0) < 1e-6) }
    for (a <- 0 until 3; b <- a + 1 until 3) {
      val d = basis(a)._2.zip(basis(b)._2).map { case (x, y) => x * y }.sum
      assert(math.abs(d) < 1e-5, s"u${a}.u${b} = $d")
    }
    // first component ≡ the converged topEigen pair
    val rows = Similarity.embedCovariance(emb, "embedding")
      .as[(Int, Int, Double)].collect()
    val d64 = 64
    val m = Array.ofDim[Double](d64, d64)
    rows.foreach { case (i, j, c) => m(i)(j) = c }
    val (lam1, v1) = Oracles.topEigen(m)
    assert(math.abs(basis(0)._1 - lam1) < 1e-6 * math.max(1.0, lam1))
    v1.zip(basis(0)._2).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
  }

  test("pcaProjectTop + mahalanobisScore: closed form on an axis-aligned 2-d set") {
    // 8 symmetric points → μ = 0, cov = diag(5, 1.25) EXACTLY; converged
    // basis is the axes, so pc1 = x, pc2 = y and score = x²/5 + y²/1.25
    val pts = Seq((1L, 4.0, 0.0), (2L, -4.0, 0.0), (3L, 2.0, 0.0), (4L, -2.0, 0.0),
      (5L, 0.0, 2.0), (6L, 0.0, -2.0), (7L, 0.0, 1.0), (8L, 0.0, -1.0))
    val df = pts.map { case (id, x, y) => (id, Seq(x.toFloat, y.toFloat)) }.toDF("id", "v")
    val pc = Similarity.pcaProjectTop(df, "id", "v", p = 2, iters = 60)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    pts.foreach { case (id, x, y) =>
      assert(pc(id) == ((x, y)), s"point $id: ${pc(id)} vs ($x,$y)") }
    val sc = Similarity.mahalanobisScore(df, "id", "v", p = 2, iters = 60)
      .as[(Long, Double)].collect().toMap
    pts.foreach { case (id, x, y) =>
      val e = x * x / 5.0 + y * y / 1.25
      assert(math.abs(sc(id) - e) < 1e-9, s"point $id: ${sc(id)} vs $e") }
    // real corpus: scores are finite and non-negative
    val real = Similarity.mahalanobisScore(emb, "vec_id", "embedding")
      .as[(Long, Double)].collect()
    assert(real.length == emb.count())
    real.foreach { case (id, s) =>
      assert(s >= 0 && !s.isNaN && !s.isInfinite, s"vec $id score $s") }
  }

  test("whiten: sum of squared whitened coords == mahalanobisScore (same basis)") {
    val w = Similarity.whiten(emb, "vec_id", "embedding", p = 2)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val sc = Similarity.mahalanobisScore(emb, "vec_id", "embedding", p = 2)
      .as[(Long, Double)].collect().toMap
    // w is rounded per-coordinate, score is rounded once — 6dp-class gap
    sc.foreach { case (id, score) =>
      val (w1, w2) = w(id)
      assert(math.abs(w1 * w1 + w2 * w2 - score) < 1e-4,
        s"vec $id: w=(${w1},${w2}) vs score $score")
    }
  }

  test("jlProject: deterministic, linear, and distance-preserving in expectation") {
    val p1 = Similarity.jlProject(emb, "vec_id", "embedding", k = 16)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    val p2 = Similarity.jlProject(emb, "vec_id", "embedding", k = 16)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(p1.sameElements(p2), "projection must be deterministic")
    assert(p1.length == emb.count() * 16)
    // JL property: ||y||^2 concentrates around ||x||^2 (E[||y||^2] = ||x||^2
    // for +-1 signs scaled by 1/sqrt(k)); check the ratio on real vectors
    val yn = p1.groupBy(_._1).map { case (id, rows) =>
      id -> rows.map(r => r._3 * r._3).sum }
    val xn = emb.select($"vec_id", Similarity.dot(
        graft.ops.KMeansOps.asDouble($"embedding"),
        graft.ops.KMeansOps.asDouble($"embedding")))
      .as[(Long, Double)].collect().toMap
    val ratios = yn.map { case (id, y) => y / xn(id) }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.5 && mean < 1.5, s"mean norm ratio $mean far from 1")
  }

  test("truncRecall: full-width truncation recovers k everywhere; bounded in [0,k]") {
    val full = Similarity.truncRecall(emb, "vec_id", "embedding",
      dTrunc = 64, k = 5, probeEvery = 100)
      .as[(Long, Long)].collect()
    assert(full.nonEmpty)
    full.foreach { case (q, n) => assert(n == 5, s"probe $q full-width n_common $n") }
    val t = Similarity.truncRecall(emb, "vec_id", "embedding",
      dTrunc = 8, k = 5, probeEvery = 100)
      .as[(Long, Long)].collect()
    assert(t.map(_._1).sorted.sameElements(full.map(_._1).sorted))
    t.foreach { case (q, n) => assert(n >= 0 && n <= 5) }
  }

  test("jlRecall: deterministic, bounded in [0,k], probe set matches truncRecall") {
    val jl = Similarity.jlRecall(emb, "vec_id", "embedding",
      kDims = 16, k = 5, probeEvery = 100).as[(Long, Long)].collect()
    val jl2 = Similarity.jlRecall(emb, "vec_id", "embedding",
      kDims = 16, k = 5, probeEvery = 100).as[(Long, Long)].collect()
    assert(jl.sortBy(_._1).sameElements(jl2.sortBy(_._1)))
    assert(jl.nonEmpty)
    jl.foreach { case (q, n) => assert(n >= 0 && n <= 5 && q % 100 == 0) }
    val tr = Similarity.truncRecall(emb, "vec_id", "embedding",
      dTrunc = 16, k = 5, probeEvery = 100).as[(Long, Long)].collect()
    assert(jl.map(_._1).sorted.sameElements(tr.map(_._1).sorted))
  }

  test("topEigen: dominant eigenpair of a known matrix; Rayleigh maximal on a real covariance") {
    val (l1, v1) = Oracles.topEigen(Array(Array(2.0, 0.0), Array(0.0, 1.0)))
    assert(math.abs(l1 - 2.0) < 1e-9)
    assert(math.abs(v1(0) - 1.0) < 1e-6 && math.abs(v1(1)) < 1e-6)

    val rows = Similarity.embedCovariance(emb, "embedding", scale = 12)
      .as[(Int, Int, Double)].collect()
    val d = 64
    val m = Array.ofDim[Double](d, d)
    rows.foreach { case (i, j, c) => m(i)(j) = c }
    val (lam, v) = Oracles.topEigen(m)
    // residual ‖Mv − λv‖ small, and λ ≥ variance along every axis
    val mv = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
    val resid = math.sqrt((0 until d).map(i => math.pow(mv(i) - lam * v(i), 2)).sum)
    assert(resid < 1e-6 * math.max(1.0, lam), s"residual $resid at lambda $lam")
    (0 until d).foreach(i => assert(lam >= m(i)(i) - 1e-9))
  }

  test("bruteTopK: ranks are 1..k per query, cos within [-1,1], no self-pairs") {
    val r = Similarity.bruteTopK(emb.filter($"vec_id" % 100 === 0), emb,
      "vec_id", "embedding", 5).collect()
    val byQ = r.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      rows.foreach { row =>
        assert(row.getLong(2) != q)
        val c = row.getDouble(3)
        assert(c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9)
      }
    }
  }

  test("protoPrune closed form: assignment ties, ceil quota, hardest-first keeps") {
    // c0 = (1,0), c1 = (0,1); id 6 is EQUIDISTANT (dist 1 to both) and
    // must break to the smaller cid — the SqlKmeansAssign tie rule
    val cells = Array(0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0))
    val df = Seq(
      (1L, Seq(2.0, 0.0)),   // cell0, proto 1.0
      (2L, Seq(1.0, 0.5)),   // cell0, proto 0.8944
      (6L, Seq(1.0, 1.0)),   // tie -> cell0, proto 0.7071
      (3L, Seq(0.6, 0.8)),   // cell1, proto 0.8
      (4L, Seq(0.0, 3.0)),   // cell1, proto 1.0
      (5L, Seq(0.1, 1.0)))   // cell1, proto 0.995
      .toDF("id", "v")
    def run(num: Int, den: Int) =
      Similarity.protoPrune(df, "id", "v", cells, num, den)
        .select($"id", $"cell", $"proto", $"rank", $"kept")
        .as[(Long, Long, Double, Int, Boolean)].collect()
        .map(r => r._1 -> r).toMap
    val h = run(1, 2)  // quota = ceil(3/2) = 2 per cell
    assert(h(6L)._2 == 0L, "equidistant point must land in the smaller cid")
    assert(h(1L)._3 == 1.0 && h(2L)._3 == 0.8944 && h(6L)._3 == 0.7071)
    // hardest ASC: cell0 keeps 6 (rank1), 2 (rank2); drops 1 (rank3)
    assert(h(6L)._4 == 1 && h(6L)._5 && h(2L)._4 == 2 && h(2L)._5)
    assert(h(1L)._4 == 3 && !h(1L)._5)
    // cell1 keeps 3 (0.8), 5 (0.995); drops 4 (1.0)
    assert(h(3L)._5 && h(5L)._5 && !h(4L)._5)
    val all = run(1, 1)  // keepFrac 1 keeps everything
    assert(all.values.forall(_._5))
    // per-cell kept count always equals the exact-rational ceil quota
    val counts = h.values.groupBy(_._2).map { case (c, rs) =>
      c -> rs.count(_._5) }
    assert(counts == Map(0L -> 2, 1L -> 2))
  }

  test("silhouette closed form: ratio, boundary zero, dead-center one, tie assignment, degenerate cells") {
    // centroids on a line: c0 = (0,0), c1 = (4,0)
    val cells = Array(0L -> Array(0.0, 0.0), 1L -> Array(4.0, 0.0))
    val df = Seq(
      (10L, Seq(1.0, 0.0)),  // a=1 b=3 -> (3-1)/3 = 0.666667, cell0
      (11L, Seq(2.0, 0.0)),  // equidistant: cell ties to 0, sil 0.0
      (12L, Seq(0.0, 0.0)),  // dead center: a=0 b=4 -> 1.0
      (13L, Seq(6.0, 0.0)))  // cell1, a=2 b=6 -> 0.666667
      .toDF("id", "v")
    val got = Similarity.silhouette(df, "id", "v", cells)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(10L) == (0L, 0.666667))
    assert(got(11L) == (0L, 0.0), "boundary point: smaller cid wins, sil 0")
    assert(got(12L) == (0L, 1.0))
    assert(got(13L) == (1L, 0.666667))
    assert(got.values.forall { case (_, s) => s >= -1.0 && s <= 1.0 })
    // both distances zero (identical centroids): 0 by convention, not NaN
    val dup = Array(0L -> Array(1.0, 1.0), 1L -> Array(1.0, 1.0))
    val z = Similarity.silhouette(
        Seq((1L, Seq(1.0, 1.0))).toDF("id", "v"), "id", "v", dup)
      .as[(Long, Long, Double)].collect()
    assert(z.toSeq == Seq((1L, 0L, 0.0)))
    // single cell has no "nearest other" — rejected, not mis-scored
    intercept[IllegalArgumentException] {
      Similarity.silhouette(df, "id", "v", cells.take(1))
    }
  }

  test("daviesBouldin closed form: worst-ratio per cell, empty cell scatters zero, dup centroids rejected") {
    // c0=(0,0), c1=(4,0), c2=(0,3); two points at dist 1 from each of
    // c0/c1, none assigned to c2. σ0=σ1=1, σ2=0; M01=4, M02=3, M12=5.
    // db0 = max(2/4, 1/3) = 0.5; db1 = max(2/4, 1/5) = 0.5;
    // db2 = max(1/3, 1/5) = 0.333333.
    val cells = Array(0L -> Array(0.0, 0.0), 1L -> Array(4.0, 0.0),
      2L -> Array(0.0, 3.0))
    val df = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.0, 1.0)),
      (12L, Seq(4.0, 1.0)), (13L, Seq(5.0, 0.0)))
      .toDF("id", "v")
    val got = Similarity.daviesBouldin(df, "id", "v", cells)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, 2L, 1.0, 0.5), (1L, 2L, 1.0, 0.5), (2L, 0L, 0.0, 0.333333)))
    intercept[IllegalArgumentException] {
      Similarity.daviesBouldin(df, "id", "v",
        Array(0L -> Array(1.0, 0.0), 1L -> Array(1.0, 0.0)))
    }
  }

  test("knnNdcg: full probing scores exactly 1 everywhere; partial probing bounded by (0, 1]") {
    val cells = emb
      .select($"vec_id".cast("long"),
        graft.ops.KMeansOps.asDouble($"embedding").as("v"))
      .filter($"vec_id" < 8).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // nprobe = C: the router IS the exact ranking — every qid at 1.0,
    // dcg ≡ idcg (the degeneracy anchor, same device as the recall spec)
    val full = Similarity.knnNdcg(emb, "vec_id", "embedding", cells,
        k = 5, nprobe = 8)
      .as[(Long, Double, Double, Double)].collect()
    assert(full.nonEmpty)
    assert(full.forall { case (_, d, i, nd) => nd == 1.0 && d == i })
    // partial probing: never above 1, and the mean stays high (the
    // 0.9-recall router should not crater graded quality)
    val part = Similarity.knnNdcg(emb, "vec_id", "embedding", cells,
        k = 5, nprobe = 2)
      .as[(Long, Double, Double, Double)].collect()
    assert(part.forall { case (_, d, i, nd) => nd <= 1.0 + 1e-12 && d <= i + 1e-9 })
    val mean = part.map(_._4).sum / part.length
    assert(mean > 0.8, s"nprobe=2 mean ndcg $mean")
  }

  test("calinskiHarabasz closed form: member-mean scatter, two balanced clusters") {
    // cells at (0,0) and (10,0); members (0,0),(2,0) → cluster mean
    // (1,0); (10,0),(12,0) → (11,0). Global mean (6,0).
    // W = (1+1)+(1+1) = 4; B = 2·25 + 2·25 = 100; k=2, n=4 →
    // CH = (100/1)/(4/2) = 50.
    val cells = Array(0L -> Array(0.0, 0.0), 1L -> Array(10.0, 0.0))
    val df = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(2.0, 0.0)),
      (3L, Seq(10.0, 0.0)), (4L, Seq(12.0, 0.0)))
      .toDF("id", "v")
    val got = Similarity.calinskiHarabasz(df, "id", "v", cells)
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    assert(got === Seq((2, 4L, 100.0, 4.0, 50.0)))
    // n == k (every cluster a singleton) is degenerate — rejected
    intercept[IllegalArgumentException] {
      Similarity.calinskiHarabasz(
        Seq((1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 0.0))).toDF("id", "v"),
        "id", "v", cells)
    }
  }

  test("cellLoad closed form: home/probe/candidate accounting, zero-norm excluded, conservation") {
    val cells = Array(0L -> Array(0.0, 0.0), 1L -> Array(10.0, 0.0),
      2L -> Array(20.0, 0.0))
    val df = Seq(
      (1L, Seq(1.0, 0.0)),    // home c0, probes {c0, c1}
      (9L, Seq(9.0, 0.0)),    // home c1, probes {c1, c0}
      (19L, Seq(19.0, 0.0)),  // home c2, probes {c2, c1}
      (21L, Seq(21.0, 0.0)),  // home c2, probes {c2, c1}
      (99L, Seq(0.0, 0.0)))   // zero-norm: excluded from routing
      .toDF("id", "v")
    val got = Similarity.cellLoad(df, "v", cells, nprobe = 2)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, 1L, 2L, 1L, 0.166667),
      (1L, 1L, 4L, 3L, 0.5),
      (2L, 2L, 2L, 2L, 0.333333)))
    assert(got.map(_._2).sum == 4L, "every routed vector homes exactly once")
    assert(got.map(_._3).sum == 8L, "every routed vector probes exactly nprobe cells")
  }

  test("knn_block_topk rejects a wrong input schema at analysis time") {
    import graft.functions.BlockPairKernels.knn_block_topk
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(knn_block_topk($"a", $"b", lit(true), 3, 6)))
    assert(e.getMessage.contains("knn_block_topk expects"), e.getMessage)
    val blocks = Seq(Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))).toDF("vs")
      .select($"vs".cast("array<struct<id:bigint,u:array<double>>>").as("vs"))
    assert(intercept[org.apache.spark.sql.AnalysisException](
      blocks.select(knn_block_topk($"vs", $"vs", lit(1), 3, 6))).getMessage.contains("knn_block_topk"))
    assert(blocks.select(knn_block_topk($"vs", $"vs", lit(true), 1, 6)).count() == 2)
  }
}

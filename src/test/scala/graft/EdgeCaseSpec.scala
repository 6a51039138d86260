package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, EventOps, KMeansOps}

class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kmeans: k > distinct points — empty clusters vanish (reference semantics)") {
    val pts = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(0.1, 0.0)),
      (3L, Array(10.0, 10.0))).toDF("id", "v")
    val res = KMeansOps.lloyd(pts, "id", "v", k = 3, seed = 5L, maxIter = 10)
    assert(res.assignments.count() == 3)
    assert(res.centroids.length <= 3)
    // every point still assigned exactly once even if k shrank
    assert(res.assignments.select($"id").distinct().count() == 3)
  }

  test("cosine pair kernels: empty and single-vector corpora yield zero pairs") {
    import graft.ops.Similarity
    val empty = Seq.empty[(Long, Seq[Double])].toDF("id", "v")
    val one = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    for (df <- Seq(empty, one)) {
      assert(Similarity.cosinePairsBlocked(df, "id", "v", 0.1).count() == 0)
      assert(Similarity.cosinePairsLsh(df, "id", "v", 0.1).count() == 0)
    }
    // two identical vectors: exactly one pair from every kernel
    val two = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(1.0, 2.0))).toDF("id", "v")
    assert(Similarity.cosinePairsBlocked(two, "id", "v", 0.99).count() == 1)
    assert(Similarity.cosinePairsLsh(two, "id", "v", 0.99).count() == 1)
    assert(Oracles.cosinePairsFast(two, "id", "v", 0.99).count() == 1)
  }

  test("jaccardPairsPrefix: degenerate inputs (empty, single doc, disjoint docs)") {
    val empty = Seq.empty[(Long, String)].toDF("id", "h")
      .select($"id", xxhash64($"h").as("h"))
    assert(Dedup.jaccardPairsPrefix(empty, 0.5).count() == 0)
    val single = Seq((1L, "a"), (1L, "b")).toDF("id", "tok")
      .select($"id", xxhash64($"tok").as("h"))
    assert(Dedup.jaccardPairsPrefix(single, 0.5).count() == 0)
    val disjoint = Seq((1L, "a"), (2L, "b")).toDF("id", "tok")
      .select($"id", xxhash64($"tok").as("h"))
    assert(Dedup.jaccardPairsPrefix(disjoint, 0.1).count() == 0)
    // identical docs: J = 1 at any threshold
    val twin = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b")).toDF("id", "tok")
      .select($"id", xxhash64($"tok").as("h"))
    assert(Dedup.jaccardPairsPrefix(twin, 1.0).count() == 1)
  }

  test("minhashSigsCol: empty shingle array gives null signature (doc-absent semantics)") {
    import graft.functions.CharShingleHashes.char_shingle_hashes
    val df = Seq((1L, "abcdefgh"), (2L, "ab")).toDF("id", "s") // "ab" < k=5 → no shingles
      .select($"id", Dedup.minhashSigsCol(char_shingle_hashes($"s", 5)).as("sig"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.get(1) != null)).toMap
    assert(rows == Map(1L -> true, 2L -> false))
  }

  test("lshCandidates: maxBucket drops pathological buckets, keeps normal ones") {
    // 30 identical docs (one hot bucket per band) + 2 similar docs
    val docs = ((1L to 30L).map(i => (i, Seq("x", "y", "z"))) ++
      Seq((100L, Seq("p", "q", "r")), (101L, Seq("p", "q", "r"))))
      .toDF("doc_id", "toks")
    val sigs = Oracles.minhashSignatures(docs, "doc_id", "toks", numHashes = 16, seed = 1L)
    val capped = Dedup.lshCandidates(sigs, bands = 4, maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    assert(capped.contains((100L, 101L)), "normal bucket pair must survive")
    assert(!capped.exists(p => p._1 <= 30 && p._2 <= 30),
      s"hot-bucket pairs must be dropped, got ${capped.size}")
    val uncapped = Dedup.lshCandidates(sigs, bands = 4, maxBucket = 1000)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.exists(p => p._1 <= 30 && p._2 <= 30))
  }

  test("rangeCount boundaries: [t-window, t) — lower inclusive, upper exclusive") {
    val w = 1000L
    val left = Seq((1L, 10L, 5000L)).toDF("event_id", "k", "ts")
    val right = Seq(
      (10L, 4000L),  // exactly t-window → included
      (10L, 4999L),  // just inside → included
      (10L, 5000L),  // exactly t → excluded
      (10L, 3999L))  // just outside → excluded
      .toDF("k", "ts")
    val got = EventOps.rangeCount(left, right, Seq("k"), "ts", "ts", w, "event_id", "n")
      .select($"event_id", $"n").as[(Long, Long)].head()
    assert(got == ((1L, 2L)))
  }

  test("asofJoin: equal timestamp is matched (<=); later rows are not") {
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 50L)).toDF("id", "k", "ts")
    val purchases = Seq((900L, 10L, 100L), (901L, 10L, 150L)).toDF("pid", "k", "ts")
    val got = EventOps.asofJoin(clicks, purchases, Seq("k"), "ts", "ts", "pid", "m")
      .select($"id", $"m").as[(Long, Option[Long])].collect().toMap
    assert(got(1L) == Some(900L), "equal-ts purchase must match")
    assert(got(2L) == None, "future purchase must not match")
  }

  test("contaminationHits: empty bench set, empty corpus, and no-gram docs all yield zero hits") {
    import graft.ops.Dedup
    val corpus = Seq((1L, Seq("a b", "b c")), (2L, Seq.empty[String])).toDF("id", "g")
    val emptyB = corpus.limit(0)
    assert(Dedup.contaminationHits(corpus, "id", "g", emptyB, "g").count() == 0)
    assert(Dedup.contaminationHits(emptyB, "id", "g", corpus, "g").count() == 0)
    // a doc with no grams can never be contaminated
    val hits = Dedup.contaminationHits(corpus, "id", "g",
      Seq((9L, Seq("a b"))).toDF("id", "g"), "g")
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 1L))
    assert(Dedup.decontaminate(corpus, "id", hits.toSeq.toDF("id", "n"))
      .select($"id").as[Long].collect().toSet == Set(2L))
  }

  test("dropClusterDuplicatesBy: empty cluster set keeps every doc; null-score rows sort last") {
    import graft.ops.Dedup
    val docs = Seq((1L, Some(0.5)), (2L, None), (3L, Some(0.1))).toDF("doc_id", "s")
    val noClusters = Seq.empty[(Long, Long)].toDF("id", "rep")
    assert(Dedup.dropClusterDuplicatesBy(docs, "doc_id", "s", noClusters).count() == 3)
    // 1≈2: non-null 0.5 beats null score
    val cl = Dedup.dedupClusters(Seq((1L, 2L)).toDF("id1", "id2"))
    val kept = Dedup.dropClusterDuplicatesBy(docs, "doc_id", "s", cl)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("shuffleDeterministic and quantizeInt8: empty inputs yield empty outputs, not failures") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.IdOps.shuffleDeterministic(empty, "doc_id").count() == 0)
    val emptyV = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    assert(emptyV.select(graft.ops.Similarity.quantizeInt8($"v")).count() == 0)
  }

  test("lmScore/dsirWeights: empty corpus and no-target-row corpus stay defined") {
    import graft.ops.TextStats
    val empty = Seq.empty[(Long, Seq[String])].toDF("id", "toks")
    assert(TextStats.lmScore(empty, "id", "toks").count() == 0)
    assert(TextStats.dsirWeights(empty, "id", "toks", lit(false)).count() == 0)
    // no target rows: p_target is pure add-1 smoothing over V, still finite
    val docs = Seq((1L, Seq("x", "y")), (2L, Seq("y", "z"))).toDF("id", "toks")
    val w = TextStats.dsirWeights(docs, "id", "toks", lit(false))
      .as[(Long, Double)].collect().toMap
    assert(w.size == 2 && w.values.forall(v => !v.isNaN && !v.isInfinite))
    // uniform-smoothed target: every token ratio is ln((0+1)/(0+3)) - ln((c+1)/(4+3))
    def lr(cAll: Long) = math.log(1.0 / 3) - math.log((cAll + 1.0) / 7)
    assert(math.abs(w(1L) - (lr(1) + lr(2)) / 2) < 1e-12)
  }

  test("verifyJaccard/semanticDedup: empty candidate/pair sets yield empty results, not failures") {
    import graft.ops.{Dedup => D, Similarity}
    val e = Seq((1L, 10L), (2L, 20L)).toDF("id", "h")
    val noCand = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(D.verifyJaccard(noCand, e, 0.5).count() == 0)
    // orthogonal vectors, one cell each: no within-cell pair survives
    val pts = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0))).toDF("id", "v")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("cid", "cvec")
    assert(Similarity.semanticDedup(pts, "id", "v", cents, 0.9).count() == 0)
  }

  test("tfidf: doc whose tokens all miss the vocabulary gets a zero dense vector") {
    val docs = Seq((1L, Seq("aa", "bb")), (2L, Seq("zz"))).toDF("id", "toks")
    val vocab = Seq(("aa", 1.5), ("bb", 2.0)).toDF("word", "idf")
    val w = graft.ops.Tfidf.tfidfVectors(docs, "id", "toks", vocab, 6, dense = true)
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(w((2L, "aa")) == 0.0 && w((2L, "bb")) == 0.0)
    assert(w((1L, "aa")) != 0.0)
    assert(w.size == 4)
  }
}

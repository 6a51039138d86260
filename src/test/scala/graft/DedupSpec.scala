package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, TextOps}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  // jobs of dedupClusters over a materialized pair frame
  val ClusterJobs = 2

  lazy val docs = Tables.table(spark, TestSpark.Sf, "documents")
    .select($"doc_id",
      TextOps.tokenizeFiltered($"text", Dictionaries.Stopwords, Nil).as("toks"))
    .withColumn("sh", Dedup.tokenShingles($"toks", 3))
    .persist()

  test("containmentPairs: an embedded quote is ~1.0 containment yet invisible to Jaccard") {
    // doc 2 fully contains doc 1's 5-token vocabulary inside 50 tokens:
    // containment = 5/5 = 1.0, jaccard = 5/50 = 0.1
    val toy = Seq(
      (1L, (1 to 5).map(i => s"w$i")),
      (2L, (1 to 5).map(i => s"w$i") ++ (1 to 45).map(i => s"x$i")),
      (3L, (1 to 40).map(i => s"y$i")))
      .toDF("doc_id", "toks")
    val e = Oracles.shingleHashesViaArrays(toy, "doc_id", "toks", k = 1)
    val cont = Dedup.containmentPairs(e, minC = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair is below any useful Jaccard threshold
    assert(Dedup.jaccardPairsFromHashes(e, 0.5).count() == 0)
  }

  test("tokenShingles: windows of 3, short docs shingle to nothing") {
    val got = Seq((1L, Seq("a", "b", "c", "d")), (2L, Seq("a", "b")))
      .toDF("doc_id", "toks")
      .select($"doc_id", Dedup.tokenShingles($"toks", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq.empty)
  }

  test("minhash+LSH candidates have full recall on high-jaccard shingle pairs") {
    val exact = Oracles.jaccardPairs(docs, "doc_id", "sh", 0.7, None)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain >=1 pair with shingle jaccard >= 0.7")
    val sigs = Oracles.minhashSignatures(docs, "doc_id", "sh", numHashes = 128, seed = 42L)
    val cand = Dedup.lshCandidates(sigs, bands = 32)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cand),
      s"missed ${exact.diff(cand).size} of ${exact.size} true pairs")
  }

  test("jaccardPairsPrefix == jaccardPairsFromHashes (exact prefix filtering) at several thresholds") {
    val docsSrc = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source",
        graft.ops.TextOps.tokenizeFiltered($"text", Dictionaries.Stopwords, Nil).as("toks"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("jaccard", round($"jaccard", 9))
        .as[(Long, Long, Double)].collect().toSet
    for (theta <- Seq(0.5, 0.7, 0.9)) {
      // unigram, blocked by source
      val e1 = Dedup.shingleHashes(docsSrc, "doc_id", "toks", k = 1, Some("source"))
      assert(canon(Dedup.jaccardPairsPrefix(e1, theta, Some("source")))
        == canon(Dedup.jaccardPairsFromHashes(e1, theta, Some("source"))), s"unigram theta=$theta")
      // 3-shingle, unblocked
      val e3 = Dedup.shingleHashes(docs, "doc_id", "sh", k = 1)
      assert(canon(Dedup.jaccardPairsPrefix(e3, theta))
        == canon(Dedup.jaccardPairsFromHashes(e3, theta)), s"3gram theta=$theta")
    }
  }

  test("jaccardPairsPrefix: ids spanning several blocks keep per-id sizes and verify sets (window-form reference)") {
    // the per-(id, block) row_number prefix over per-id sizes, verified
    // against per-id element sets: the formulation the one-aggregate
    // form replaced, kept here as its reference
    def reference(e: org.apache.spark.sql.DataFrame, minJ: Double) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"id", $"blk").orderBy($"__df", $"h")
      val dfreq = e.groupBy($"h").agg(count(lit(1)).as("__df"))
      val sizes = e.groupBy($"id").agg(count(lit(1)).as("sz"))
      val pref = e.join(dfreq, "h").withColumn("__r", row_number().over(w)).join(sizes, "id")
        .filter($"__r" <= $"sz" - ceil(lit(minJ) * $"sz" - lit(1e-9)) + 1)
        .select($"id", $"blk", $"h")
      val cand = pref.as("a").join(pref.as("b"),
          $"a.h" === $"b.h" && $"a.id" < $"b.id" && $"a.blk" === $"b.blk")
        .select($"a.id".as("id1"), $"b.id".as("id2")).distinct()
      Dedup.verifyJaccard(cand, e, minJ)
    }
    val rnd = new scala.util.Random(5)
    val rows = for {
      id <- 0L until 40L
      blk <- rnd.shuffle(Seq("x", "y", "z")).take(1 + rnd.nextInt(3))
      h <- Seq.fill(3 + rnd.nextInt(10))(rnd.nextInt(30).toLong).distinct
    } yield (id, blk, h)
    val e = rows.toDF("id", "blk", "h").persist()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("jaccard", round($"jaccard", 9)).as[(Long, Long, Double)].collect().toSet
    for (theta <- Seq(0.2, 0.35, 0.5)) {
      val want = canon(reference(e, theta))
      assert(want.nonEmpty, s"fixture should hold pairs at theta=$theta")
      assert(canon(Dedup.jaccardPairsPrefix(e, theta, Some("blk"))) == want, s"theta=$theta")
    }
    e.unpersist()
  }

  test("LSH funnel: verified candidates ⊆ exact pairs; full-recall settings reproduce exact clusters") {
    val e = Dedup.shingleHashes(docs, "doc_id", "sh", k = 1)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("jaccard", round($"jaccard", 9))
        .as[(Long, Long, Double)].collect().toSet
    val exact = canon(Dedup.jaccardPairsFromHashes(e, 0.7))
    val sigs = Oracles.minhashSignatures(docs, "doc_id", "sh", numHashes = 128, seed = 42L)
    val cand = Dedup.lshCandidates(sigs, bands = 32)
    val verified = canon(Dedup.verifyJaccard(cand, e, 0.7))
    assert(verified.subsetOf(exact), "verify must never pass a non-qualifying pair")
    assert(exact.subsetOf(verified), "128-hash/32-band LSH should recall every 0.7-pair here")
    // composed funnel (candidates → verify → CC) == clusters over exact pairs
    val exactCl = Dedup.dedupClusters(Dedup.jaccardPairsFromHashes(e, 0.7))
      .as[(Long, Long)].collect().toSet
    val funnelCl = Dedup.dedupClusters(Dedup.verifyJaccard(cand, e, 0.7))
      .as[(Long, Long)].collect().toSet
    assert(funnelCl == exactCl)
  }

  test("minhashSigsCol (fused expression) == minhashFromHashes (explode+agg) signatures") {
    import graft.functions.CharShingleHashes.char_shingle_hashes
    val base = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id".as("id"), char_shingle_hashes(lower($"text"), 5).as("hs"))
    val fused = base
      .select($"id", Dedup.minhashSigsCol($"hs", 64, 7L).as("sig"))
      .filter($"sig".isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    val agg = Dedup.minhashFromHashes(
        base.select($"id", explode($"hs").as("h")).distinct(), 64, 7L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused == agg)
    assert(fused.nonEmpty)
  }

  test("fused 3-shingle MinHash (tokenShingles→xxhash64→MinHashSigs) == explode+window+agg path") {
    val base = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id",
        graft.ops.TextOps.tokenizeFiltered($"text", Dictionaries.Stopwords, Nil).as("toks"))
    val fused = base
      .select($"doc_id".as("id"),
        Dedup.minhashSigsCol(
          transform(Dedup.tokenShingles($"toks", 3), t => xxhash64(t)), 128, 42L).as("sig"))
      .filter($"sig".isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    val agg = Dedup.minhashFromHashes(
        Dedup.shingleHashes(base, "doc_id", "toks", k = 3), 128, 42L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused == agg)
    assert(fused.nonEmpty)
  }

  test("simhash: multiset-invariant, order-invariant; small edit => small hamming") {
    val base = Seq.tabulate(40)(i => s"tok${i % 12}")  // 40 tokens over 12 types
    val fixture = Seq(
      (1L, base),
      (2L, scala.util.Random.javaRandomToRandom(new java.util.Random(1)).shuffle(base)),
      (3L, base.updated(0, "changed").updated(1, "words")),
      (4L, Seq.tabulate(40)(i => s"other${i % 12}")))
      .toDF("doc_id", "toks")
    val byId = Dedup.simhash64(fixture, "doc_id", "toks")
      .as[(Long, Long)].collect().toMap
    assert(byId(1L) == byId(2L), "same multiset, different order => identical simhash")
    val near = java.lang.Long.bitCount(byId(1L) ^ byId(3L))
    val far = java.lang.Long.bitCount(byId(1L) ^ byId(4L))
    assert(near < far, s"2-token edit (hamming $near) should beat disjoint doc (hamming $far)")
    assert(near <= 16, s"2-token edit moved $near bits")
  }

  test("BandHashes expression == driver-side chained-XXH64 reference") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val sigs = Oracles.minhashSignatures(docs.filter(size($"sh") > 0), "doc_id", "sh")
    val got = sigs
      .select($"id", graft.functions.BandHashes.band_hashes($"sig", 32).as("bh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val raw = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(got.nonEmpty && got.keySet == raw.keySet)
    raw.foreach { case (id, sig) =>
      val len = sig.length / 32
      val exp = (0 until 32).map { b =>
        var h = XXH64.hashLong(b.toLong, 42L)
        (b * len until (b + 1) * len).foreach(i => h = XXH64.hashLong(sig(i), h))
        h
      }
      assert(got(id) == exp, s"doc $id")
    }
    // short signature → null (degenerate all-docs-one-bucket is refused)
    val short = Seq((1L, Seq(7L))).toDF("id", "sig")
      .select(graft.functions.BandHashes.band_hashes($"sig", 32).as("bh"))
    assert(short.head().isNullAt(0))
  }

  test("jaccardPairsBucketed: a hot 4000-doc bucket completes with bounded rows (no n²/2 single-row pair array)") {
    // every doc shares shingle 0 and owns one unique shingle:
    // one 4000-id bucket → 7,998,000 pairs, each with jaccard 1/3
    val n = 4000
    val e = spark.range(n).select($"id")
      .select($"id", explode(array(lit(0L), $"id" + lit(1L))).as("h"))
      .localCheckpoint()
    val got = Dedup.jaccardPairsBucketed(e, minJ = 0.3, maxBucket = n)
    assert(got.count() == n.toLong * (n - 1) / 2)
    // the default cap drops the pathological bucket instead of exploding it
    assert(Dedup.jaccardPairsBucketed(e, minJ = 0.3).count() == 0)
  }

  test("dedupClusters: transitive chains collapse to the min-id rep; canonical keep = reps + untouched docs") {
    // components: {1,2,3} star, {10,11} pair, {20,21,22,23} diameter-3 chain
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (22L, 21L), (23L, 22L))
      .toDF("id1", "id2")
    val cl = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 23L, 99L).toDF("doc_id")
    val kept = Dedup.dropClusterDuplicates(docs, "doc_id", Dedup.dedupClusters(pairs))
      .as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L, 99L))
    // no pairs → nothing clustered, nothing dropped
    assert(Dedup.dedupClusters(pairs.limit(0)).count() == 0)
    assert(Dedup.dropClusterDuplicates(docs, "doc_id", Dedup.dedupClusters(pairs.limit(0)))
      .count() == 10)
  }

  test("dedupClusters: a 200-node path graph resolves to one rep in one pass") {
    // chain 0-1-2-...-200: diameter 200 — plain min-label propagation
    // would need 200 rounds; the union-find pass needs one
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cl = Dedup.dedupClusters(chain).as[(Long, Long)].collect().toMap
    assert(cl.size == 201 && cl.values.forall(_ == 0L),
      s"all 201 chain nodes must land on rep 0, got ${cl.values.toSet}")
    // shuffled ids (rep is a mid-chain node numerically smallest): still one component
    val perm = new scala.util.Random(7).shuffle((0 until 100).toList)
    val chain2 = perm.sliding(2).map(p => (p(0).toLong + 1000, p(1).toLong + 1000))
      .toSeq.toDF("id1", "id2")
    val cl2 = Dedup.dedupClusters(chain2).as[(Long, Long)].collect().toMap
    assert(cl2.size == 100 && cl2.values.forall(_ == 1000L))
  }

  /** Connected components by BFS over the non-null, non-loop edges:
    * id → smallest id of its component, for every id in some edge. */
  def bfsClusters[T](edges: Seq[(Option[T], Option[T])])(implicit ord: Ordering[T]): Map[T, T] = {
    val adj = edges.collect { case (Some(a), Some(b)) if a != b => Seq(a -> b, b -> a) }
      .flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val seen = scala.collection.mutable.Map.empty[T, T]
    for (start <- adj.keys if !seen.contains(start)) {
      val comp = scala.collection.mutable.Set(start)
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty)
        for (n <- adj(queue.dequeue()) if comp.add(n)) queue += n
      val rep = comp.min
      comp.foreach(seen(_) = rep)
    }
    seen.toMap
  }

  test("dedupClusters == BFS oracle on seeded random graphs: Int/Long ids, nulls, self-loops, duplicate and reversed edges") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(200)
      def id(): Option[Int] = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(n))
      val base = Seq.fill(n / 2 + rnd.nextInt(n))((id(), id()))
      // duplicate and reversed copies of a third of the edges, plus self-loops
      val edges = rnd.shuffle(base ++ base.take(base.size / 3) ++
        base.take(base.size / 3).map(_.swap) ++ Seq.fill(5)(id()).map(x => (x, x)))
      val want = bfsClusters(edges)

      val ints = edges.toDF("id1", "id2")
      val gotInt = Dedup.dedupClusters(ints)
      assert(gotInt.schema.map(f => f.name -> f.dataType) ==
        Seq("id" -> org.apache.spark.sql.types.IntegerType, "rep" -> org.apache.spark.sql.types.IntegerType))
      val rowsInt = gotInt.as[(Int, Int)].collect()
      assert(rowsInt.length == want.size, s"seed $seed: one row per clustered id")
      assert(rowsInt.toMap == want, s"seed $seed: Int labelling")

      // Long ids above the Int range keep the same labelling, shifted
      val off = 1L << 40
      val longs = edges.map { case (a, b) => (a.map(_ + off), b.map(_ + off)) }.toDF("id1", "id2")
      val gotLong = Dedup.dedupClusters(longs)
      assert(gotLong.schema.map(_.dataType).distinct ==
        Seq(org.apache.spark.sql.types.LongType))
      assert(gotLong.as[(Long, Long)].collect().toMap ==
        want.map { case (k, v) => (k + off) -> (v + off) }, s"seed $seed: Long labelling")
    }
  }

  test("dedupClusters: empty and all-degenerate inputs give empty output with the input's id type") {
    val empty = Seq.empty[(Int, Int)].toDF("id1", "id2")
    val e = Dedup.dedupClusters(empty)
    assert(e.columns.toSeq == Seq("id", "rep"))
    assert(e.schema.map(_.dataType).distinct == Seq(org.apache.spark.sql.types.IntegerType))
    assert(e.count() == 0)
    // only self-loops and null ids: nothing to cluster
    val degenerate = Seq((Some(1L), Some(1L)), (None, Some(2L)), (Some(3L), None), (None, None))
      .toDF("id1", "id2")
    assert(Dedup.dedupClusters(degenerate).count() == 0)
  }

  test("dedupClusters: a 10 000-node shuffled path is one component rooted at its minimum") {
    val perm = new scala.util.Random(11).shuffle((0 until 10000).map(_.toLong + 500L).toList)
    val path = perm.sliding(2).map(p => if (p(0) % 2 == 0) (p(0), p(1)) else (p(1), p(0)))
      .toSeq.toDF("id1", "id2").repartition(4)
    val cl = Dedup.dedupClusters(path).as[(Long, Long)].collect()
    assert(cl.length == 10000)
    assert(cl.forall(_._2 == 500L))
  }

  test("dedupClusters over a cached pair frame runs a pinned number of jobs") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (22L, 21L))
      .toDF("id1", "id2").repartition(4).persist()
    try {
      pairs.count()
      val (rows, jobs) = TestSpark.countJobs(Dedup.dedupClusters(pairs).collect())
      assert(rows.length == 8)
      // one shuffle map stage (the move onto one task) + the result stage
      assert(jobs == ClusterJobs, s"dedupClusters ran $jobs jobs")
    } finally pairs.unpersist()
  }

  test("q_minhash_pairs' signature step: memo arrays → fused MinHash, no Exchange, == explode + min") {
    val arrays = QShared.shingles3Arrays(spark, TestSpark.Sf)
    val sigs = Dedup.minhashFromArrays(arrays, 128, 42L)
    val fused = sigs.as[(Long, Seq[Long])].collect().toMap
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val exchanges = Plans.collect(sigs.queryExecution.executedPlan) {
      case x: org.apache.spark.sql.execution.exchange.Exchange => x
    }
    assert(exchanges.isEmpty, s"the signature step must not shuffle:\n${sigs.queryExecution.executedPlan}")
    val agg = Dedup.minhashFromHashes(QShared.shingles3(spark, TestSpark.Sf), 128, 42L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused.nonEmpty && fused == agg)
    // a doc without a 3-shingle has no signature row, as in the exploded form
    val fixture = Seq((1L, Seq(5L, 9L)), (2L, Seq.empty[Long])).toDF("id", "hs")
    assert(Dedup.minhashFromArrays(fixture).select($"id").as[Long].collect().toSeq == Seq(1L))
  }

  test("winnowFingerprints: shared token runs >= w+k-1 guarantee a shared fingerprint; short docs covered") {
    // k=3, w=4: any shared run of >= 6 tokens must yield a common fp
    val shared = "alpha beta gamma delta epsilon zeta"  // 6-token run
    val d = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"five six seven $shared eight"),
      (3L, "totally different words everywhere here now"),
      (4L, "tiny doc"),          // 0 shingles of size 3 → filtered
      (5L, "just three tokens"), // 1 shingle → single global-min fp
      (6L, "just three tokens")) // identical short doc → same fp
      .toDF("doc_id", "text")
      .select($"doc_id", TextOps.tokenize($"text").as("toks"))
    val fps = Dedup.winnowFingerprints(d, "doc_id", "toks", k = 3, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 6-token run must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs must not collide")
    assert(!fps.contains(4L), "doc with no shingles has no fingerprints")
    assert(fps(5L).size == 1 && fps(5L) == fps(6L), "identical short docs share their single fp")
    // density: selected fps are a small subset of all shingle hashes
    val allHashes = d.filter($"doc_id" === 1L)
      .select(explode(Dedup.tokenShingles($"toks", 3))).count()
    assert(fps(1L).size < allHashes)
  }

  test("shingleHashesViaArrays == shingleHashes: identical (id, hash) sets at k=1 and k=3") {
    for (k <- Seq(1, 3)) {
      val a = Dedup.shingleHashes(docs, "doc_id", "toks", k)
        .as[(Long, Long)].collect().toSet
      val b = Oracles.shingleHashesViaArrays(docs, "doc_id", "toks", k)
        .as[(Long, Long)].collect().toSet
      assert(a == b, s"k=$k: window ${a.size} vs array ${b.size} hashes")
    }
  }

  test("contaminationHits: distinct-gram overlap counts; decontaminate drops exactly the flagged ids") {
    val corpus = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),   // 2 grams hit
      (2L, Seq("x y z", "a b c", "a b c")),   // duplicate gram counts once
      (3L, Seq("p q r")))                     // clean
      .toDF("doc_id", "g")
    val bench = Seq((100L, Seq("a b c", "b c d", "m n o"))).toDF("doc_id", "g")
    val hits = Dedup.contaminationHits(corpus, "doc_id", "g", bench, "g")
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 2L, 2L -> 1L))
    val clean = Dedup.decontaminate(corpus, "doc_id",
      Dedup.contaminationHits(corpus, "doc_id", "g", bench, "g"))
      .select($"doc_id").as[Long].collect().toSet
    assert(clean == Set(3L))
  }

  test("dropClusterDuplicatesBy keeps the best-scoring member per cluster, min-id on ties") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9),   // cluster {1,2,3}: 2 wins (tie w/ 3 → min id)
      (10L, 0.5), (11L, 0.8),            // cluster {10,11}: 11 wins
      (99L, 0.1))                        // unclustered: kept
      .toDF("doc_id", "score")
    val kept = Dedup.dropClusterDuplicatesBy(docs, "doc_id", "score",
      Dedup.dedupClusters(pairs)).select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 11L, 99L))
  }

  test("splitByCluster: near-dup cluster members share a split; weights roughly honored") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val clusters = Dedup.dedupClusters(pairs)
    val ids = (1L to 500L).toDF("doc_id")
    val split = Dedup.splitByCluster(ids, "doc_id", clusters,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
    // leakage-safety: every cluster maps to exactly one split label
    val perCluster = split.join(clusters.withColumnRenamed("id", "doc_id"), "doc_id")
      .groupBy("rep").agg(countDistinct("split").as("n"))
      .select($"n").as[Long].collect()
    assert(perCluster.nonEmpty && perCluster.forall(_ == 1L))
    // determinism: same salt → identical assignment
    val again = Dedup.splitByCluster(ids, "doc_id", clusters,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
    assert(split.exceptAll(again).isEmpty)
    // weights: keyed-hash buckets over 500 ids land near 80/10/10
    val counts = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 500L)
    assert(counts("train") > 350L && counts("val") < 100L && counts("test") < 100L)
    // a different salt re-deals the split
    val resalted = Dedup.splitByCluster(ids, "doc_id", clusters,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "t")
    assert(split.exceptAll(resalted).count() > 0)
  }

  test("scrubHotSpans removes exactly the tokens covered by cross-doc hot spans") {
    // "x y z" appears in 3 docs (hot at minDocs=3); each doc's other
    // tokens are unique filler. Overlap case: doc 3's "x y z w x y z"
    // has hot starts 1 and 5 — positions 1-3 and 5-7 covered, 4 kept.
    val docs = Seq(
      (1L, Seq("p1", "x", "y", "z", "q1")),
      (2L, Seq("x", "y", "z")),                          // fully scrubbed
      (3L, Seq("x", "y", "z", "w", "x", "y", "z")),
      (4L, Seq("p4", "q4", "r4")),                       // untouched
      (5L, Seq("x", "y")))                               // too short for a 3-gram
      .toDF("doc_id", "toks")
    val out = Dedup.scrubHotSpans(docs, "doc_id", "toks", k = 3, minDocs = 3L)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ("p1 q1", 3L))
    assert(out(2L) == ("", 3L))
    assert(out(3L) == ("w", 6L))
    assert(out(4L) == ("p4 q4 r4", 0L))
    assert(out(5L) == ("x y", 0L))
  }

  test("scrubRepeatedSpans keeps first span occurrence, scrubs later repeats") {
    val docs = Seq(
      (1L, Seq("x", "y", "z", "w", "x", "y", "z")),  // repeat at 5: 5-7 scrubbed
      (2L, Seq("u", "u", "u", "u", "u")),            // self-overlap: starts 2,3 dup → 2-5 scrubbed
      (3L, Seq("p", "q", "r")),                      // no repeats
      (4L, Seq("s", "t")))                           // too short
      .toDF("doc_id", "toks")
    val out = Dedup.scrubRepeatedSpans(docs, "doc_id", "toks", k = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ("x y z w", 3L))
    assert(out(2L) == ("u", 4L))
    assert(out(3L) == ("p q r", 0L))
    assert(out(4L) == ("s t", 0L))
  }

  test("substringDups recovers a passage planted in M docs at FULL length, with ndocs = M") {
    // a 20-token passage planted into 5 docs at different offsets,
    // surrounded by per-doc unique filler (no accidental cross-doc
    // 8-grams); a second 10-token passage shared by only 2 docs stays
    // below minDocs=3 and must not surface
    val passage = (1 to 20).map(i => s"c$i")
    val minor = (1 to 10).map(i => s"d$i")
    val docs = ((1 to 5).map { i =>
      (i.toLong, (1 to i).map(j => s"f${i}_$j") ++ passage ++ Seq(s"t$i"))
    } ++ Seq(
      (6L, minor ++ Seq("u6")),
      (7L, Seq("v7") ++ minor))).toDF("doc_id", "toks")
    val out = Dedup.substringDups(docs, "doc_id", "toks", k = 8, minDocs = 3L)
      .as[(Long, Int, Int, Long)].collect()
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == Set(1L, 2L, 3L, 4L, 5L), s"unexpected docs: ${byDoc.keySet}")
    (1 to 5).foreach { i =>
      val spans = byDoc(i.toLong)
      assert(spans.length == 1, s"doc $i: ${spans.toSeq}")
      val (_, start, len, ndocs) = spans.head
      assert(start == i + 1, s"doc $i start")        // after i filler tokens
      assert(len == 20, s"doc $i must recover the passage at FULL length")
      assert(ndocs == 5L, s"doc $i ndocs")
    }
  }

  test("SpanCoverMask codegen kernel ≡ interpreted filter/exists HOF on the real corpus") {
    import org.apache.spark.sql.functions.{col, expr}
    val k = 3
    val grams = Dedup.scrubHotSpans(docs, "doc_id", "toks", k = k, minDocs = 3L)
    // rebuild the pre-mask frame: toks + hot starts per doc, then apply both kernels
    val gramArr =
      s"""CASE WHEN size(toks) >= $k
         | THEN transform(sequence(1, size(toks) - ${k - 1}),
         |        i -> md5(array_join(slice(toks, i, $k), ' ')))
         | ELSE array() END""".stripMargin
    val g = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.posexplode(expr(gramArr)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + org.apache.spark.sql.functions.lit(1)).as("s"), col("h"))
    val hot = g.groupBy("h").agg(
      org.apache.spark.sql.functions.countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 3).select("h")
    val hs = g.join(hot, "h").groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.collect_list("s").as("starts"))
    val frame = docs.join(hs, Seq("doc_id"), "left")
      .withColumn("starts",
        org.apache.spark.sql.functions.coalesce(col("starts"),
          expr("cast(array() as array<int>)")))
    val fused = frame.withColumn("kept",
      graft.functions.SpanCoverMask.span_kept(col("toks"), col("starts"), k))
      .select(col("doc_id"), col("kept"))
    val hof = frame.withColumn("kept", expr(
      s"filter(toks, (t, pi) -> NOT exists(starts, s -> s <= pi + 1 AND pi + 1 < s + $k))"))
      .select(col("doc_id"), col("kept"))
    assert(fused.exceptAll(hof).isEmpty && hof.exceptAll(fused).isEmpty)
    assert(grams.count() == docs.count())
  }

  test("scrubDupSpans: a 200-token block shared by just TWO docs is fully scrubbed (the case scrubHotSpans minDocs=5 provably misses)") {
    val block = (1 to 200).map(i => s"blk$i")
    val docs2 = Seq(
      (1L, block ++ Seq("axx", "bxx", "cxx", "dxx", "exx")),
      (2L, Seq("fyy", "gyy", "hyy", "iyy", "jyy") ++ block))
      .toDF("doc_id", "toks")
    // the old approximation: 2 docs < minDocs=5 → untouched
    val approx = Dedup.scrubHotSpans(docs2, "doc_id", "toks", k = 3, minDocs = 5L)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(approx(1L) == 0L && approx(2L) == 0L,
      "fixture invalid: minDocs=5 should leave a 2-doc block untouched")
    // true ExactSubstr at minLen=50: every block token sits inside a
    // 50-window fully contained in the block (block length 200 ≥ 50),
    // duplicated at the aligned position of the other doc → scrubbed;
    // the unique 5-token tails survive (their windows are not duplicated)
    val exact = Dedup.scrubDupSpans(docs2, "doc_id", "toks", minLen = 50)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(exact(1L) == ("axx bxx cxx dxx exx", 200L))
    assert(exact(2L) == ("fyy gyy hyy iyy jyy", 200L))
  }

  test("scrubDupSpans counts occurrences by POSITION — overlapping within-doc repeats are duplicated spans") {
    val docs2 = Seq(
      (1L, Seq("p", "q", "p", "q", "p", "q")),  // every 2-gram occurs ≥2× (overlap) → all covered
      (2L, Seq("m", "n", "o", "r", "s", "t")))  // all 2-grams unique corpus-wide
      .toDF("doc_id", "toks")
    val out = Dedup.scrubDupSpans(docs2, "doc_id", "toks", minLen = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ("", 6L))
    assert(out(2L) == ("m n o r s t", 0L))
  }

  test("dupSpans merges duplicated windows into maximal coverage intervals (start, len)") {
    val docs2 = Seq(
      (1L, Seq("A", "B", "C", "D", "E", "F", "G", "H", "I", "J")),
      (2L, Seq("A", "B", "C", "D", "E", "Z", "Y", "X", "W", "V")),
      // shares A..E with the others twice, with a gap between the copies
      (3L, Seq("A", "B", "C", "D", "E", "M", "N", "O", "A", "B", "C", "D", "E")))
      .toDF("doc_id", "toks")
    val got = Dedup.dupSpans(docs2, "doc_id", "toks", minLen = 3)
      .as[(Long, Int, Int)].collect().toSet
    // dup 3-grams: ABC/BCD/CDE → starts {1,2,3} cover [1,5] in docs 1, 2;
    // doc 3 additionally at starts {9,10,11} → second interval [9,13]
    assert(got == Set((1L, 1, 5), (2L, 1, 5), (3L, 1, 5), (3L, 9, 5)))
    // the intervals are exactly what scrubDupSpans removes
    val scrub = Dedup.scrubDupSpans(docs2, "doc_id", "toks", minLen = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(scrub(1L) == ("F G H I J", 5L))
    assert(scrub(2L) == ("Z Y X W V", 5L))
    assert(scrub(3L) == ("M N O", 10L))
  }

  test("scrubHotLines removes every occurrence of a ≥minDocs cross-doc line, preserving structure") {
    val docs2 = Seq(
      (1L, "keep one\nCOMMON\nkeep two"),
      (2L, "COMMON\nother"),
      (3L, "solo only"),
      (4L, "COMMON\nmid\nCOMMON"))  // within-doc repeats of a hot line all go
      .toDF("doc_id", "text")
    val out = Dedup.scrubHotLines(docs2, "doc_id", "text", sep = "\n", minDocs = 2L)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ("keep one\nkeep two", 1L))
    assert(out(2L) == ("other", 1L))
    assert(out(3L) == ("solo only", 0L))
    assert(out(4L) == ("mid", 2L))
  }

  test("crossJaccardPairs: verbatim copy scores 1.0, paraphrase scores its true J, disjoint absent") {
    val corpusE = Oracles.shingleHashesViaArrays(Seq(
      (10L, Seq("a", "b", "c", "d")),        // verbatim copy of ref 1
      (11L, Seq("a", "b", "c", "z")),        // 3/5 overlap with ref 1
      (12L, Seq("p", "q", "r", "s")))        // disjoint
      .toDF("doc_id", "toks"), "doc_id", "toks", k = 1)
    val refE = Oracles.shingleHashesViaArrays(Seq(
      (1L, Seq("a", "b", "c", "d")))
      .toDF("doc_id", "toks"), "doc_id", "toks", k = 1)
    val got = Dedup.crossJaccardPairs(corpusE, refE, minJ = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((10L, 1L), (11L, 1L)))
    assert(math.abs(got((10L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(got((11L, 1L)) - 0.6) < 1e-12)  // 3 / (4+4-3)
  }

  test("crossJaccardPairs ≡ the self-join pair set restricted to cross pairs, on the real corpus") {
    val e = Oracles.shingleHashesViaArrays(docs, "doc_id", "toks", k = 3)
      .localCheckpoint()
    val all = Dedup.jaccardPairsFromHashes(e, 0.5, materialize = false)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (c, r, _) => c % 10 != 0 && r % 10 == 0 }
      .map { case (c, r, j) => (c, r) -> j }.toMap
    val cross = Dedup.crossJaccardPairs(
        e.filter($"id" % 10 =!= 0), e.filter($"id" % 10 === 0), 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(cross.keySet == all.keySet,
      s"cross-join pair set diverged: ${cross.keySet.diff(all.keySet)} / ${all.keySet.diff(cross.keySet)}")
    cross.foreach { case (k, j) => assert(math.abs(j - all(k)) < 1e-12, s"$k") }
    assert(cross.nonEmpty, "fixture must produce at least one cross pair")
  }

  test("q_dedup_sim_hist: buckets within [0,9] and pair-count conservation vs the kernel") {
    val hist = SparkEntry.queries("q_dedup_sim_hist")(spark, TestSpark.Sf)
      .as[(Int, Long)].collect().toSeq
    assert(hist.nonEmpty)
    assert(hist.forall { case (b, n) => b >= 0 && b <= 9 && n > 0 })
    val pairs = Dedup.jaccardPairsBucketed(
      Oracles.shingleHashesViaArrays(
          QShared.docsTokens(spark, TestSpark.Sf), "doc_id", "toks", k = 3)
        .localCheckpoint(),
      0.05, maxBucket = 1000).count()
    assert(hist.map(_._2).sum == pairs,
      "histogram must account for every candidate pair exactly once")
  }

  test("editVerify over jaccardPairsPrefix: one-word typo pairs at their true edit distance; unrelated text never candidates; ned boundary rounded") {
    val base = "quick brown fox jumps over lazy dog again again tonight"
    val typo = base.replace("over", "ovre") // transposition: levenshtein 2
    val other = "completely different content about spark shuffles and joins here now"
    val docs = Seq((1L, base), (2L, typo), (3L, other))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text",
        graft.ops.TextOps.tokenizeFiltered($"text",
          Dictionaries.Stopwords, Nil).as("toks"))
    // candidates: the prefix-filtered 3-shingle kernel at a loose 0.3
    val cand = Dedup.jaccardPairsPrefix(
      Dedup.shingleHashes(docs, "doc_id", "toks", k = 3), 0.3)
    val got = Dedup.editVerify(cand, docs, "doc_id", "text", maxNed = 0.5)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"exactly the typo pair must survive: $got")
    val (_, _, dist, ned) = got.head
    assert(dist == 2, s"ovre↔over is a 2-op edit, got $dist")
    val expNed = BigDecimal(2.0 / base.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ned == expNed)
    // a tight maxNed excludes the pair — the threshold is live
    assert(Dedup.editVerify(cand, docs, "doc_id", "text", maxNed = 0.01).count() == 0)
  }

  test("weightedJaccardVerify: multiset semantics, repetition-sensitive, self-pair = 1") {
    // counts: doc1 {a:2, b:1}, doc2 {a:1, b:2} → Σmin = 1+1 = 2,
    // Σmax = 2+2 = 4 → jw = 0.5 — while SET jaccard would say 1.0
    val toy = Seq(
      (1L, Seq("a", "a", "b")),
      (2L, Seq("a", "b", "b")),
      (3L, Seq("a", "a", "b")),   // identical multiset to doc 1
      (4L, Seq("c", "c")))        // disjoint
      .toDF("doc_id", "toks")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val got = Dedup.weightedJaccardVerify(cand, toy, "doc_id", "toks")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 0.5)
    assert(got((1L, 3L)) == 1.0, "identical multisets must grade 1.0")
    assert(got((1L, 4L)) == 0.0, "disjoint vocab grades 0.0")
    // threshold is live
    assert(Dedup.weightedJaccardVerify(cand, toy, "doc_id", "toks", minJw = 0.6)
      .count() == 1)
    // real corpus: jw ∈ [0, 1] and bounded above by... nothing in general,
    // but candidate pairs at shingle-J ≥ 0.5 should mostly keep high jw
    val corpus = Dedup.weightedJaccardVerify(
        QShared.dedupPairs3(spark, TestSpark.Sf),
        QShared.docsTokens(spark, TestSpark.Sf), "doc_id", "toks")
      .as[(Long, Long, Double)].collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall { case (_, _, jw) => jw >= 0.0 && jw <= 1.0 })
  }

  test("q_weighted_minhash_md5: identical multisets estimate 1.0; corpus calibration bounded") {
    val got = SparkEntry.queries("q_weighted_minhash_md5")(spark, TestSpark.Sf)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.nonEmpty, "the sf0.001 corpus has weighted-Jaccard candidate pairs")
    got.foreach { case (_, _, jw, est, err) =>
      assert(jw >= 0.0 && jw <= 1.0 && est >= 0.0 && est <= 1.0)
      assert(math.abs(est * 16 - math.round(est * 16)) < 1e-6,
        s"est $est must be a multiple of 1/16")
      assert(math.abs(err - math.abs(est - jw)) < 1e-9)
      // the multiset-expansion equivalence is exact: jw = 1 means the
      // two expanded element SETS are identical, so every minhash slot
      // must agree
      if (jw == 1.0) assert(est == 1.0,
        "identical multisets must produce identical expanded-element signatures")
    }
    // k=16 binomial calibration: mean |err| should sit near
    // mean √(jw(1−jw)/16) on these high-jw pairs — allow 3× slack
    val meanErr = got.map(_._5).sum / got.length
    val bound = 3 * got.map { case (_, _, jw, _, _) =>
      math.sqrt(jw * (1 - jw) / 16) }.sum / got.length
    assert(meanErr <= math.max(bound, 0.08),
      f"mean |err| $meanErr%.4f exceeds calibration bound $bound%.4f")
  }

  test("cwsSigRows + weightedJaccardVerifyReal: real-weight CWS is consistent and calibrated") {
    // exact real-weighted verify on a hand fixture:
    // doc1 {a:2.5, b:1}, doc2 {a:1, b:2} → Σmin = 1+1, Σmax = 2.5+2
    val w = Seq(
      (1L, "a", 2.5), (1L, "b", 1.0),
      (2L, "a", 1.0), (2L, "b", 2.0),
      (3L, "a", 2.5), (3L, "b", 1.0),   // identical weight vector to doc 1
      (4L, "c", 4.0))                   // disjoint vocabulary
      .toDF("id", "tok", "w")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val got = Dedup.weightedJaccardVerifyReal(cand, w)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 0.444444, "2/4.5 rounded 6 dp")
    assert(got((1L, 3L)) == 1.0, "identical real weight vectors grade 1.0")
    assert(got((1L, 4L)) == 0.0, "disjoint vocab grades 0.0")
    // the defining CWS property: samples are a pure function of
    // (tok, j, w) — identical weight vectors sample identically on
    // EVERY hash (that consistency is what makes Pr[match] = J_w)
    val sig = Dedup.cwsSigRows(w, numHashes = 256, salt = "spec")
      .as[(Long, Int, Long, Long)].collect()
    val byId = sig.groupBy(_._1)
      .view.mapValues(_.map(r => r._2 -> (r._3, r._4)).toMap).toMap
    assert(byId.keySet == Set(1L, 2L, 3L, 4L))
    assert(byId(1L).size == 256, "one sample per hash index")
    assert(byId(1L) == byId(3L), "identical vectors → identical samples")
    // disjoint docs can never agree (different tokens → different th)
    assert((0 until 256).forall(j => byId(1L)(j) != byId(4L)(j)))
    // unbiasedness smoke at K=256: est within ±0.15 (≈5σ) of J_w=0.4444
    val est12 = (0 until 256).count(j => byId(1L)(j) == byId(2L)(j)) / 256.0
    assert(math.abs(est12 - 0.444444) < 0.15,
      f"CWS estimate $est12%.4f far from true J_w 0.4444 at K=256")
  }

  test("editVerify banded DP ≡ full DP on the real corpus; band boundary exact") {
    // parity on the real sf0.001 documents: the banded k-limited verify
    // (BoundedLevenshtein, k = ceil(mx·maxNed)+1) must keep exactly the
    // pairs the unbounded DP keeps, with identical distances — at BOTH a
    // tight and a generous maxNed (different bands, same answer)
    val documents = Tables.table(spark, TestSpark.Sf, "documents")
    for (maxNed <- Seq(0.2, 0.5)) {
      val cand = QShared.dedupPairs3(spark, TestSpark.Sf)
      val banded = Dedup.editVerify(cand, documents, "doc_id", "text", maxNed)
        .as[(Long, Long, Int, Double)].collect().toSet
      val t = documents.select($"doc_id", $"text")
      val full = cand.select($"id1", $"id2")
        .join(t.select($"doc_id".as("id1"), $"text".as("t1"),
          length($"text").as("l1")), Seq("id1"))
        .join(t.select($"doc_id".as("id2"), $"text".as("t2"),
          length($"text").as("l2")), Seq("id2"))
        .withColumn("mx", greatest($"l1", $"l2"))
        .filter(abs($"l1" - $"l2") <= $"mx" * lit(maxNed))
        .withColumn("dist", levenshtein($"t1", $"t2")) // full O(L²) DP
        .withColumn("ned", when($"mx" === 0, lit(0.0))
          .otherwise(round($"dist" / $"mx", 6)))
        .filter($"ned" <= maxNed)
        .select($"id1", $"id2", $"dist", $"ned")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(banded == full,
        s"banded and full DP disagree at maxNed=$maxNed: " +
          s"banded-only=${(banded -- full).take(3)} full-only=${(full -- banded).take(3)}")
      assert(full.nonEmpty || maxNed < 0.5,
        "the sf0.001 corpus has verified edit pairs at maxNed=0.5")
    }
    // band boundary at unit scale: dist == k is kept exactly, dist == k+1
    // returns -1 and is dropped (Spark's threshold contract)
    import graft.functions.BoundedLevenshtein
    val row = Seq(("kitten", "sitting")).toDF("a", "b") // dist = 3
    assert(row.select(BoundedLevenshtein($"a", $"b", lit(3)))
      .as[Int].head() == 3)
    assert(row.select(BoundedLevenshtein($"a", $"b", lit(2)))
      .as[Int].head() == -1)
  }

  test("q_minhash_err: est is an exact multiple of 1/16 in [0,1]; err consistent and bounded") {
    val got = SparkEntry.queries("q_minhash_err")(spark, TestSpark.Sf).collect()
    assert(got.nonEmpty, "the sf0.001 corpus has exact near-dup pairs to grade")
    got.foreach { r =>
      val (j, est, err) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(j >= 0.5 && j <= 1.0)
      assert(est >= 0.0 && est <= 1.0)
      assert(math.abs(est * 16 - math.round(est * 16)) < 1e-6,
        s"est $est must be a multiple of 1/16")
      assert(math.abs(err - math.abs(est - j)) < 1e-9)
    }
    // k=16 binomial noise: mean |est−j| stays well inside √(j(1−j)/16)
    val mean = got.map(_.getDouble(4)).sum / got.length
    assert(mean < 0.15, s"mean |est-j| $mean out of calibration")
  }

  test("dropDupsByKey keeps exactly one row per key, the min-id one") {
    val withFp = docs.withColumn("fp", Dedup.wordSetFingerprint($"toks"))
    val kept = Dedup.dropDupsByKey(withFp.select($"doc_id", $"fp"), "doc_id", "fp")
    val total = withFp.select($"fp").distinct().count()
    assert(kept.count() == total)
    val reps = Dedup.exactDupGroups(withFp, "doc_id", "fp")
      .select($"rep").as[Long].collect().toSet
    val keptIds = kept.select($"doc_id").as[Long].collect().toSet
    assert(reps.subsetOf(keptIds))
  }

  test("oracle-blind xxhash64 pair twins == md5 witnesses on a duplicate-group fixture") {
    // VERDICT r17 what's-wrong #2 / next #9: the three rows-only
    // queries (q_minhash_pairs, q_char_minhash_pairs, q_simhash_pairs)
    // differ from their value-oracled md5 witnesses ONLY by hash
    // family, but DuckDB cannot check them — so pin BOTH families'
    // pair sets against each other on a fixture where the expected set
    // is a closed form: 6 groups × 3 EXACT duplicates over
    // pairwise-disjoint vocabularies (group letter a–f appears in
    // every ≥4-char window of its text and nowhere else, so even the
    // CHAR-5-gram sets are cross-group disjoint). Identical docs
    // produce identical signatures under ANY hash family; a
    // cross-group candidate would need a band/chunk collision between
    // docs sharing no shingle. Everything is seeded/deterministic —
    // stable, not probabilistic.
    val nGroups = 6; val perGroup = 3
    def word(g: Int, i: Int): String =
      s"${('a' + g).toChar}${('g' + i % 10).toChar}${('g' + i / 10).toChar}"
    val fix = (for { g <- 0 until nGroups; m <- 0 until perGroup } yield {
      val ws = (0 until 30).map(i => word(g, i))
      ((g * 10 + m).toLong, ws, ws.mkString(" "))
    }).toDF("doc_id", "toks", "text")
    val expected = (for {
      g <- 0 until nGroups; a <- 0 until perGroup; b <- a + 1 until perGroup
    } yield ((g * 10 + a).toLong, (g * 10 + b).toLong)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"id1", $"id2").as[(Long, Long)].collect().toSet

    // word-3-shingle MinHash LSH: q_minhash_pairs' pipeline vs
    // q_minhash_lsh_md5's portable pipeline
    val eXx = Oracles.shingleHashesViaArrays(fix, "doc_id", "toks", k = 3)
    assert(pairs(Dedup.lshCandidates(
      Dedup.minhashFromHashes(eXx, 128, 42L), bands = 32)) == expected,
      "xxhash64 word-minhash pair set")
    val sh3 = fix.select($"doc_id", Dedup.tokenShingles($"toks", 3).as("sh"))
    assert(pairs(Dedup.minhashPairsPortable(sh3, "doc_id", "sh")) == expected,
      "md5 word-minhash pair set")

    // char-5-gram MinHash: q_char_minhash_pairs' fused rolling-hash
    // pipeline vs q_char_minhash_md5's portable char twin
    import graft.functions.CharShingleHashes.char_shingle_hashes
    val sigsChar = fix.select($"doc_id".as("id"),
        Dedup.minhashSigsCol(char_shingle_hashes(lower($"text"), 5)).as("sig"))
      .filter($"sig".isNotNull)
    assert(pairs(Dedup.lshCandidates(sigsChar, bands = 32)) == expected,
      "xxhash64 char-minhash pair set")
    val txt = lower($"text")
    val shChar = fix.select($"doc_id",
      when(length(txt) < 5, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), greatest(length(txt) - 4, lit(1))),
          i => txt.substr(i, lit(5)))).as("shc"))
    assert(pairs(Dedup.minhashPairsPortable(shChar, "doc_id", "shc")) == expected,
      "md5 char-minhash pair set")

    // simhash: q_simhash_pairs' xxhash64 path vs q_simhash_md5's
    // portable path (exact dups are Hamming 0; disjoint vocabularies
    // land far outside maxDist=3 under both hash families)
    assert(pairs(Dedup.simhashPairs(
      Dedup.simhash64(fix, "doc_id", "toks"))) == expected,
      "xxhash64 simhash pair set")
    assert(pairs(Dedup.simhashPairsPortable(
      Dedup.simhashPortable(fix, "doc_id", "toks"))) == expected,
      "md5 simhash pair set")
  }
}

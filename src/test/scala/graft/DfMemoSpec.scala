package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DfMemo, Similarity}

/** Behavior of the run-scoped derived-frame memo (round 12): the
  * frame-valued sibling of the PCA basisCache. The contract under test
  * is the cache-key discipline — file-backed inputs memoize, in-memory
  * fixtures never do, and distinct tags/plans never alias.
  */
class DfMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val emb = Tables.table(spark, TestSpark.Sf, "embeddings")

  test("in-memory frames are computed fresh, never cached") {
    DfMemo.clear()
    val mem = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "x")
    var calls = 0
    def derive() = DfMemo.cached(mem, "spec:mem") {
      calls += 1; mem.withColumn("y", col("x") * 2)
    }
    assert(derive().collect().length == 2)
    assert(derive().collect().length == 2)
    assert(calls == 2, "no inputFiles → no identity → no memo")
    assert(DfMemo.size == 0)
  }

  test("file-backed derivations memoize: one compute, same frame back") {
    DfMemo.clear()
    var calls = 0
    def derive() = DfMemo.cached(emb, "spec:file") {
      calls += 1; emb.select(col("vec_id"), size(col("embedding")).as("d"))
    }
    val a = derive()
    val b = derive()
    assert(calls == 1, "second call must hit")
    assert(a eq b, "hit returns the SAME persisted frame")
    assert(a.count() == b.count())
    assert(DfMemo.size == 1)
    // a different tag over the same input is a different derivation
    val c = DfMemo.cached(emb, "spec:file:other") {
      emb.select(col("vec_id"))
    }
    assert(!(c eq a) && DfMemo.size == 2)
    DfMemo.clear()
    assert(DfMemo.size == 0)
  }

  test("cachedPath: file-backed staging writes once; in-memory never memoizes") {
    DfMemo.clear()
    var writes = 0
    def stage() = DfMemo.cachedPath(emb, "spec-path") { d =>
      writes += 1
      emb.select(col("vec_id")).coalesce(1).write.mode("overwrite").parquet(d)
    }
    val p1 = stage()
    val p2 = stage()
    assert(writes == 1, "second call must reuse the staged directory")
    assert(p1 == p2)
    assert(spark.read.parquet(p1).count() == emb.count())
    // a different tag stages separately
    val p3 = DfMemo.cachedPath(emb, "spec-path-other") { d =>
      emb.select(col("vec_id")).limit(1).write.mode("overwrite").parquet(d)
    }
    assert(p3 != p1)
    // in-memory input: no backing files → no identity → fresh dir per call
    val mem = Seq((1L, 2.0)).toDF("id", "x")
    var memWrites = 0
    def memStage() = DfMemo.cachedPath(mem, "spec-path-mem") { _ => memWrites += 1 }
    assert(memStage() != memStage())
    assert(memWrites == 2)
    // clear() drops the path memo: the next call re-stages
    DfMemo.clear()
    val p4 = stage()
    assert(writes == 2 && p4 != p1, "clear() must force a re-stage")
    DfMemo.clear()
  }

  test("distinct plans over the same files never alias") {
    DfMemo.clear()
    val full = DfMemo.cached(emb, "spec:plan")(emb.select(col("vec_id")))
    val half = DfMemo.cached(emb.filter(col("vec_id") % 2 === 0), "spec:plan")(
      emb.filter(col("vec_id") % 2 === 0).select(col("vec_id")))
    assert(full.count() > half.count(),
      "the canonical-plan key component must separate a filtered view from its source")
    DfMemo.clear()
  }

  test("checkpoint lineage survives a Bench-style per-query cache sweep") {
    // Bench releases every RDD a query pinned after the query finishes;
    // DfMemo frames whose lineage contains localCheckpoint blocks (the
    // prefix-filter pair kernel's) die permanently under that sweep unless
    // their pins are exempted — the r12 CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    // regression this spec locks down.
    DfMemo.clear()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select(col("doc_id"),
        graft.ops.TextOps.tokenizeFiltered(col("text"),
          Dictionaries.Stopwords, Nil).as("toks"))
    val clusters = DfMemo.cached(docs, "spec:sweep") {
      graft.ops.Dedup.dedupClusters(
        graft.ops.Dedup.jaccardPairsPrefix(
          Oracles.shingleHashesViaArrays(docs, "doc_id", "toks", k = 3),
          0.5))
    }
    val first = clusters.count()
    // the derivation's checkpoint pins must be registered as protected
    assert(DfMemo.protectedRddIds.nonEmpty,
      "the pair kernel's localCheckpoint pins must be recorded")
    // Bench's sweep: unpersist everything this 'query' pinned, EXCEPT
    // the protected ids
    DfMemo.releaseSince(sc, before)
    // the memoized frame must still be computable afterwards
    val again = DfMemo.cached(docs, "spec:sweep") {
      fail("second call must be a cache hit"); docs
    }
    assert(again.count() == first)
    DfMemo.clear()
  }

  test("memoized kernels return identical results on hit (cellMatches + knnGraph)") {
    DfMemo.clear()
    val cells = emb
      .select($"vec_id".cast("long"),
        graft.ops.KMeansOps.asDouble($"embedding").as("v"))
      .filter($"vec_id" < 8).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val miss = Similarity.knnSelfJoin(emb, "vec_id", "embedding", cells,
        k = 5, nprobe = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    val n0 = DfMemo.size
    assert(n0 >= 1, "the cell-routed candidate kernel must be memoized")
    val hit = Similarity.knnSelfJoin(emb, "vec_id", "embedding", cells,
        k = 5, nprobe = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(DfMemo.size == n0, "identical args must not add an entry")
    assert(hit == miss)
    // a different nprobe is a different substrate — new entry, not a hit
    Similarity.knnSelfJoin(emb, "vec_id", "embedding", cells, k = 5, nprobe = 2)
      .limit(1).collect()
    assert(DfMemo.size == n0 + 1)
    val g1 = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
    val g2 = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
    assert(g1 eq g2, "the exact kernel memoizes too (recall grade reuses it)")
    DfMemo.clear()
  }

  test("dedupClusters pins no checkpoint blocks at build; memo hit stays stable") {
    DfMemo.clear()
    val sc = spark.sparkContext
    // file-backed 16-node path: the union-find pass streams the edges
    // once and pins nothing but the memo frame's own cache buffer
    val tmp = java.nio.file.Files.createTempDirectory("graft-deadpins").toString
    (0L until 15L).map(i => (i, i + 1)).toDF("id1", "id2")
      .write.mode("overwrite").parquet(tmp)
    val pairs = spark.read.parquet(tmp)
    val before = sc.getPersistentRDDs.keySet
    val clusters = DfMemo.cached(pairs, "spec:deadpins") {
      graft.ops.Dedup.dedupClusters(pairs)
    }
    val first = clusters.count()
    assert(first == 16, "one (id, rep) row per chain node")
    val fresh = sc.getPersistentRDDs.filterNot { case (id, _) => before(id) }
    val ckpts = fresh.values
      .filter(org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed).toSeq
    assert(ckpts.isEmpty, s"${ckpts.size} checkpoint pins left by the build")
    // later consumers: memo hit, stable result
    val again = DfMemo.cached(pairs, "spec:deadpins") {
      fail("second call must be a cache hit"); pairs
    }
    assert(again.count() == first)
    assert(again.as[(Long, Long)].collect().forall(_._2 == 0L),
      "every chain node resolves to the component minimum")
    DfMemo.clear()
  }

  test("dedupPairs3 reads the persisted shingle memo in place: its build pins one checkpoint, not a second copy of the shingle rows") {
    DfMemo.clear()
    val sc = spark.sparkContext
    // every consumer resolves the shingle memo first; its pins predate
    // the pair build
    QShared.shingles3Arrays(spark, TestSpark.Sf)
    val prot0 = DfMemo.protectedRddIds
    val (pairs, jobs) = TestSpark.countJobs(QShared.dedupPairs3(spark, TestSpark.Sf))
    val fresh = DfMemo.protectedRddIds -- prot0
    val ckpts = sc.getPersistentRDDs.filter { case (id, rdd) =>
      fresh(id) && org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(rdd)
    }
    // no eager checkpoint of the input: 12 jobs (13 with it), and the
    // one pin is the prefix kernel's per-document aggregate
    assert(jobs == 12, s"dedupPairs3 build ran $jobs jobs")
    assert(ckpts.size == 1, s"${ckpts.size} checkpoint pins from one dedupPairs3 build")
    assert(pairs.count() > 0)
    DfMemo.clear()
  }

  test("labeled cell kernel derives from the shared unlabeled build (r14)") {
    DfMemo.clear()
    val cells = emb
      .select($"vec_id".cast("long"),
        graft.ops.KMeansOps.asDouble($"embedding").as("v"))
      .filter($"vec_id" < 8).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // labeled path first: must create the BASE kernel entry plus its
    // cheap label-join derivation — exactly two memo slots, one build
    val labeled = Similarity.cellMatches(emb, "vec_id", "embedding",
      Some("label"), cells, nprobe = 5, scale = 4)
    labeled.count()
    assert(DfMemo.size == 2,
      "labeled = shared base kernel + label-join derivation, not a rebuild")
    // the unlabeled consumer then HITS the base the labeled path built
    val unlabeled = Similarity.cellMatches(emb, "vec_id", "embedding",
      None, cells, nprobe = 5, scale = 4)
    unlabeled.count()
    assert(DfMemo.size == 2,
      "unlabeled consumer must hit the base built by the labeled path")
    // semantics: labeled edges = unlabeled edges, labels functionally
    // dependent on the ids (the property that makes the join legal)
    val lset = labeled.select("qid", "nbr", "cos")
      .as[(Long, Long, Double)].collect().toSet
    val uset = unlabeled.as[(Long, Long, Double)].collect().toSet
    assert(lset == uset)
    val labs = emb.select($"vec_id".cast("long"), $"label".cast("string"))
      .as[(Long, String)].collect().toMap
    labeled.select("qid", "qlab", "nbr", "nlab")
      .as[(Long, String, Long, String)].collect().foreach {
        case (q, ql, n, nl) =>
          assert(labs(q) == ql && labs(n) == nl)
      }
    DfMemo.clear()
  }
}

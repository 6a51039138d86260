package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan invariants over the ENTIRE query suite — the "is this
  * the plan you'd want at 100 TB" checks, automated:
  *  - no plan may contain a shuffle cartesian product;
  *  - any nested-loop join must be the broadcast form (small side
  *    explicitly broadcast — k centroids, vocabularies, block tables);
  *  - filters and projections must reach the parquet scans;
  *  - top-k queries must plan as TakeOrderedAndProject, never a global
  *    sort (guards the selectVocab/sampleK regressions).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.Sf).queryExecution.executedPlan.toString

  test("no query plans a cartesian product; nested-loop joins are broadcast-only") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a shuffle cartesian product")
      if (p.contains("BroadcastNestedLoopJoin"))
        assert(p.contains("BroadcastExchange"),
          s"$name has a nested-loop join without a broadcast side")
    }
  }

  test("doubled GK-sketch subplan: both approx_percentile instances agree, AQE on and off") {
    // q_approx_percentiles_err deliberately lets its 3-row sketch agg
    // appear TWICE in one plan (the localCheckpoint cut measured 6x
    // the doubled subplan, r16) and relies on the two instances
    // returning IDENTICAL values — same partition layout, same
    // deterministic GK build/merge. That invariant is load-bearing
    // for the gate's rank booleans, so pin it on its own against
    // future Spark upgrades (VERDICT r16 #6): compare the sketch
    // value carried through the broadcast-probe path against the
    // value from the final-join path, per group, under both AQE
    // settings. If this ever fails, fall back to the measured
    // checkpoint form in QRelEvents.
    import org.apache.spark.sql.functions._
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      Seq("true", "false").foreach { aqe =>
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val li = Tables.table(spark, TestSpark.Sf, "lineitem")
        val agg = li.groupBy(col("l_returnflag")).agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50a"))
        val probe = li
          .join(broadcast(agg.select(col("l_returnflag"),
            col("p50a").as("p50probe"))), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("p50probe")).as("pmin"), max(col("p50probe")).as("pmax"))
        val rows = agg.join(probe, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("p50a"), col("pmin"), col("pmax"))
          .collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          assert(r.getDouble(1) == r.getDouble(2) && r.getDouble(1) == r.getDouble(3),
            s"AQE=$aqe: the two GK subplan instances diverged on " +
              s"${r.getString(0)}: agg=${r.getDouble(1)} probe=[${r.getDouble(2)}, ${r.getDouble(3)}]")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("q_partitioned_scan: the source predicate is a partition filter (directory pruning), not a data filter") {
    val p = plan("q_partitioned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(source"),
      s"expected the source predicate as a PartitionFilter in:\n$p")
  }

  test("q_agg_lineitem: the shipdate filter is pushed into the parquet scan") {
    val p = plan("q_agg_lineitem")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushed filters in:\n$p")
  }

  test("q_tokens: only (doc_id, text) are read from the documents scan") {
    val p = plan("q_tokens")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected pruned ReadSchema in:\n$p")
  }

  test("q_count_n: a pure count reads zero data columns") {
    val p = plan("q_count_n")
    assert(p.contains("ReadSchema: struct<>"), s"expected empty ReadSchema in:\n$p")
  }

  test("kmeans assign is a zero-shuffle map-side argmin: no Exchange, no join") {
    import org.apache.spark.sql.functions._
    val pts = Tables.table(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"), graft.ops.KMeansOps.asDouble(col("embedding")).as("v"))
    val centroids = Array(0L -> Array(1.0, 0.0, 0.0), 1L -> Array(0.0, 1.0, 0.0))
    val p = graft.ops.KMeansOps.assign(pts, "vec_id", "v", centroids)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assign must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("join"), s"assign must not join:\n$p")
  }

  test("silhouette is a zero-shuffle map-side projection: no Exchange, no join") {
    val emb = Tables.table(spark, TestSpark.Sf, "embeddings")
    val cells = QShared.fixedCentroidArr(spark, TestSpark.Sf)
    val p = graft.ops.Similarity.silhouette(emb, "vec_id", "embedding", cells)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"silhouette must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("join"), s"silhouette must not join:\n$p")
  }

  test("protoPrune: map-side scoring, exactly one exchange (the per-cell rank window), no join") {
    val emb = Tables.table(spark, TestSpark.Sf, "embeddings")
    val cells = QShared.fixedCentroidArr(spark, TestSpark.Sf)
    val p = graft.ops.Similarity
      .protoPrune(emb, "vec_id", "embedding", cells, keepNum = 3, keepDen = 10)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange \\w+".r.findAllMatchIn(p).map(_.matched).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning"),
      s"protoPrune must shuffle exactly once, on the cell window:\n$exchanges\n$p")
    assert(!p.toLowerCase.contains("join"), s"protoPrune must not join:\n$p")
  }

  test("q_seq_ids/q_pack/q_shuffle_det: no single-partition window — the at-scale offset form is the gated plan") {
    for (q <- Seq("q_seq_ids", "q_pack", "q_shuffle_det")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must use the per-partition-offset form, not a global WindowExec:\n$p")
    }
    // the id-assignment plans also stay fully in whole-stage codegen
    // (monotonically_increasing_id + broadcast offset join — no RDD node).
    // q_pack is exempt: its per-partition running token SUM is a true
    // scan, not a per-row map — the RDD mapPartitions is the no-shuffle
    // form (a window-by-partition-id would add a full-corpus Exchange).
    for (q <- Seq("q_seq_ids", "q_shuffle_det")) {
      val p = plan(q)
      assert(!p.contains("ExistingRDD"),
        s"$q must stay in whole-stage codegen — no RDD node / Row boxing:\n$p")
    }
  }

  test("q_dedup_best: the canonicalization window partitions by coalesce(rep, id) — no whole-corpus null partition") {
    // a window partitioned by bare `rep` puts every UNclustered doc (the
    // vast majority of a corpus) into the single rep-IS-NULL partition —
    // a near-whole-corpus single-partition sort at scale
    val p = plan("q_dedup_best").toLowerCase
    // a window partitioned directly by the (nullable) rep attribute would
    // show the bare attribute as the partition key
    assert(!p.contains("windowspecdefinition(rep#"),
      s"q_dedup_best window partitions by bare rep — unclustered docs land in one null partition:\n$p")
    // the coalesce(rep, doc_id) key is pre-projected (Catalyst names it _w0)
    assert(p.contains("coalesce(rep#"),
      s"expected a coalesce(rep, id) window partition key in q_dedup_best plan:\n$p")
  }

  test("q_span_scrub / q_line_dedup: the hot-side joins broadcast — no SortMergeJoin in either plan") {
    // scrubHotSpans' hot-gram set and scrubHotLines' hot-line set are
    // boilerplate-only (≥minDocs HAVING) and hinted broadcast explicitly;
    // a SortMergeJoin here would mean a full corpus shuffle at 100 TB
    // (the scaladoc's claim, now plan-asserted — ADVICE r7). The
    // deliberately-shuffling variant is scrubDupSpans (q_span_scrub_exact),
    // whose duplicated set is NOT tiny.
    for (q <- Seq("q_span_scrub", "q_line_dedup")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q plans a SortMergeJoin:\n$p")
      assert(p.contains("BroadcastExchange"), s"$q should broadcast its hot side:\n$p")
    }
  }

  test("top-k queries plan as TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("q_topk", "q_vocab_params", "q_sample_k")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q should TakeOrdered:\n$p")
    }
  }

  test("round-8 broadcast-probe queries: benchmark/cell side broadcasts, no SortMergeJoin on the probe") {
    // q_contamination_frac's bench-gram set and q_cms_counts' cell table
    // are k-row sides by construction — a SortMergeJoin would mean the
    // corpus re-shuffles for the probe (the scaladocs' scale claims,
    // plan-asserted)
    for (q <- Seq("q_contamination_frac", "q_cms_counts")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"$q should broadcast its small side:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q plans a SortMergeJoin probe:\n$p")
    }
  }

  test("q_allpairs_tfidf: candidate generation joins the indexed prefix, and top-k stages stay bounded") {
    // the APSS plan must not degrade to a cartesian (suite-wide assert
    // already covers that); here: the verify tail aggregates, it does
    // not re-sort the corpus globally
    val p = plan("q_allpairs_tfidf")
    assert(p.contains("HashAggregate"), s"expected hash-aggregated verify tail:\n$p")
  }

  test("q_normalize_text / q_span_corrupt: pure map-side projections — no shuffle before the output sort") {
    // both scaladocs claim "the corpus never leaves its input
    // partitions"; the only allowed exchange is the final orderBy's
    // range partitioning (gate-output determinism, dropped in real use)
    for (q <- Seq("q_normalize_text", "q_span_corrupt")) {
      val p = plan(q)
      // "Exchange \w+" also catches SinglePartition / any future
      // Exchange variant the old [a-z]+partitioning regex missed
      val exchanges = "(?<!Broadcast)Exchange \\w+".r.findAllIn(p).toSeq
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$q must not shuffle the corpus (orderBy range exchange only):\n$p")
      assert(!p.contains("SortMergeJoin") && !p.toLowerCase.contains("hashjoin") &&
        !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must not join:\n$p")
    }
  }

  test("q_length_winsor: the per-source bounds broadcast back — no SortMergeJoin") {
    val p = plan("q_length_winsor")
    assert(p.contains("BroadcastExchange"), s"bounds side should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"winsor screen must stay map-side:\n$p")
  }

  test("round-9 map-side projections (JL / whiten / Mahalanobis / canonicalize): no joins, no corpus shuffle") {
    // scaladocs claim the per-row stage is broadcast-literal dots /
    // regex work with zero shuffle — after the driver-side basis
    // collects, the GATED plan must carry no join and only the output
    // orderBy's range exchange
    for (q <- Seq("q_whiten", "q_mahalanobis", "q_jl_project", "q_url_canon")) {
      val p = plan(q)
      val exchanges = "(?<!Broadcast)Exchange \\w+".r.findAllIn(p).toSeq
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$q must not shuffle the corpus (orderBy range exchange only):\n$p")
      assert(!p.contains("SortMergeJoin") && !p.toLowerCase.contains("hashjoin") &&
        !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must not join:\n$p")
    }
  }

  test("q_domain_dedup: ONE hash shuffle, on the canonical dedup key itself") {
    val p = plan("q_domain_dedup")
    val hashEx = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.size == 1, s"expected exactly one hash exchange:\n$p")
    assert(hashEx.head.contains("domain") && hashEx.head.contains("canon"),
      s"the one shuffle must key on (domain, canon):\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_pagerank / q_label_prop: edge substrate is the cell-routed join, NOT the blocked Θ(n²) kernel") {
    // VERDICT r10 #1: no gated graph plan may feed on
    // cosinePairsBlocked. GraphOps localCheckpoints the edge list, so
    // the gated queries' executedPlan is an ExistingRDD scan that
    // would pass a whole-plan grep NO MATTER what built the edges
    // (r11 review finding — the first version of this audit was
    // vacuous). Audit in two halves instead:
    // (1) the exact substrate expression the queries call —
    //     knnSelfJoin at the gated (C=8, nprobe=5) config — must plan
    //     free of the blocked kernel's unmistakable physical
    //     signature (the typed flatMap over collect_list-packed block
    //     pairs: SerializeFromObject + collect_list);
    // (2) the query definitions must wire their edges through
    //     knnSelfJoin and never call the exact knnGraph — asserted on
    //     the registry source, the only place the wiring exists
    //     before the checkpoint erases it.
    // q_knn_graph keeps the exact kernel by design (it IS the recall
    // baseline that grades the router).
    // drop the run-scoped substrate memo first (r12): a cache hit from
    // an earlier suite would hand back a persisted frame whose plan
    // prints as an InMemoryTableScan — and this audit would pass no
    // matter what built the kernel (the same vacuity the r11 review
    // caught in this test's first version)
    graft.ops.DfMemo.clear()
    val emb = Tables.table(spark, TestSpark.Sf, "embeddings")
    val cells = QShared.fixedCentroidArr(spark, TestSpark.Sf)
    val sub = graft.ops.Similarity
      .knnSelfJoin(emb, "vec_id", "embedding", cells, k = 5, nprobe = 5)
      .queryExecution.executedPlan.toString
    assert(!sub.contains("SerializeFromObject"),
      s"the graph substrate contains the blocked pair-gen flatMap kernel:\n${sub.take(2000)}")
    assert(!sub.toLowerCase.contains("collect_list"),
      s"the graph substrate packs blocks via collect_list:\n${sub.take(2000)}")
    // r18: the blocked kernels are generators now — ban their physical
    // signature too, so this audit stays non-vacuous after the rewrite
    for (g <- Seq("knnblocktopk", "cosblockpairs"))
      assert(!sub.toLowerCase.contains(g),
        s"the graph substrate contains the $g block-pair generator:\n${sub.take(2000)}")
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/queries/QTail.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    for (name <- Seq("q_pagerank", "q_label_prop")) {
      val from = src.indexOf("Q(\"" + name + "\"")
      assert(from >= 0, s"$name not found in QTail.scala")
      val next = src.indexOf("Q(\"", from + 1)
      val block = if (next < 0) src.substring(from) else src.substring(from, next)
      // match the CALL SITE, not prose — the scaladoc above each query
      // mentions knnSelfJoin too, and a comment must not satisfy the
      // audit (r11 review finding); ban every route into the blocked
      // kernel, not just the knnGraph wrapper
      assert(block.contains("Similarity.knnSelfJoin("),
        s"$name must build its edges via the Similarity.knnSelfJoin(...) call")
      for (banned <- Seq("knnGraph", "cosinePairsBlocked", "cosinePairsSparse"))
        assert(!block.contains(banned),
          s"$name must not route edges through the $banned kernel")
    }
    // marker updated r18: the blocked kernel is now the InternalRow
    // generator `knnblocktopk` (BlockPairKernels) — no more
    // SerializeFromObject/flatMap, but the Generate node is just as
    // unmistakable in a plan grep
    assert(plan("q_knn_graph").toLowerCase.contains("knnblocktopk"),
      "q_knn_graph must REMAIN the exact blocked baseline — if this " +
        "fires, the marker this audit greps for has drifted")
  }
}

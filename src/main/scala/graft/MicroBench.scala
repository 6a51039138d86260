package graft
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Dev harness: head-to-head timings for alternative formulations of
  * one operator (the inner loop for plan-choice decisions; not part of
  * the driver contract). Usage: runMain graft.MicroBench <sfDir>
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus(4))
    import graft.ops.TextOps
    def docsTokens = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextOps.tokenizeFiltered(col("text"), Dictionaries.Stopwords, Nil).as("toks"))
    def e3 = Dedup.shingleHashesViaArrays(docsTokens, "doc_id", "toks", k = 3)
    def time(name: String)(f: => Long): Unit = {
      // release only what the block itself persisted: an unconditional
      // sweep unpersists the long-lived localCheckpoint fixtures
      // (editFixture/editCand) and every later consumer dies with
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before(id) }
        .values.foreach(_.unpersist(false))
    }
    def gramsRepart = docsTokens
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        array_distinct(transform(Dedup.tokenShingles(col("toks"), 5),
          g => xxhash64(g))).as("g5"))
      .filter(size(col("g5")) > 0)
    def gramsPlain = docsTokens
      .select(col("doc_id"), Dedup.tokenShingles(col("toks"), 5).as("g5"))
    // loop-invariant Levenshtein fixtures: built ONCE above the round
    // loop (review r14: per-round rebuild re-paid the fixture 3x and
    // pinned a fresh checkpoint pair every round, invisible to the
    // per-block sweep because they sit outside any time() window)
    // banded vs full Levenshtein verify (VERDICT r12 #3): long
    // synthetic near-dup texts (~8k chars, small true distance) are
    // exactly where the k-limited band wins — O(k·L) vs O(L²) per
    // pair. Same candidate frame, same kept rows; only the DP shape
    // differs.
    val editFixture = {
      val n = 400
      spark.range(n).select(col("id"),
        concat_ws(" ", (0 until 64).map(j =>
          lit(s"w$j-${j * 31 % 97}")): _*).as("seg"))
        .select(col("id"),
          concat(lit("prefix "),
            array_join(array_repeat(col("seg"), 12), " "),
            when(col("id") % 2 === 0, lit(" edited tail x"))
              .otherwise(lit(" edited tail y"))).as("text"))
        .localCheckpoint()
    }
    val editCand = editFixture.select(col("id").as("id1"))
      .join(editFixture.select(col("id").as("id2")),
        col("id1") + 1 === col("id2"))
      .localCheckpoint()
    def editJoin = editCand
      .join(editFixture.select(col("id").as("id1"), col("text").as("t1"),
        length(col("text")).as("l1")), Seq("id1"))
      .join(editFixture.select(col("id").as("id2"), col("text").as("t2"),
        length(col("text")).as("l2")), Seq("id2"))
      .withColumn("mx", greatest(col("l1"), col("l2")))
    for (round <- 1 to 3) {
      println(s"-- round $round")
      time("ckpt_repart_hash") { gramsRepart.localCheckpoint().count() }
      time("ckpt_plain_str")   { gramsPlain.localCheckpoint().count() }
      time("ckpt_hash_norepart") { docsTokens
        .select(col("doc_id"),
          array_distinct(transform(Dedup.tokenShingles(col("toks"), 5),
            g => xxhash64(g))).as("g5"))
        .filter(size(col("g5")) > 0).localCheckpoint().count() }
      time("ckpt_repart_str") { docsTokens
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), Dedup.tokenShingles(col("toks"), 5).as("g5"))
        .localCheckpoint().count() }
      time("ckpt_hash_nodistinct") { docsTokens
        .select(col("doc_id"),
          transform(Dedup.tokenShingles(col("toks"), 5),
            g => xxhash64(g)).as("g5"))
        .localCheckpoint().count() }
      time("e3_array_distinct") { e3.count() }
      time("e3_row_distinct") { docsTokens
        .select(col("doc_id").as("id"),
          explode(Dedup.tokenShingles(col("toks"), 3)).as("gs"))
        .select(col("id"), xxhash64(col("gs")).as("h"))
        .distinct().localCheckpoint().count() }
      time("frac_row_distinct") {
        val e = docsTokens
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"), explode(Dedup.tokenShingles(col("toks"), 5)).as("gs"))
          .select(col("doc_id"), xxhash64(col("gs")).as("g"))
          .distinct().localCheckpoint()
        val bench = e.filter(col("doc_id") % 7 === 0).select("g").distinct()
        val corpus = e.filter(col("doc_id") % 7 =!= 0)
        val counts = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val hits = corpus.join(broadcast(bench), Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        counts.join(hits, Seq("doc_id"), "left").count()
      }
      time("decontaminate") {
        val g = gramsPlain.localCheckpoint()
        Dedup.contaminationHits(g.filter(col("doc_id") % 7 =!= 0), "doc_id", "g5",
          g.filter(col("doc_id") % 7 === 0), "g5").count()
      }
      // the two r9-verdict "drift" queries' kernels at unit granularity
      // (task #8): a REAL band-hash or Bloom-probe regression shows up
      // here directly instead of riding suite-level sampling noise
      // (see COVERAGE.md "Bench methodology note")
      time("lsh_band_pairgen") {
        val hashes = Dedup.shingleHashes(docsTokens, "doc_id", "toks", k = 3)
          .localCheckpoint()
        Dedup.lshCandidates(
          Dedup.minhashFromHashes(hashes, numHashes = 128, seed = 42L),
          bands = 32).count()
      }
      time("bloom_probe") {
        val g = gramsPlain.localCheckpoint()
        val bits = Dedup.bloomBitsFromGrams(
          g.filter(col("doc_id") % 7 === 0), "g5")
        Dedup.bloomContaminationHits(
          g.filter(col("doc_id") % 7 =!= 0), "doc_id", "g5", bits).count()
      }
      time("lev_full_dp") {
        editJoin.withColumn("dist", levenshtein(col("t1"), col("t2")))
          .filter(col("dist") >= 0).count()
      }
      time("lev_banded_k") {
        editJoin.withColumn("dist", graft.functions.BoundedLevenshtein(
            col("t1"), col("t2"), ceil(col("mx") * lit(0.05)) + lit(1)))
          .filter(col("dist") >= 0).count()
      }
      time("frac_current") {
        val g = gramsRepart.localCheckpoint()
        val bench = g.filter(col("doc_id") % 7 === 0)
          .select(explode(col("g5")).as("g")).distinct()
        val corpus = g.filter(col("doc_id") % 7 =!= 0)
        val hits = corpus.select(col("doc_id"), explode(col("g5")).as("g"))
          .join(broadcast(bench), Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        corpus.select(col("doc_id"), size(col("g5")).as("n_grams"))
          .join(hits, Seq("doc_id"), "left").count()
      }
      // PSL compile cost (r14): the full ~9.5k-rule list vs the ~300-rule
      // snapshot — plan-build+analyze time and end-to-end eval over the
      // corpus. The InSet probes must stay map-side whatever the list.
      def urls = Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"),
          concat(lit("http://"), col("source"), lit(".example.co.uk/p/"),
            (col("doc_id") % 9).cast("string")).as("url"))
      def pslCompile(rules: Seq[String]): Long = {
        val df = urls.select(col("doc_id"),
          TextOps.urlApexPsl(col("url"), rules).as("apex"))
        df.queryExecution.executedPlan // force analyze+optimize+plan
        df.schema.length.toLong
      }
      time("psl_compile_snapshot") { pslCompile(TextOps.PslRules) }
      time("psl_compile_full")     { pslCompile(TextOps.PslRulesFull) }
      time("psl_eval_snapshot") { urls.select(
        TextOps.urlApexPsl(col("url"), TextOps.PslRules)).count() }
      time("psl_eval_full")     { urls.select(
        TextOps.urlApexPsl(col("url"), TextOps.PslRulesFull)).count() }
      // mojibake repair on a never-repairable corpus (r17, VERDICT
      // r16 "what's wrong" #2): before the cp1252-image pre-scan a
      // CJK/Cyrillic row paid two codec allocations + a thrown
      // CharacterCodingException each; now it pays one char scan —
      // assert by eye that cjk ≈ ascii here, both far under the old
      // exception path
      def mojibakeCorpus(prefix: String) = spark.range(2000000)
        .select(concat(lit(prefix), col("id").cast("string")).as("text"))
      time("mojibake_ascii_noop") {
        mojibakeCorpus("plain ascii document number ")
          .select(graft.functions.Mojibake.fixEncoding(col("text")).as("t"))
          .filter(length(col("t")) > 0).count()
      }
      time("mojibake_cjk_noop") {
        mojibakeCorpus("汉字漢字かなカタカナ한글 文档编号 ")
          .select(graft.functions.Mojibake.fixEncoding(col("text")).as("t"))
          .filter(length(col("t")) > 0).count()
      }
      time("mojibake_cyrillic_noop") {
        mojibakeCorpus("простой текст номер ")
          .select(graft.functions.Mojibake.fixEncoding(col("text")).as("t"))
          .filter(length(col("t")) > 0).count()
      }
    }
    spark.stop()
  }
}

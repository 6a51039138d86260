package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.9 — absent in the batch-only
  * reference; the testdata `events` table models the stream). Every
  * transform here works identically on a batch DataFrame and a
  * `readStream` DataFrame — the streaming/batch parity IS the test.
  */
object StreamOps {

  /** Tumbling 1-hour event-time aggregation with a 2-hour watermark —
    * the streaming twin of SparkEntry.q_window_hourly.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("total"))

  /** Stream-stream interval join: each left event joined to the right
    * events of the same key whose timestamp falls in
    * [left ts − lagSeconds, left ts]. BOTH sides carry watermarks, so
    * each side's join state is bounded to watermark + interval and
    * evicted as event time advances — the condition every production
    * stream-stream join must satisfy or state grows without bound.
    * Works identically on batch frames (watermark is a no-op there) —
    * the parity test in StreamingSpec exploits that.
    */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      lagSeconds: Long, watermark: String = "10 seconds"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs - INTERVAL $lagSeconds SECONDS" +
          s" AND $rightTs <= $leftTs"))

  /** Streaming decontamination — the ingest-time twin of
    * [[graft.ops.Dedup.contaminationHits]] over a PRE-EXPLODED gram
    * stream (idCol, gramCol): each arriving gram is probed against the
    * STATIC benchmark gram set (its gram column named by
    * `benchGramCol`, default "g") via a stream-static inner join
    * (stateless — the static side is re-resolved per micro-batch and
    * broadcasts, so the stream side never shuffles for the join), then
    * a stateful dropDuplicates emits each contaminated doc id exactly
    * ONCE however many grams hit. Explode on the caller's side of an
    * encoder boundary (typed flatMap): Catalyst textually duplicates
    * unaliased array-building trees through explode (the
    * `shingleHashes` lesson, ~7× re-evaluation measured), and a stream
    * cannot localCheckpoint the array away. Dedup state is one entry
    * per CONTAMINATED doc (a vanishing fraction of the stream).
    */
  def contaminatedGrams(
      grams: DataFrame, idCol: String, gramCol: String,
      benchGrams: DataFrame, benchGramCol: String = "g"): DataFrame =
    grams.select(col(idCol), col(gramCol).as("__graft_g"))
      .join(broadcast(
        benchGrams.select(col(benchGramCol).as("__graft_g"))), Seq("__graft_g"))
      .select(col(idCol))
      .dropDuplicates(idCol)

  final case class SEv(user_id: Long, ts: java.sql.Timestamp)
  final case class OpenSession(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** Streaming gap sessionizer — the stream twin of
    * EventOps.sessionize: a session closes when the next event of the
    * key is more than `gapMs` later (emitted immediately on arrival of
    * the closing event) or when the event-time watermark passes the
    * open session's end + gap (event-time timeout — no closing event
    * needed). flatMapGroupsWithState + EventTimeTimeout is the pattern;
    * the input must carry a watermark (`withWatermark` on ts).
    */
  def sessionizeStream(events: Dataset[SEv], gapMs: Long,
      watermarkDelay: String = "10 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[SEv], state: GroupState[OpenSession]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.start, s.end, s.n))
          } else {
            val sorted = evs.map(_.ts.getTime).toArray.sorted
            var closed = List.empty[Session]
            var cur = state.getOption.orNull
            sorted.foreach { t =>
              cur match {
                case null => cur = OpenSession(t, t, 1)
                case s if t - s.end > gapMs =>
                  closed ::= Session(uid, s.start, s.end, s.n)
                  cur = OpenSession(t, t, 1)
                case s => cur = OpenSession(s.start, t, s.n + 1)
              }
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming LM/perplexity scoring — the stream twin of
    * TextStats.lmScore as a per-micro-batch kernel for
    * `writeStream.foreachBatch` (the [[nbScoreBatch]] wiring): the
    * unigram LM is a FIXED artifact at query start (scoring streams
    * against a moving self-distribution is ill-defined) and arrives as
    * the (w, logp9) RELATION of
    * [[graft.ops.TextStats.unigramLogProbs9]], broadcast-joined per
    * batch (VERDICT r15 #1: the earlier `typedlit` map-literal form
    * collected the vocabulary to the driver and embedded it in the
    * plan — under Heaps' law that grows with the corpus; a relation
    * keeps the model bounded by the broadcast join, not the driver).
    *
    * Per doc: xent = −(Σ occurrences' logp9)/1e9/ntoks. The sums are
    * exact fixed-point longs, so per-batch scores are bit-identical
    * to the same kernel over the batched union — stream/batch parity
    * is structural. Contract parity with the old scorer: docs with
    * zero tokens emit no row; a doc carrying any token ABSENT from
    * the model scores null rather than silently skewing (the matched
    * count is compared to the token count — the left-join backfill
    * alone would mis-score partial coverage as certainty).
    */
  def lmScoreBatch(
      docs: DataFrame, idCol: String, toksCol: String,
      model: DataFrame): DataFrame = {
    val base = docs.filter(size(col(toksCol)) > 0)
      .select(col(idCol), col(toksCol))
    val matched = base
      .select(col(idCol), explode(col(toksCol)).as("w"))
      .join(broadcast(model.select(col("w"), col("logp9"))), Seq("w"))
      .groupBy(col(idCol))
      .agg(sum("logp9").as("slp9"), count(lit(1)).as("nm"))
    base.select(col(idCol), size(col(toksCol)).cast("long").as("n"))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol),
        when(col("nm") === col("n"),
          -(col("slp9").cast("double") / lit(1e9))
            / col("n").cast("double")).as("xent"))
  }

  /** Streaming Naive-Bayes scoring against a FIXED trained model —
    * the trained-classifier rung above [[lmScoreBatch]]'s unigram LM,
    * as a per-micro-batch kernel for `writeStream.foreachBatch` (the
    * [[weightedVerifyBatch]] wiring): per arriving doc, prior9 plus
    * the sum of its DISTINCT tokens' fixed-point log-odds — the exact
    * integer accumulation of [[graft.ops.TextStats.nbTrainScore]], so
    * stream and batch scores are bit-identical. Scoring is per-doc
    * independent, so the union of per-batch outputs IS the batch run
    * over the union of the batches — stream/batch parity is
    * structural.
    *
    * The model arrives as the (w, lo9) RELATION plus the 1-row prior9
    * frame, both broadcast-joined (ADVICE r14: the earlier map-literal
    * form collected the vocabulary to the driver and embedded it in
    * the plan — under Heaps' law that grows with the corpus,
    * contradicting the batch scorer's nothing-collected contract;
    * a relation keeps the model bounded by the join, not the driver).
    * Unseen tokens contribute 0 — the inner join + left backfill, the
    * same contract as the batch scorer.
    */
  def nbScoreBatch(
      docs: DataFrame, idCol: String, toksCol: String,
      model: DataFrame, prior: DataFrame): DataFrame = {
    val feats = docs.select(col(idCol),
      explode(array_distinct(col(toksCol))).as("w"))
    val slo = feats.join(broadcast(model.select(col("w"), col("lo9"))), Seq("w"))
      .groupBy(col(idCol)).agg(sum("lo9").as("slo9"))
    docs.select(col(idCol))
      .join(slo, Seq(idCol), "left").na.fill(0L, Seq("slo9"))
      .crossJoin(broadcast(prior.select(col("prior9"))))
      .select(col(idCol),
        ((col("prior9") + col("slo9")) / lit(1e9)).as("nb_logit"))
  }

  /** Streaming count-min accumulation — the incremental twin of
    * [[graft.ops.CountMin.sketch]] as a `foreachBatch` kernel (r16):
    * the sketch is CELL-WISE ADDITIVE, so streaming maintenance is a
    * merge of the batch's cells into a VERSIONED state directory —
    * read state v_{bid−1}, add this batch's cells, overwrite v_bid.
    * Versioning is what makes the at-least-once contract exactly-once
    * effective: a retried batch re-reads its predecessor and
    * overwrites its own version, never double-counting (the
    * overwrite-by-batchId recipe lifted to running state). Additivity
    * also gives structural batch parity: the final version's cells
    * are the exact longs [[graft.ops.CountMin.sketch]] computes over
    * the batched union, so the batch oracle grades the stream state
    * directly (`q_stream_countmin`). State size is m·d cells —
    * constant per version; retain only the trailing versions the
    * restart window needs.
    */
  def countMinBatch(
      b: DataFrame, toksCol: String, stateDir: String, bid: Long,
      m: Int = 1024, d: Int = 3, salt: String = "cm16"): Unit = {
    val spark = b.sparkSession
    val batchSk = graft.ops.CountMin.sketch(
      b.select(explode(col(toksCol)).as("w")), "w", m, d, salt)
    // probe the previous version through the path's own FileSystem —
    // a java.io.File check is driver-local-only and would silently
    // reset the sketch to the last batch's cells on HDFS/S3 state
    // dirs (review r16). For bid>0 a MISSING v_{bid-1} must never be
    // treated like batch 0 (review r17): that arm silently dropped
    // every prior count — pruned retention, a wrong stateDir, a
    // restart past the retained window all became permanent
    // undercounts with no error. And falling back to an OLDER v_j
    // would be just as lossy: versions are cumulative snapshots, so
    // v_j is missing batches j+1..bid−1. Under the foreachBatch
    // contract batch `bid` only runs once batches 0..bid−1 committed,
    // so v_{bid−1} is the newest version and any retention window
    // that keeps the trailing versions keeps it — a missing
    // predecessor is always operator error, never normal progress.
    // FAIL LOUDLY; the empty starting state is batch 0's alone.
    val base = new org.apache.hadoop.fs.Path(stateDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (bid == 0) batchSk
      else {
        val prev = new org.apache.hadoop.fs.Path(base, s"v_${bid - 1}")
        require(fs.exists(prev),
          s"countMinBatch: predecessor state v_${bid - 1} is missing " +
            s"under $stateDir (retained: " +
            s"${listVersions(fs, base).sorted.mkString(",")}) — " +
            "accumulating from empty or from an older version would " +
            "silently undercount forever; check stateDir and state " +
            "retention vs the restart window")
        spark.read.parquet(prev.toString).unionByName(batchSk)
          .groupBy(col("j"), col("i")).agg(sum("cnt").as("cnt"))
      }
    merged.write.mode("overwrite").parquet(s"$stateDir/v_$bid")
  }

  /** Streaming weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis twin of [[graft.ops.IdOps.weightedSampleK]]
    * (VERDICT r16 next #8), on the [[countMinBatch]] versioned-state
    * device: the competition key ln(u)/w is a PURE FUNCTION of
    * (salt, key, weight), and a top-k under a total order is an
    * associative merge — so streaming maintenance is: take the
    * micro-batch's own top-k candidates, merge with state v_{bid−1},
    * keep the top-k, overwrite v_bid. A retried batch re-reads its
    * predecessor and overwrites its own version (exactly-once
    * effective), and the final version is EXACTLY the batch kernel's
    * top-k over the union of the batches — the q_weighted_sample
    * oracle grades the stream state directly. State is k rows per
    * version, constant in stream length; a missing predecessor fails
    * loudly (the countMinBatch r17 contract — versions are cumulative
    * and an older fallback silently under-samples).
    */
  def weightedSampleBatch(
      b: DataFrame, keyCol: String, weightCol: String, k: Int,
      stateDir: String, bid: Long, salt: String = ""): Unit = {
    val spark = b.sparkSession
    val cand = graft.ops.IdOps.esKeyed(b, keyCol, weightCol, salt)
      .select(col(keyCol), col(weightCol), col("es_key"), col("__es_logkey"))
      .orderBy(col("__es_logkey").desc, col(keyCol)).limit(k)
    val base = new org.apache.hadoop.fs.Path(stateDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (bid == 0) cand
      else {
        val prev = new org.apache.hadoop.fs.Path(base, s"v_${bid - 1}")
        require(fs.exists(prev),
          s"weightedSampleBatch: predecessor state v_${bid - 1} is " +
            s"missing under $stateDir (retained: " +
            s"${listVersions(fs, base).sorted.mkString(",")}) — merging " +
            "from empty or an older version silently under-samples; " +
            "check stateDir and retention vs the restart window")
        spark.read.parquet(prev.toString).unionByName(cand)
          .orderBy(col("__es_logkey").desc, col(keyCol)).limit(k)
      }
    merged.write.mode("overwrite").parquet(s"$stateDir/v_$bid")
  }

  /** List the batch ids of retained `v_*` state versions under `dir`
    * through the path's own FileSystem (never java.io.File — state
    * dirs live on HDFS/S3 in production). Shared by [[countMinBatch]]
    * and its readers so "what versions exist" is answered one way.
    */
  def listVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v_")).map(_.drop(2).toLong)

  /** tf·idf term-weight vectors (id, tok, w) for [[weightedVerifyBatch]]:
    * per-doc term counts times the STATIC idf side-input, idf rounded
    * 9 dp first (the chain-rounding device — both engines multiply
    * identical doubles). The idf frame is broadcast: it is a
    * vocabulary-sized side-input, the classic dictionary-join shape.
    */
  def tfidfWeights(docs: DataFrame, idf: DataFrame): DataFrame =
    docs.select(col("id"), explode(col("toks")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
      .join(broadcast(idf.select(col("tok"), col("idf"))), Seq("tok"))
      .select(col("id"), col("tok"),
        (col("c") * round(col("idf"), 9)).as("w"))

  /** Streaming WEIGHTED near-dup verification of arriving docs against
    * a STATIC reference substrate — the per-micro-batch kernel of the
    * r13 #7 family completion: candidates are the arriving docs that
    * share a k-shingle with any reference doc (the [[graft.ops.Dedup.crossJaccardPairs]]
    * broadcast-probe shape — the reference side is an eval suite or
    * prior snapshot, tiny against the stream), and each candidate pair
    * is graded with the SAME batch kernel
    * ([[graft.ops.Dedup.weightedJaccardVerifyReal]]) over tf·idf
    * weights. Because every arriving doc is verified whole, within its
    * own micro-batch, against the full static side, the union of the
    * per-batch outputs is EXACTLY the batch run over the union of the
    * batches — stream/batch parity is structural, not approximate
    * (StreamingSpec locks it via MemoryStream).
    *
    * Wire it as `writeStream.foreachBatch((b, _) =>
    * weightedVerifyBatch(b, …).write.mode("append")…)` — the
    * exact-verify stage behind streaming candidate generation.
    * Stream/ref id spaces must be disjoint.
    *
    * @param batch      the micro-batch, (id, toks)
    * @param refWeights static (id, tok, w) reference weight vectors —
    *                   build with [[tfidfWeights]] on the same idf
    * @param refShingles static exploded distinct (id, sh) k-shingles
    * @param idf        static (tok, idf) side-input (full-corpus idf)
    */
  def weightedVerifyBatch(
      batch: DataFrame, refWeights: DataFrame, refShingles: DataFrame,
      idf: DataFrame, k: Int = 3, minJw: Double = 0.0): DataFrame = {
    import graft.ops.Dedup
    val bSh = batch.select(col("id"),
      explode(array_distinct(Dedup.tokenShingles(col("toks"), k))).as("sh"))
    val cand = bSh
      .join(broadcast(refShingles.select(col("id").as("id2"), col("sh"))),
        Seq("sh"))
      .select(col("id").as("id1"), col("id2")).distinct()
    val bW = tfidfWeights(batch, idf)
    Dedup.weightedJaccardVerifyReal(cand, bW.unionByName(refWeights), minJw)
  }
}

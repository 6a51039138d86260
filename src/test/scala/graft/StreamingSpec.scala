package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  test("hourlyCounts: streaming result == batch result on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      ("click", 1.0, ts(0)), ("click", 2.0, ts(10)), ("view", 3.0, ts(20)),
      ("click", 4.0, ts(70)), ("view", 5.0, ts(80)))
    val mem = MemoryStream[(String, Double, java.sql.Timestamp)]
    val sdf = mem.toDF().toDF("event_type", "value", "ts")
    val q = StreamOps.hourlyCounts(sdf).writeStream
      .format("memory").queryName("hourly").outputMode("complete").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val streamed = spark.table("hourly")
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = StreamOps.hourlyCounts(
          evs.toDF("event_type", "value", "ts"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("lmScoreBatch via foreachBatch: stream LM scores are bit-identical to batch, nothing collected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{TextOps, TextStats}
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id",
        TextOps.tokenizeFiltered($"text", Dictionaries.Stopwords, Nil).as("toks"))
    // the model is a RELATION (w, logp9) — no vocabulary-sized map is
    // ever collected to the driver or inlined into a plan (VERDICT r15
    // #1); materialized so micro-batches read data, not the training plan
    val modelDir = graft.Scratch.dir("spec-lm-model")
    TextStats.unigramLogProbs9(docs, "toks")
      .write.mode("overwrite").parquet(modelDir)
    val model = spark.read.parquet(modelDir)
    // batch reference: the SAME kernel over the whole corpus at once —
    // per-doc fixed-point sums make stream/batch BIT-identical...
    val want = graft.streaming.StreamOps
      .lmScoreBatch(docs, "doc_id", "toks", model)
      .as[(Long, Double)].collect().toMap
    // ...and the shuffle-form semantic anchor holds to float noise
    val anchor = TextStats.lmScore(docs, "doc_id", "toks")
      .as[(Long, Double)].collect().toMap
    val rows = docs.as[(Long, Seq[String])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[String])]
    val out = graft.Scratch.dir("spec-lm-out")
    val cp = graft.Scratch.dir("spec-lm-cp")
    val q = mem.toDF().toDF("doc_id", "toks").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.streaming.StreamOps.lmScoreBatch(b, "doc_id", "toks", model)
          .write.mode("overwrite").parquet(s"$out/batch_$bid")
      }
      .option("checkpointLocation", cp).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.read.parquet(s"$out/batch_*")
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      assert(got.forall { case (k, v) => v == want(k) },
        "stream scores not bit-identical to the batch kernel")
      // 1e-9 quantization per token bounds the anchor divergence
      val worst = got.map { case (k, v) => math.abs(v - anchor(k)) }.max
      assert(worst < 1e-8, s"stream/shuffle-form divergence: $worst")
    } finally q.stop()
  }

  test("countMinBatch: versioned state accumulates to the exact batch sketch; a retried batch is idempotent") {
    import spark.implicits._
    import graft.ops.{CountMin, TextOps}
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", TextOps.tokenize($"text").as("toks"))
    val state = graft.Scratch.dir("spec-cm-state")
    // feed three disjoint slices as batches 0..2
    val slices = Seq(docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1), docs.filter($"doc_id" % 3 === 2))
    slices.zipWithIndex.foreach { case (b, bid) =>
      graft.streaming.StreamOps.countMinBatch(b, "toks", state, bid.toLong)
    }
    val want = CountMin.sketch(
        docs.select(explode($"toks").as("w")), "w")
      .as[(Int, Long, Long)].collect().toSet
    val got = spark.read.parquet(s"$state/v_2")
      .as[(Int, Long, Long)].collect().toSet
    assert(got == want, "streamed state != batch sketch")
    // at-least-once retry: re-running batch 1 against v_0 must leave
    // v_1 (and the final chain) unchanged
    graft.streaming.StreamOps.countMinBatch(slices(1), "toks", state, 1L)
    val v1 = spark.read.parquet(s"$state/v_1").as[(Int, Long, Long)].collect().toSet
    graft.streaming.StreamOps.countMinBatch(slices(2), "toks", state, 2L)
    val got2 = spark.read.parquet(s"$state/v_2").as[(Int, Long, Long)].collect().toSet
    assert(got2 == want, "retry broke exactly-once accumulation")
    assert(v1.nonEmpty)
  }

  test("weightedSampleBatch: running top-k state == batch weightedSampleK; retry idempotent; missing predecessor fails (r17)") {
    import spark.implicits._
    import graft.ops.IdOps
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars")
    val state = graft.Scratch.dir("spec-ws-state")
    val slices = Seq(docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1), docs.filter($"doc_id" % 3 === 2))
    slices.zipWithIndex.foreach { case (b, bid) =>
      graft.streaming.StreamOps.weightedSampleBatch(
        b, "doc_id", "n_chars", k = 25, state, bid.toLong, salt = "ws")
    }
    val want = IdOps.weightedSampleK(docs, "doc_id", "n_chars", 25, "ws")
      .select($"doc_id", $"es_key").as[(Long, Double)].collect().toSet
    val got = spark.read.parquet(s"$state/v_2")
      .select($"doc_id", $"es_key").as[(Long, Double)].collect().toSet
    assert(got == want, "streamed running top-k != batch E-S sample")
    // retried batch 1 overwrites its own version from v_0 — chain
    // unchanged (exactly-once effective)
    graft.streaming.StreamOps.weightedSampleBatch(
      slices(1), "doc_id", "n_chars", k = 25, state, 1L, salt = "ws")
    graft.streaming.StreamOps.weightedSampleBatch(
      slices(2), "doc_id", "n_chars", k = 25, state, 2L, salt = "ws")
    val got2 = spark.read.parquet(s"$state/v_2")
      .select($"doc_id", $"es_key").as[(Long, Double)].collect().toSet
    assert(got2 == want, "retry broke the running top-k")
    // missing predecessor: merging from empty silently under-samples,
    // so it must throw (the countMinBatch r17 contract)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.weightedSampleBatch(
        docs, "doc_id", "n_chars", k = 25, state, 9L, salt = "ws")
    }
    assert(e.getMessage.contains("v_8"), e.getMessage)
  }

  test("countMinBatch: a missing predecessor version fails loudly instead of silently resetting (r17)") {
    import spark.implicits._
    import graft.ops.TextOps
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", TextOps.tokenize($"text").as("toks"))
    // bid>0 against an EMPTY state dir: the r16 arm treated this like
    // batch 0 and dropped all prior counts forever (wrong stateDir, a
    // restart past pruned retention). Must throw, not reset.
    val empty = graft.Scratch.dir("spec-cm-empty")
    val e1 = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.countMinBatch(docs, "toks", empty, 5L)
    }
    assert(e1.getMessage.contains("v_4"), e1.getMessage)
    // and against a state dir whose newest version was pruned too far:
    // an OLDER v_0 must not be silently accepted for batch 3 —
    // versions are cumulative snapshots, so v_0 is missing batches
    // 1..2 and merging onto it undercounts
    val pruned = graft.Scratch.dir("spec-cm-pruned")
    graft.streaming.StreamOps.countMinBatch(
      docs.filter($"doc_id" % 3 === 0), "toks", pruned, 0L)
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.countMinBatch(docs, "toks", pruned, 3L)
    }
    assert(e2.getMessage.contains("v_2") && e2.getMessage.contains("retained: 0"),
      e2.getMessage)
  }

  test("nbScoreBatch via foreachBatch: trained-NB stream scores are bit-identical to batch, nothing collected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{TextOps, TextStats}
    import graft.Dictionaries.{Stopwords => Stop}
    val lab = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", TextOps.tokenize($"text").as("toks"))
      .withColumn("y", TextStats.qualityScore($"toks", Stop) >= 0.62)
    // the model stays a RELATION end-to-end (ADVICE r14) — the spec
    // itself never collects it either
    val model = TextStats.nbLogOdds9(lab, "doc_id", "toks", "y")
    val prior = TextStats.nbPrior9(lab, "y")
    val want = TextStats.nbTrainScore(lab, "doc_id", "toks", "y")
      .select($"doc_id", $"nb_logit").as[(Long, Double)].collect().toMap
    val rows = lab.select($"doc_id", $"toks").as[(Long, Seq[String])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[String])]
    val sink = new java.io.File(graft.Scratch.dir("nb-batch-sink"), "out").toString
    val q = mem.toDF().toDF("doc_id", "toks").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.StreamOps
          .nbScoreBatch(b, "doc_id", "toks", model, prior)
          .write.mode("append").parquet(sink)
      }
      .start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.read.parquet(sink).as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      // fixed-point integer accumulation ⇒ EXACT equality, not epsilon
      assert(got.forall { case (k, v) => v == want(k) },
        "stream scores must be bit-identical to the batch scorer")
    } finally q.stop()
  }

  test("contaminatedGrams: streamed stream-static join + dedup == batch contaminationHits id set, across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Dedup, TextOps}
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id",
        Dedup.tokenShingles(
          TextOps.tokenizeFiltered($"text", Dictionaries.Stopwords, Nil), 5).as("g5"))
    val benchDocs = docs.filter($"doc_id" % 7 === 0)
    val bench = benchDocs.select(explode($"g5").as("g")).distinct()
    val want = Dedup.contaminationHits(
        docs.filter($"doc_id" % 7 =!= 0), "doc_id", "g5", benchDocs, "g5")
      .select($"id").as[Long].collect().toSet
    val rows = docs.filter($"doc_id" % 7 =!= 0)
      .as[(Long, Seq[String])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[String])]
    val q = StreamOps.contaminatedGrams(
        mem.toDF().toDF("doc_id", "g5").select($"doc_id", explode($"g5").as("g")),
        "doc_id", "g", bench)
      .writeStream.format("memory").queryName("deconstream")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // re-send half of batch 1: dedup state must suppress re-emission
      mem.addData(b1.take(b1.length / 2): _*); q.processAllAvailable()
      val got = spark.table("deconstream").as[Long].collect()
      assert(got.length == got.distinct.length, "each contaminated id emitted once")
      assert(got.toSet == want, s"stream ids ${got.toSet.size} vs batch ${want.size}")
    } finally q.stop()
  }

  test("stateless curation stages (scrub, quality floor, stratified sample) run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{IdOps, TextOps, TextStats}
    // every stage is a row-local expression — the SAME function body
    // drives a readStream DataFrame with zero changes
    def stage(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val toks = df.select(col("doc_id"), col("source"),
        TextOps.tokenizeFiltered(
          TextOps.redactPii(col("text")), Dictionaries.Stopwords, Nil).as("toks"))
      IdOps.stratifiedSampleByHash(
          toks.filter(TextStats.qualityScore(col("toks"), Dictionaries.Stopwords) >= 0.5),
          "doc_id", "source",
          rates = (0 until 20).map(i =>
            s"src$i" -> (if (i % 2 == 0) 0.5 else 1.0)).toMap,
          salt = "sc")
        .select(col("doc_id"), size(col("toks")).as("n"))
    }
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect().toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = stage(mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("curstream").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("curstream").as[(Long, Int)].collect().toSet
      val want = stage(docs.toDF("doc_id", "source", "text"))
        .as[(Long, Int)].collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("spanCorrupt on a stream is byte-identical to batch (keyed-hash augmentation has no RNG state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    def stage(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"),
          TextOps.spanCorrupt(col("doc_id"), TextOps.tokenize(col("text"))).as("sc"))
        .select(col("doc_id"), col("sc.inputs"), col("sc.targets"))
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = stage(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("scstream").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("scstream").as[(Long, String, String)].collect().toSet
      val want = stage(docs.toDF("doc_id", "text"))
        .as[(Long, String, String)].collect().toSet
      assert(got == want && got.nonEmpty,
        "batch-split boundaries must not move any mask (pure function of salt/id/window)")
    } finally q.stop()
  }

  test("watermark: late rows beyond the 2h bound are dropped in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, java.sql.Timestamp)]
    val q = StreamOps.hourlyCounts(mem.toDF().toDF("event_type", "value", "ts"))
      .writeStream.format("memory").queryName("wm").outputMode("append").start()
    try {
      // batch 1: events in hour 0, then an hour-6 event to advance the watermark to 4h
      mem.addData(("click", 1.0, ts(0)), ("click", 2.0, ts(10)), ("click", 9.0, ts(360)))
      q.processAllAvailable()
      // batch 2: a late hour-0 event — 4h behind the watermark → must be dropped
      mem.addData(("click", 100.0, ts(5)))
      q.processAllAvailable()
      // batch 3: advance watermark past hour 6 so its window also finalizes
      mem.addData(("click", 1.0, ts(600)))
      q.processAllAvailable()
      val rows = spark.table("wm").as[(Long, String, Long, Double)].collect()
      val hour0Start = ts(0).getTime / 1000 / 3600 * 3600  // window start, not event time
      val hour0 = rows.filter(_._1 == hour0Start)
      assert(hour0.length == 1)
      assert(hour0.head._3 == 2L && hour0.head._4 == 3.0,
        s"late row must not be counted: ${hour0.toSeq}")
    } finally q.stop()
  }

  test("file-source stream: hourlyCounts over streamed events parquet == batch") {
    import spark.implicits._
    val batchEvents = Tables.events(spark, TestSpark.Sf)
      .select($"event_type", $"value", $"ts")
    val schema = batchEvents.schema
    // stage the table as a file-source dir (the production readStream path)
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    batchEvents.write.mode("overwrite").parquet(s"$dir/in")
    val sdf = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamOps.hourlyCounts(sdf).writeStream
      .format("memory").queryName("filesrc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filesrc")
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = StreamOps.hourlyCounts(batchEvents)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed.size > 10)
    } finally q.stop()
  }

  test("sessionizeStream: closes on gap arrival and on event-time timeout") {
    import spark.implicits._
    import graft.streaming.StreamOps.{SEv, Session}
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(u: Long, ms: Long) = SEv(u, new java.sql.Timestamp(t0 + ms))
    val mem = MemoryStream[SEv]
    val q = StreamOps.sessionizeStream(mem.toDS(), gapMs = 30000L, "1 second")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // session A: two events 1s apart
      mem.addData(ev(1, 0), ev(1, 1000))
      q.processAllAvailable()
      // 60s later: closes session A by arrival-gap, opens session B
      mem.addData(ev(1, 61000))
      q.processAllAvailable()
      // far-future event on another key advances the watermark past
      // session B's end+gap → B closes by event-time timeout
      mem.addData(ev(2, 300000))
      q.processAllAvailable()
      mem.addData(ev(2, 600000))
      q.processAllAvailable()
      val got = spark.table("sessions").as[Session].collect()
        .map(s => (s.user_id, s.start_ms - t0, s.end_ms - t0, s.n_events)).toSet
      assert(got.contains((1L, 0L, 1000L, 2L)), s"gap-closed session missing: $got")
      assert(got.contains((1L, 61000L, 61000L, 1L)), s"timeout-closed session missing: $got")
    } finally q.stop()
  }

  test("streamIntervalJoin: stream-stream watermarked join == batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq((1L, ts(10)), (1L, ts(30)), (2L, ts(20)), (3L, ts(40)))
    val buys = Seq((1L, ts(8), 100.0), (1L, ts(29), 50.0), (2L, ts(5), 9.0), (3L, ts(41), 1.0))
    val cm = MemoryStream[(Long, java.sql.Timestamp)]
    val pm = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = StreamOps.streamIntervalJoin(
      cm.toDF().toDF("c_user", "cts"), pm.toDF().toDF("p_user", "pts", "amount"),
      "c_user", "p_user", "cts", "pts", lagSeconds = 600)
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      // two micro-batches so the join state actually spans batches
      cm.addData(clicks.take(2): _*); pm.addData(buys.take(2): _*)
      q.processAllAvailable()
      cm.addData(clicks.drop(2): _*); pm.addData(buys.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("ssj")
        .select($"c_user", $"cts", $"pts", $"amount")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Double)].collect().toSet
      val batch = StreamOps.streamIntervalJoin(
          clicks.toDF("c_user", "cts"), buys.toDF("p_user", "pts", "amount"),
          "c_user", "p_user", "cts", "pts", lagSeconds = 600)
        .select($"c_user", $"cts", $"pts", $"amount")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Double)].collect().toSet
      assert(streamed == batch)
      // exactly the in-interval matches survive: click@10←buy@8 and
      // click@30←buy@29; user 2's buy is 15 min stale, user 3's is future
      assert(streamed == Set(
        (1L, ts(10), ts(8), 100.0),
        (1L, ts(30), ts(29), 50.0)))
    } finally q.stop()
  }

  test("checkpoint restart: file sink resumes exactly-once (no re-emission, no loss)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt").toString
    val batch1 = Seq((1L, 10.0, ts(0)), (2L, 20.0, ts(1)))
    val batch2 = Seq((3L, 30.0, ts(2)), (4L, 40.0, ts(3)))
    batch1.toDF("user_id", "value", "ts").write.parquet(s"$root/in/b1")
    val schema = batch1.toDF("user_id", "value", "ts").schema
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      .filter($"value" > 0).select($"user_id", $"value")
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/chk")
      .start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // "crash" happened between q1 and q2; new data lands meanwhile
    batch2.toDF("user_id", "value", "ts").write.parquet(s"$root/in/b2")
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    // a third restart with NO new data must emit nothing new
    val q3 = start()
    try { q3.processAllAvailable() } finally q3.stop()
    val out = spark.read.parquet(s"$root/out").as[(Long, Double)].collect().toSeq
    assert(out.size == 4, s"exactly-once: every row once, none twice: $out")
    assert(out.toSet == Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("foreachBatch: batchId-keyed overwrite makes a retried sink idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("febatch").toString
    val mem = MemoryStream[(Long, Double)]
    def start() = mem.toDF().toDF("id", "value").writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // batchId in the path: a replayed batch overwrites itself instead
        // of appending duplicates — the standard exactly-once recipe for
        // non-transactional sinks
        df.write.mode("overwrite").parquet(s"$out/batch=$batchId")
      }
      .option("checkpointLocation", s"$out/chk").start()
    val q1 = start()
    try { mem.addData((1L, 1.0), (2L, 2.0)); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { mem.addData((3L, 3.0)); q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.option("basePath", out).parquet(s"$out/batch=*")
      .select($"id", $"value").as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("weightedVerifyBatch: per-micro-batch union == one batch run (r14)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val toks = QShared.docsTokens(spark, TestSpark.Sf)
    val idf = QShared.vocabIdf(toks)
      .select(col("word").as("tok"), col("idf")).localCheckpoint()
    val refToks = toks.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("id"), col("toks")).localCheckpoint()
    val refW = StreamOps.tfidfWeights(refToks, idf).localCheckpoint()
    val refSh = refToks.select(col("id"), explode(array_distinct(
        graft.ops.Dedup.tokenShingles(col("toks"), 5))).as("sh"))
      .localCheckpoint()
    def verify(b: org.apache.spark.sql.DataFrame) =
      StreamOps.weightedVerifyBatch(b, refW, refSh, idf, k = 5, minJw = 0.0)
    // batch reference: one run over ALL stream-side docs at once
    val streamDocs = toks.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("id"), col("toks"))
    val batchOut = verify(streamDocs).as[(Long, Long, Double)].collect().toSet
    assert(batchOut.nonEmpty, "the sf0.001 cross split has weighted matches")
    // streamed arrival in 3 micro-batches: the parity is STRUCTURAL —
    // each doc is verified whole, in its own batch, against the full
    // static side, so the accumulated union must be exactly batchOut
    val docsSeq = streamDocs.as[(Long, Seq[String])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[String])]
    val acc = scala.collection.mutable.Set[(Long, Long, Double)]()
    val q = mem.toDF().toDF("id", "toks").writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          acc ++= verify(b).as[(Long, Long, Double)].collect(); ()
      }.start()
    try {
      docsSeq.grouped(math.max(1, docsSeq.length / 3 + 1)).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(acc.toSet == batchOut,
      "union of per-micro-batch weighted verifies must equal the batch run")
  }
}

package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{QDedup1, QDedup2, QEmbed, QSimText, SparkEntry, Substrates, Tables}
import graft.ops.DfMemo
import graft.pipeline.Stages

/** The JVM side of the benchmark: one workload, one client thread, one
  * SparkSession. It sets up, runs one cold pass, then measures warm ops
  * for the given number of seconds and writes `result.json` (timings,
  * checksums, per-layer counters) plus the outputs the Python side checks
  * against independent recomputations.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --inputs DIR --work DIR [--inject fail]
  */
object Main {

  /** One timed call: a pipeline pass, a kernels pass, a substrate build
    * or a consumer query. */
  final case class Op(name: String, kind: String, module: String, pass: Int,
      warm: Boolean, wallS: Double, ok: Boolean, err: String, checksum: String, cpuS: Double = 0.0)

  val PipelineK = 8
  val PipelineMaxIter = 2
  val PipelineSeed = 42L
  val KernelSubstrates = Seq("substrate:shingles3", "substrate:dedup_pairs3",
    "substrate:dedup_clusters3", "substrate:knn_graph", "substrate:cell_kernel")
  val KernelConsumers = Seq("q_jaccard_pairs", "q_cosine_pairs", "q_minhash_pairs",
    "q_knn_graph", "q_knn_approx", "q_dedup_clusters")
  /** The kernels' consumers, by module. Only these four modules are
    * built: building the whole registry costs seconds of oracle-string
    * construction (QTail's public-suffix SQL) that no kernel needs. */
  lazy val Consumers: Seq[(String, SparkEntry.Q)] = Seq(
    "dedup1" -> QDedup1.qs, "simtext" -> QSimText.qs, "dedup2" -> QDedup2.qs,
    "embed" -> QEmbed.qs).flatMap { case (m, qs) => qs.filter(q => KernelConsumers.contains(q.name)).map(m -> _) }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    new Main(a("workload"), a("seed").toLong, a("seconds").toDouble, a("warmup-passes").toInt,
      a("pool").toInt, a("trace") == "1", a("inputs"), a("work"), a.getOrElse("inject", "")).run()
  }
}

final class Main(workload: String, seed: Long, seconds: Double, warmupPasses: Int, val pool: Int,
    traced: Boolean, inputs: String, work: String, inject: String) {
  import Main._

  val shufflePartitions: Int = pool
  val result = mutable.LinkedHashMap.empty[String, Any]
  val ops = mutable.ArrayBuffer.empty[Op]
  var spark: SparkSession = _
  var tracer: Tracer = _
  val sfDir = s"$inputs/tables"
  val outDir = s"$work/out"

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$pool]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // --- inputs -------------------------------------------------------------

  lazy val corpus = s"$inputs/corpus/reviews"
  def lines(f: String): Seq[String] =
    Files.readAllLines(Paths.get(f)).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
  var stopwords: Seq[String] = Nil
  var dict: Seq[String] = Nil

  /** Make the workload's inputs usable by the session: dictionaries read,
    * files listed and parquet footers read. */
  def loadInputs(): Unit =
    if (workload == "pipeline_e2e") {
      stopwords = lines(s"$inputs/corpus/stopwords.txt")
      dict = lines(s"$inputs/corpus/adj.txt")
      spark.read.text(corpus).inputFiles.length
    } else Tables.All.foreach(t => Tables.table(spark, sfDir, t).schema)

  /** JVM start until the session is built and the inputs are in place.
    * Measured once per JVM: most of it is class loading and graft's
    * static initialisation, which a second set-up in the same JVM would
    * not pay. */
  def setup(): Double = {
    spark = session()
    loadInputs()
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  // --- helpers ------------------------------------------------------------

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of this JVM, all threads: with the window wall and the
    * core count it tells a starved run from a busy one. */
  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Heap in use after a full GC. Spark drops unpersisted blocks
    * asynchronously, so collect twice, a moment apart. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Canonical checksum of a result: every row rendered with doubles at 9
    * significant digits, rows sorted, SHA-256 of the lot. */
  def checksum(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case o => o.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Release what an op pinned, except DfMemo's pins (see Bench). */
  def release(before: collection.Set[Int]): Unit = {
    val prot = DfMemo.protectedRddIds
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before(id) || prot(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Run one query or substrate build: collect its rows (timed), checksum
    * them, and on the cold pass save a query's rows for the oracle check. */
  def query(name: String, kind: String, module: String, pass: Int, warm: Boolean,
      fn: (SparkSession, String) => DataFrame): Op = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = now
    val res: Either[Throwable, (Array[Row], org.apache.spark.sql.types.StructType)] =
      try tracer(name, if (kind == "substrate") "substrates" else "queries") {
        if (inject == "fail" && name == "q_knn_graph") throw new IllegalStateException("injected failure")
        val df = fn(spark, sfDir)
        Right((df.collect(), df.schema))
      } catch { case e: Throwable => Left(e) }
    val wall = secs(t0)
    release(before)
    val op = res match {
      case Right((rows, schema)) =>
        if (!warm && kind != "substrate") {
          val rdd = spark.sparkContext.parallelize(rows.toSeq, 1)
          spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        Op(name, kind, module, pass, warm, wall, ok = true, "", checksum(rows))
      case Left(e) =>
        Op(name, kind, module, pass, warm, wall, ok = false,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}", "")
    }
    ops += op
    op
  }

  // --- warm window --------------------------------------------------------

  /** Warm passes numbered from `first`: at least `minPasses`, then more
    * while one more, at the mean pass time so far, would end no later than
    * half a pass after `budget` seconds, so the window lasts `budget`
    * seconds on average. Returns the number of passes run. */
  def window(budget: Double, first: Int, minPasses: Int)(pass: Int => Unit): Int = {
    val t0 = now
    var p = 0
    while (p < minPasses || (p > 0 && secs(t0) / p * (p + 0.5) <= budget)) { pass(first + p); p += 1 }
    p
  }

  // --- pipeline_e2e -------------------------------------------------------

  val stageWalls = mutable.ArrayBuffer.empty[Map[String, Any]]
  var lastCentroids: Array[(Long, Array[Double])] = Array.empty

  def pipelinePass(pass: Int, warm: Boolean): Unit = {
    val out = s"$work/pipeline"
    val t = mutable.LinkedHashMap.empty[String, Any]
    def timed[T](key: String, layer: String)(body: => T): T = {
      val t0 = now
      try tracer(key, layer)(body) finally t(key + "_s") = secs(t0)
    }
    val t0 = now
    val c0 = processCpuS
    val res = try {
      tracer(s"pass-$pass", "bench") {
        val s1 = timed("stage1", "pipeline") {
          val d = Stages.stage1(spark, corpus, stopwords, dict).persist()
          d.count()
          d
        }
        timed("sink_stage1", "sinks")(s1.write.mode("overwrite").parquet(s"$out/stage1"))
        val s2 = timed("stage2", "pipeline")(Stages.stage2(s1, dict, PipelineK, PipelineSeed))
        timed("sink_stage2", "sinks") {
          s2.tfidf.write.mode("overwrite").parquet(s"$out/tfidf")
          s2.idf.write.mode("overwrite").parquet(s"$out/idf")
        }
        val r = timed("stage3", "pipeline")(Stages.stage3(s2, PipelineMaxIter))
        timed("sink_assignments", "sinks")(
          r.assignments.drop("v").write.mode("overwrite").parquet(s"$out/assignments"))
        s1.unpersist()
        lastCentroids = s2.centroids
        Right(r)
      }
    } catch { case e: Throwable => Left(e) }
    val wall = secs(t0)
    val cpu = processCpuS - c0
    val op = res match {
      case Right(r) =>
        val assign = spark.read.parquet(s"$out/assignments").select(col("id"), col("cluster")).collect()
        val sse = r.sseHistory.map(m => m.toSeq.sortBy(_._1).map(_._2).sum)
        t("iterations") = r.iterations
        t("sse") = sse
        val sum = checksum(assign :+ Row(r.iterations, sse.map(x => f"$x%.6f").mkString(";")))
        Op("pipeline", "pass", "", pass, warm, wall, ok = true, "", sum, cpu)
      case Left(e) =>
        Op("pipeline", "pass", "", pass, warm, wall, ok = false,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}", "")
    }
    ops += op
    System.err.println(f"[perfbench] pipeline pass $pass ${op.wallS}%.2f s cpu $cpu%.2f s ok=${op.ok}")
    t("pass") = pass
    t("heap_mb") = liveHeapMb()
    stageWalls += t.toMap
  }

  def runPipeline(): Unit = {
    result("max_iter") = PipelineMaxIter
    measure(minPasses = 3)((p, w) => pipelinePass(p, w))
    val c = lastCentroids.sortBy(_._1).map { case (id, v) => Map("cid" -> id, "v" -> v.toSeq) }
    result("init_centroids") = c.toSeq
    result("pipeline_passes") = stageWalls.toSeq
  }

  // --- pair_kernels -------------------------------------------------------

  val passHeap = mutable.ArrayBuffer.empty[Double]
  /** (pass, change in DfMemo.size over the pass) */
  val memoBuilds = mutable.ArrayBuffer.empty[(Int, Int)]

  def kernelsPass(pass: Int, warm: Boolean): Unit = {
    val t0 = now
    val c0 = processCpuS
    tracer(s"pass-$pass", "bench") {
      tracer("memo.clear", "memo")(DfMemo.clear())
      val sizeBefore = DfMemo.size
      val subs = Substrates.all.toMap
      KernelSubstrates.foreach(n => query(n, "substrate", "", pass, warm, (s, d) => {
        val df = subs(n)(s, d)
        df.limit(0) // the build itself is the memo miss inside subs(n)
      }))
      tracer("consumers", "queries") {
        Consumers.foreach { case (m, q) => query(q.name, "consumer", m, pass, warm, q.fn) }
      }
      memoBuilds += pass -> (DfMemo.size - sizeBefore)
    }
    val cpu = processCpuS - c0
    ops += Op("kernels", "pass", "", pass, warm, secs(t0), ok = true, "", "", cpu)
    System.err.println(f"[perfbench] kernels pass $pass ${secs(t0)}%.2f s cpu $cpu%.2f s")
    passHeap += liveHeapMb()
  }

  def runKernels(): Unit = {
    measure(minPasses = 3)((p, w) => kernelsPass(p, w))
    result("oracle") = Consumers.flatMap { case (_, q) => q.oracle.map(q.name -> _) }.toMap
  }

  // --- measurement protocol -----------------------------------------------

  /** Cold pass (pass 0), `warmupPasses` warm-up passes (checked, not
    * timed: the JIT is still compiling the hot paths), then the warm
    * window. A traced run splits the window: the first half untraced, the
    * second half with the listeners and spans on, so the tracing overhead
    * is measured in the same JVM.
    */
  def measure(minPasses: Int)(pass: (Int, Boolean) => Unit): Unit = {
    val cc0 = Codegen.snapshot()
    val tCold = now
    pass(0, false)
    result("cold_s") = secs(tCold)
    result("cold_codegen") = Codegen.delta(cc0)
    result("cold_heap_mb") = liveHeapMb()
    val nWarmup = window(0.0, 1, warmupPasses)(p => pass(p, true))
    result("warmup_passes") = nWarmup
    val first = 1 + nWarmup
    result("window_first_pass") = first
    val untracedBudget = if (traced) seconds / 2 else seconds
    val w0 = now
    val cpu0 = processCpuS
    val n1 = window(untracedBudget, first, if (traced) 1 else minPasses)(p => pass(p, true))
    result("window_s") = secs(w0)
    result("window_process_cpu_s") = processCpuS - cpu0
    result("window_passes") = n1
    if (traced) {
      val recorder = Recorder.install(spark)
      tracer.enabled = true
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      recorder.reset()
      val cc = Codegen.snapshot()
      val firstTraced = first + n1
      val w1 = now
      val n2 = window(seconds / 2, firstTraced, 1)(p => pass(p, true))
      val wall = secs(w1)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      result("traced_window_s") = wall
      result("traced_first_pass") = firstTraced
      result("traced_passes") = n2
      result("traced_codegen") = Codegen.delta(cc)
      result("layers") = Layers.compute(recorder, pool, wall, n2)
      result("engine_by_span") = Layers.bySpan(recorder)
    }
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val setupS = setup()
    System.err.println(s"[perfbench] setup $setupS")
    tracer = new Tracer(spark.sparkContext, false)
    result("workload") = workload
    result("seed") = seed
    result("setup_s") = setupS
    result("pool") = pool
    result("shuffle_partitions") = shufflePartitions
    result("spark_version") = spark.version
    workload match {
      case "pipeline_e2e" => runPipeline()
      case "pair_kernels" => runKernels()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    result("ops") = ops.map(o => Map("name" -> o.name, "kind" -> o.kind, "module" -> o.module,
      "pass" -> o.pass, "warm" -> o.warm, "wall_s" -> o.wallS, "ok" -> o.ok, "err" -> o.err,
      "checksum" -> o.checksum, "cpu_s" -> o.cpuS))
    result("pass_heap_mb") = passHeap.toSeq
    result("memo_builds") = memoBuilds.map { case (p, n) => Seq(p, n) }
    if (traced) {
      result("spans") = tracer.selfTimes.map { case (s, self) =>
        Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
          "start_s" -> (s.start - tracer.spans.head.start) / 1e9,
          "dur_s" -> (s.end - s.start) / 1e9, "self_s" -> self)
      }
    }
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.writeString(Paths.get(s"$work/result.json"), json.writeValueAsString(result))
    spark.stop()
  }
}

package graft.perfbench

import org.apache.spark.metrics.source.CodegenMetrics

/** Codegen counters. The compile count is exact; Spark keeps class sizes
  * only in a sampling reservoir, so bytecode bytes are the count delta
  * times the reservoir's mean class size (an estimate). */
object Codegen {
  final case class Snap(compiles: Long, classes: Long)

  def snapshot(): Snap = Snap(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)

  def delta(from: Snap): Map[String, Double] = {
    val now = snapshot()
    val classes = now.classes - from.classes
    val mean = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean
    Map("compiles" -> (now.compiles - from.compiles).toDouble,
      "classes" -> classes.toDouble, "bytecode_bytes" -> classes * mean)
  }
}

/** Engine-layer figures for a traced window, per pass. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total length of the union of [start, end] intervals (ms). */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** What the engine did inside each span (keyed by span id, which is the
    * job group): jobs, stages, tasks and task run time. */
  def bySpan(r: Recorder): Map[String, Map[String, Double]] = r.synchronized {
    val jobs = r.jobGroup.values.groupBy(identity).view.mapValues(_.size).toMap
    r.stages.values.groupBy(_.group).map { case (g, st) =>
      g -> Map("jobs" -> jobs.getOrElse(g, 0).toDouble, "stages" -> st.size.toDouble,
        "tasks" -> st.map(_.taskMs.size).sum.toDouble, "task_run_s" -> st.map(_.runMs).sum / 1e3)
    }
  }

  def compute(r: Recorder, pool: Int, wallS: Double, passes: Int): Map[String, Any] =
    r.synchronized {
      val st = r.stages.values.toSeq.filter(_.completed > 0)
      val n = math.max(1, passes).toDouble
      val busyS = union(st.map(s => (s.submitted, s.completed))) / 1e3
      val runS = st.map(_.runMs).sum / 1e3
      val cpuS = st.map(_.cpuNs).sum / 1e9
      val tasks = st.map(_.taskMs.size).sum
      val gapS = math.max(0.0, wallS - busyS)
      val skews = st.filter(_.taskMs.nonEmpty).map { s =>
        val med = median(s.taskMs.map(_.toDouble).toSeq)
        if (med > 0) s.taskMs.max / med else 1.0
      }
      Map(
        "plan.analysis_s" -> r.analysisMs / 1e3 / n,
        "plan.optimization_s" -> r.optimizationMs / 1e3 / n,
        "plan.planning_s" -> r.planningMs / 1e3 / n,
        "plan.executions" -> r.executions / n,
        "sched.jobs" -> r.jobs / n,
        "sched.stages" -> st.size / n,
        "sched.tasks" -> tasks / n,
        "sched.tasks_per_stage" -> (if (st.isEmpty) 0.0 else tasks.toDouble / st.size),
        "sched.driver_gap_s" -> gapS / n,
        "sched.driver_gap_frac" -> (if (wallS > 0) gapS / wallS else 0.0),
        "exec.task_run_s" -> runS / n,
        "exec.task_cpu_s" -> cpuS / n,
        "exec.cpu_frac" -> (if (runS > 0) cpuS / runS else 0.0),
        "exec.gc_s" -> st.map(_.gcMs).sum / 1e3 / n,
        "exec.deser_s" -> st.map(_.deserMs).sum / 1e3 / n,
        "exec.slot_idle_frac" -> (if (busyS > 0) math.max(0.0, 1 - runS / (pool * busyS)) else 0.0),
        "exec.stage_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
        "exec.peak_exec_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakMem).max / 1048576.0),
        "exec.spill_bytes" -> st.map(_.spill).sum / n,
        "shuffle.write_bytes" -> st.map(_.shWriteBytes).sum / n,
        "shuffle.read_bytes" -> st.map(_.shReadBytes).sum / n,
        "shuffle.records_written" -> st.map(_.shRecords).sum / n,
        "shuffle.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3 / n,
        "input.bytes_read" -> st.map(_.inBytes).sum / n,
        "input.records_read" -> st.map(_.inRecords).sum / n,
        "sinks.bytes_written" -> st.map(_.outBytes).sum / n,
        "sinks.records_written" -> st.map(_.outRecords).sum / n)
    }
}

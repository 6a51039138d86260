package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Times are System.nanoTime. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    start: Long, var end: Long = -1L)

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out when the run ends. While a span is open the Spark job
  * group is the span id, so jobs, stages and tasks attach to the span
  * that caused them. A disabled tracer runs the body and records
  * nothing.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, layer, stack.headOption.fold(0)(_.id), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Self time per span: its duration minus the time its children cover
    * (children of one span run one after another on one thread). */
  def selfTimes: Seq[(Span, Double)] = {
    val childTime = spans.groupBy(_.parent).view.mapValues(_.map(c => c.end - c.start).sum).toMap
    spans.toSeq.map(s => s -> (s.end - s.start - childTime.getOrElse(s.id, 0L)) / 1e9)
  }
}

/** Task-level figures summed over the tasks of one stage. */
final class StageAgg(val group: String) {
  var submitted = 0L; var completed = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
  var peakMem = 0L; var spill = 0L
  var shWriteBytes = 0L; var shReadBytes = 0L; var shRecords = 0L; var fetchWaitMs = 0L
  var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var outRecords = 0L
}

/** SparkListener + QueryExecutionListener that count what the engine did.
  * Registered only for traced runs. All fields are read after
  * [[org.apache.spark.perfbench.Bus.drain]].
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobGroup = mutable.Map.empty[Int, String]
  val stageGroup = mutable.Map.empty[Int, String]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  var jobs = 0
  var executions = 0
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L

  def reset(): Unit = synchronized {
    jobGroup.clear(); stageGroup.clear(); stages.clear()
    jobs = 0; executions = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
  }

  private def stage(id: Int): StageAgg =
    stages.getOrElseUpdate(id, new StageAgg(stageGroup.getOrElse(id, "")))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submitted == 0L) s.submitted = e.stageInfo.submissionTime.getOrElse(s.completed)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime; s.deserMs += m.executorDeserializeTime
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.spill += m.diskBytesSpilled
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shRecords += m.shuffleWriteMetrics.recordsWritten
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inBytes += m.inputMetrics.bytesRead; s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten; s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    executions += 1
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).fold(0L)(_.durationMs)
    analysisMs += ms("analysis"); optimizationMs += ms("optimization"); planningMs += ms("planning")
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { executions += 1 }
}

object Recorder {
  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}

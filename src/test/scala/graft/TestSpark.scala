package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, built by the same factory
  * as the mains. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
  val Sf = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it started, scoped by job
    * group so concurrent work in the session is not counted. */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.TestBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}

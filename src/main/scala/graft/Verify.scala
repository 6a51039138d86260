package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY on a small thread pool. They are mutually
  * independent (own sources, own output dir, query-unique temp-view
  * names), and at gate SF the wall-clock is dominated by per-query job
  * scheduling + the coalesce(1) single-file write, not compute —
  * overlapping them cuts the sweep several-fold. Round-5 lesson: the
  * sequential sweep grew past the driver's external timeout and the
  * round's correctness came back empty.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter — the fast
    // inner loop when adding one query
    val (sfDirOrig, outDir, only) = args match {
      case Array(sf, out)    => (sf, out, None)
      case Array(sf, out, f) => (sf, out, Some(f.split(",").toSet))
    }
    // tmpfs input copy — one slow disk pass, RAM-speed scans after (Scratch)
    val sfDir = Scratch.localize(sfDirOrig)
    val spark = GraftSession(
      GraftSession.cpus(math.min(32, Runtime.getRuntime.availableProcessors())))
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // written FIRST: if the sweep is killed mid-run, the oracle map (and
    // every query dumped so far) still exists for a partial compare
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach(queue.add)
    // No per-query unpersist here: with concurrent queries in flight a
    // blanket release would yank another query's localCheckpoint blocks
    // mid-job. Gate-SF checkpoint blocks are a few MB each; the session
    // simply carries them to the end.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt
    val threads = (1 to par).map { _ =>
      val t = new Thread(() => {
        var item = queue.poll()
        while (item != null) {
          val (name, fn) = item
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(
              f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          item = queue.poll()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    spark.stop()
  }
}

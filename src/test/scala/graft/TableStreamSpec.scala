package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.UnresolvedDataSource
import org.scalatest.funsuite.AnyFunSuite

/** The file source and runner every streaming twin goes through:
  * `QShared.tableStream` stages a table once per run and reads it with
  * the schema `Tables` already resolved; `QShared.runToEnd` runs a
  * writer over the whole source with a fresh checkpoint.
  */
class TableStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** The directory a file stream reads. */
  private def srcDir(df: DataFrame): String =
    df.queryExecution.logical.collectFirst {
      case r: UnresolvedDataSource => r.paths.head
    }.get

  /** Runs `stream` to the end; returns (batch id, rows) per non-empty batch. */
  private def batches(stream: DataFrame): Seq[(Long, Long)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    QShared.runToEnd(stream.writeStream.foreachBatch { (b: DataFrame, bid: Long) =>
      val n = b.count()
      if (n > 0) seen.add((bid, n)): Unit
    })
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.sortBy(_._1)
  }

  private def fields(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq

  test("a repeat events stream reads the same staged dir and starts no Spark job") {
    val first = QShared.tableStream(spark, TestSpark.Sf, "events")
    val (again, jobs) =
      TestSpark.countJobs(QShared.tableStream(spark, TestSpark.Sf, "events"))
    assert(jobs == 0, s"repeat call ran $jobs jobs")
    assert(srcDir(again) == srcDir(first))
    // the single-file table is read from a staged directory copy
    assert(!srcDir(first).startsWith(TestSpark.Sf))
    val table = Tables.table(spark, TestSpark.Sf, "events")
    assert(fields(again) == fields(table))
    assert(batches(again).map(_._2).sum == table.count())
  }

  test("a table rewritten in place is staged again") {
    val dir = Scratch.dir("table-stream-spec")
    val target = Paths.get(dir, "t.parquet")
    def put(src: String): Unit =
      Files.copy(Paths.get(TestSpark.Sf, s"$src.parquet"), target,
        StandardCopyOption.REPLACE_EXISTING)
    put("region")
    val before = QShared.tableStream(spark, dir, "t")
    assert(before.columns.contains("r_regionkey"))
    assert(srcDir(QShared.tableStream(spark, dir, "t")) == srcDir(before))
    put("nation")
    val after = QShared.tableStream(spark, dir, "t")
    assert(srcDir(after) != srcDir(before))
    assert(after.columns.contains("n_nationkey"))
    assert(batches(after).map(_._2).sum ==
      Tables.table(spark, TestSpark.Sf, "nation").count())
  }

  test("files = 4 streams 4 micro-batches; every run reprocesses the whole source") {
    val docs = Tables.table(spark, TestSpark.Sf, "documents").count()
    val stream = QShared.tableStream(spark, TestSpark.Sf, "documents", files = 4)
    // the checkpoint is fresh per run, so a second run sees every file again
    Seq(batches(stream), batches(stream)).foreach { bs =>
      assert(bs.size == 4, s"batches: $bs")
      assert(bs.map(_._2).sum == docs)
    }
    assert(srcDir(QShared.tableStream(spark, TestSpark.Sf, "documents", files = 4)) ==
      srcDir(stream))
  }
}

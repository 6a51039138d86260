package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Bench's scheduling helpers — pure functions of the committed medians
  * and demote list — and the confs every factory-built session pins.
  */
class BenchSpec extends AnyFunSuite {

  test("entries without a committed median run first, then ascending median, then name") {
    val medians = Map("a" -> 2.0, "b" -> 1.0, "c" -> 1.0, "d" -> 0.5)
    assert(Bench.order(Seq("c", "z", "a", "b", "y", "d"), medians) ==
      Seq("y", "z", "d", "b", "c", "a"))
  }

  test("modes: substrates build once, demoted entries run single, iterative entries never do") {
    val iterative = Bench.DeclaredIterative.head
    val demote = Set("q_x", iterative)
    val subs = Set("substrate:s")
    assert(Bench.modeOf("substrate:s", subs, demote) == "substrate")
    assert(Bench.modeOf("q_x", subs, demote) == "single")
    assert(Bench.modeOf(iterative, subs, demote) == "warm")
    assert(Bench.modeOf("q_y", subs, demote) == "warm")
    assert(Seq("substrate", "single", "warm").map(Bench.passes) == Seq(1, 1, 2))
  }

  test("the committed demote list names registry entries and holds no iterative entry") {
    val demote = Bench.readDemote(Bench.DemotePath)
    assert(demote.nonEmpty)
    assert(demote.subsetOf(SparkEntry.queries.keySet))
    assert((demote intersect Bench.DeclaredIterative).isEmpty)
  }

  test("hard wall: an entry starts only if elapsed + passes × median (1 s without one) stays within 500 s") {
    assert(Bench.HardWallS == 500.0)
    assert(Bench.mayStart(0.0, 2, Some(250.0)))
    assert(!Bench.mayStart(0.0, 2, Some(250.5)))
    assert(Bench.mayStart(498.0, 1, Some(2.0)))
    assert(!Bench.mayStart(490.0, 2, Some(6.0)))
    assert(Bench.mayStart(498.0, 2, None))
    assert(!Bench.mayStart(498.5, 2, None))
    assert(!Bench.mayStart(499.5, 1, None))
  }

  test("a missing or malformed demote list fails loudly; an empty one runs everything warm") {
    intercept[java.io.FileNotFoundException](
      Bench.readDemote("no/such/dir/bench_demote.json"))
    val dir = Files.createTempDirectory("bench-spec")
    try {
      val bad = Files.writeString(dir.resolve("bad.json"), """{"q_a": 1}""")
      intercept[IllegalArgumentException](Bench.readDemote(bad.toString))
      val empty = Files.writeString(dir.resolve("empty.json"), "[]\n")
      assert(Bench.readDemote(empty.toString).isEmpty)
      val two = Files.writeString(dir.resolve("two.json"), "[\n \"q_a\",\n \"q_b\"\n]")
      assert(Bench.readDemote(two.toString) == Set("q_a", "q_b"))
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.delete(dir)
    }
  }

  test("the factory-built test session pins UTC, nanosAsLong and no UI") {
    val spark = TestSpark.spark
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}

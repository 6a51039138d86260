package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val region = Tables.table(spark, TestSpark.Sf, "region")

  /** Range-partition `df` on `key` into `files` files, sorted within each
    * file — the layout whose per-file min/max boxes the key-locality
    * tests measure. */
  private def layoutOn(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column, files: Int, path: String): Unit =
    Sinks.writeColumnar(df.withColumn("__k", key).repartitionByRange(files, $"__k")
      .sortWithinPartitions("__k").drop("__k"), path)

  /** (files whose x/y min/max box meets the 16x16 box (8..23)^2, total
    * files): a file is skippable iff its box misses the query box. */
  private def filesTouched2d(path: String): (Long, Long) = {
    val boxes = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min($"x").as("x0"), max($"x").as("x1"),
        min($"y").as("y0"), max($"y").as("y1"))
    (boxes.filter(!($"x1" < 8 || $"x0" > 23 || $"y1" < 8 || $"y0" > 23)).count(),
      boxes.count())
  }

  test("columnar + line sinks round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("sinks").toString
    Sinks.writeColumnar(region, s"$dir/p", "parquet")
    Sinks.writeColumnar(region, s"$dir/o", "orc")
    Sinks.writeLines(region, s"$dir/c", "csv")
    Sinks.writeLines(region, s"$dir/j", "json")
    val want = region.collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$dir/p").collect().map(_.toSeq).toSet == want)
    assert(spark.read.orc(s"$dir/o").collect().map(_.toSeq).toSet == want)
    assert(spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/c").collect().map(_.toSeq).toSet == want)
    assert(spark.read.json(s"$dir/j").select($"r_regionkey", $"r_name")
      .collect().map(_.toSeq).toSet == want)
  }

  test("zOrderValue: exact Morton interleaving on closed-form fixtures") {
    // 2 cols, 2 bits: z(x, y) interleaves x at even, y at odd positions
    val got = Seq((0L, 0L), (3L, 1L), (1L, 3L), (2L, 2L), (3L, 3L))
      .toDF("x", "y")
      .select($"x", $"y", Sinks.zOrderValue(Seq($"x", $"y"), bits = 2).as("z"))
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // z = x0 + 2*y0 + 4*x1 + 8*y1
    assert(got((0L, 0L)) == 0L)
    assert(got((3L, 1L)) == (1 + 2 + 4 + 0))
    assert(got((1L, 3L)) == (1 + 2 + 0 + 8))
    assert(got((2L, 2L)) == (0 + 0 + 4 + 8))
    assert(got((3L, 3L)) == 15L)
  }

  test("zOrderValue layout: z-files skip a box query a hash layout cannot") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    // a 64x64 grid of points, both coordinates uniform
    val grid = spark.range(4096)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    layoutOn(grid, Sinks.zOrderValue(Seq($"x", $"y"), bits = 6), 16, s"$dir/z")
    // control: same data, hash-partitioned into the same file count
    grid.repartition(16).write.parquet(s"$dir/h")
    val (zt, ztot) = filesTouched2d(s"$dir/z")
    val (ht, htot) = filesTouched2d(s"$dir/h")
    assert(ztot == 16 && htot == 16, s"expected 16 files, got z=$ztot h=$htot")
    // hash layout: every file spans the whole grid -> nothing skips.
    // z-order: the 16x16 box at (8..23)^2 is a compact z-range -> most
    // files skip. Require at least half skipped AND strictly better.
    assert(ht == 16, s"hash layout should touch all files, touched $ht")
    assert(zt <= 8 && zt < ht, s"z layout touched $zt of $ztot files")
    // layout preserves the data exactly
    assert(spark.read.parquet(s"$dir/z").count() == 4096)
  }

  test("hilbertValue: bijection over the full grid; consecutive indices are unit Manhattan steps (the locality property Morton lacks)") {
    val bits = 5
    val n = 1 << bits
    val grid = spark.range(n.toLong * n)
      .select(($"id" % n).as("x"), ($"id" / n).cast("long").as("y"))
    val got = grid
      .select($"x", $"y", Sinks.hilbertValue($"x", $"y", bits).as("h"))
      .as[(Long, Long, Long)].collect()
    // bijection: every index in [0, 4^bits) appears exactly once
    assert(got.map(_._3).sorted.toSeq == (0L until n.toLong * n))
    // adjacency: walking the curve in index order moves exactly one
    // unit step per increment — Morton violates this at every
    // quadrant boundary, Hilbert never does
    val walk = got.sortBy(_._3)
    walk.zip(walk.tail).foreach { case ((x1, y1, h1), (x2, y2, _)) =>
      val step = math.abs(x2 - x1) + math.abs(y2 - y1)
      assert(step == 1, s"jump of $step after index $h1 at ($x1,$y1)->($x2,$y2)")
    }
    // the Morton CONTROL: same grid, same walk — count the quadrant
    // jumps to show the property is not vacuous
    val mWalk = grid
      .select($"x", $"y", Sinks.zOrderValue(Seq($"x", $"y"), bits).as("z"))
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    val mJumps = mWalk.zip(mWalk.tail)
      .count { case ((x1, y1, _), (x2, y2, _)) =>
        math.abs(x2 - x1) + math.abs(y2 - y1) > 1 }
    assert(mJumps > 0, "Morton should jump at quadrant boundaries")
    // bits bound is enforced
    intercept[IllegalArgumentException](Sinks.hilbertValue($"x", $"y", 33))
  }

  test("hilbertValue layout: file skipping on the same box query, at least as strong as the Morton layout") {
    val dir = java.nio.file.Files.createTempDirectory("hilbert").toString
    val grid = spark.range(4096)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    layoutOn(grid, Sinks.hilbertValue($"x", $"y", 6), 16, s"$dir/h")
    layoutOn(grid, Sinks.zOrderValue(Seq($"x", $"y"), bits = 6), 16, s"$dir/m")
    val (ht, htot) = filesTouched2d(s"$dir/h")
    val (mt, _) = filesTouched2d(s"$dir/m")
    assert(htot == 16, s"expected 16 files, got $htot")
    // the same 16x16 box query the zOrder spec uses: Hilbert's tighter
    // locality must skip at least half the files too
    assert(ht <= 8, s"hilbert layout touched $ht of $htot files")
    assert(ht <= mt, s"hilbert touched $ht files, morton $mt — locality regressed")
    assert(spark.read.parquet(s"$dir/h").count() == 4096)
  }

  test("hilbertValueN: Skilling 3-D index — bijection, unit-step adjacency, reference vectors; 63-bit bound enforced") {
    val bits = 3
    val n = 1 << bits
    val grid = spark.range(n.toLong * n * n)
      .select(($"id" % n).as("x"), (($"id" / n) % n).cast("long").as("y"),
        ($"id" / (n * n)).cast("long").as("z"))
    val got = grid
      .select($"x", $"y", $"z",
        Sinks.hilbertValueN(Seq($"x", $"y", $"z"), bits).as("h"))
      .as[(Long, Long, Long, Long)].collect()
    // bijection over [0, 8^bits)
    assert(got.map(_._4).sorted.toSeq == (0L until n.toLong * n * n))
    // adjacency: every index increment is one unit Manhattan step in 3-D
    val walk = got.sortBy(_._4)
    walk.zip(walk.tail).foreach { case ((x1, y1, z1, h1), (x2, y2, z2, _)) =>
      val step = math.abs(x2 - x1) + math.abs(y2 - y1) + math.abs(z2 - z1)
      assert(step == 1, s"jump of $step after index $h1")
    }
    // Morton control on the same 3-D grid: quadrant jumps exist
    val mWalk = grid
      .select($"x", $"y", $"z",
        Sinks.zOrderValue(Seq($"x", $"y", $"z"), bits).as("m"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    val mJumps = mWalk.zip(mWalk.tail).count { case ((x1, y1, z1, _), (x2, y2, z2, _)) =>
      math.abs(x2 - x1) + math.abs(y2 - y1) + math.abs(z2 - z1) > 1 }
    assert(mJumps > 0, "Morton should jump at octant boundaries")
    // closed-form reference vectors (hand-checked Skilling walk, b=3 n=3)
    val byPoint = got.map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(byPoint((0L, 0L, 0L)) == 0L)
    assert(byPoint((1L, 2L, 3L)) == 48L)
    assert(byPoint((7L, 7L, 7L)) == 365L)
    assert(byPoint((5L, 0L, 6L)) == 431L)
    intercept[IllegalArgumentException](
      Sinks.hilbertValueN(Seq($"x", $"y", $"z"), 22))
    intercept[IllegalArgumentException](Sinks.hilbertValueN(Seq($"x"), 8))
  }

  test("hilbertValueN layout: 3-D box-query file skipping at least as strong as 3-D Morton") {
    val dir = java.nio.file.Files.createTempDirectory("hilbert3").toString
    val grid = spark.range(16 * 16 * 16)
      .select(($"id" % 16).as("x"), (($"id" / 16) % 16).cast("long").as("y"),
        ($"id" / 256).cast("long").as("z"))
    layoutOn(grid, Sinks.hilbertValueN(Seq($"x", $"y", $"z"), 4), 16, s"$dir/h")
    layoutOn(grid, Sinks.zOrderValue(Seq($"x", $"y", $"z"), 4), 16, s"$dir/m")
    def filesTouched(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min($"x").as("x0"), max($"x").as("x1"),
          min($"y").as("y0"), max($"y").as("y1"),
          min($"z").as("z0"), max($"z").as("z1"))
      (boxes.filter(!($"x1" < 2 || $"x0" > 5 || $"y1" < 2 || $"y0" > 5 ||
        $"z1" < 2 || $"z0" > 5)).count(), boxes.count())
    }
    val (ht, htot) = filesTouched(s"$dir/h")
    val (mt, mtot) = filesTouched(s"$dir/m")
    assert(htot == 16 && mtot == 16)
    assert(ht <= mt, s"hilbert touched $ht files, morton $mt — locality regressed")
    assert(ht <= 8, s"hilbert layout touched $ht of $htot files")
    assert(spark.read.parquet(s"$dir/h").count() == 4096)
  }

  test("snapshot protocol: crash injected between every pair of FS ops — reader sees exactly old or new") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val base = java.nio.file.Files.createTempDirectory("snapcrash").toString
    val golden = s"$base/golden"
    def grid(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(($"id" % 32).as("x"), ($"id" / 32).cast("long").as("y"))
    assert(Sinks.writeLayoutSnapshot(grid(0, 1024).repartition(4), golden,
      statsCols = Seq("x")) == 1L)
    val fs = new Path(golden)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rows(dir: String) = Sinks.readTable(spark, dir)
      .select($"x", $"y").as[(Long, Long)].collect().sorted.toSeq
    val before = rows(golden)
    val extra = grid(1024, 1536).repartition(3)
    val after = (before ++ extra.as[(Long, Long)].collect()).sorted
    val nBefore = Sinks.manifestFiles(fs, new Path(golden), 1L).size
    // inject a crash before FS op k, for every k, until an append runs
    // through uninjected; after EVERY outcome the reader must see
    // exactly the old or the new snapshot — same rows, a committed
    // manifest, every listed file and sidecar present
    var k = 0
    var sawSuccess = false
    var sawCrash = false
    while (!sawSuccess && k < 100) {
      val dir = s"$base/run$k"
      FileUtil.copy(fs, new Path(golden), fs, new Path(dir), false,
        spark.sparkContext.hadoopConfiguration)
      var count = 0
      Sinks.fsOpHook = _ => {
        count += 1
        if (count > k) throw new RuntimeException("injected crash")
      }
      val crashed =
        try {
          Sinks.appendSnapshot(extra, dir, statsCols = Seq("x"),
            bloom = Some(Sinks.BloomSpec(Seq("y"))))
          false
        } catch {
          case e: RuntimeException if e.getMessage == "injected crash" => true
        }
      Sinks.fsOpHook = _ => ()
      sawCrash ||= crashed
      val v = Sinks.latestManifest(fs, new Path(dir)).get
      assert(v == 1L || v == 2L, s"crash point $k: manifest version $v")
      assert(rows(dir) == (if (v == 1L) before else after),
        s"crash point $k: reader saw wrong rows for v$v")
      val listed = Sinks.manifestEntries(fs, new Path(dir), v)
      listed.flatMap(e => e.name +: e.blooms.values.map(_.file).toSeq)
        .foreach(n => assert(fs.exists(new Path(s"$dir/$n")),
          s"crash point $k: manifest-v$v lists missing file $n"))
      if (!crashed) {
        // the uninjected pass must have actually appended and committed v2
        assert(v == 2L && listed.size > nBefore)
        sawSuccess = true
      }
      k += 1
    }
    assert(sawSuccess, "never reached an uninjected full pass")
    assert(sawCrash, "injection never fired — hook not wired")
    assert(k > 3, s"too few FS ops hooked ($k) for a meaningful sweep")
    // time travel: v1 stays readable — the append committed v2 without
    // touching v1's files
    val dirLast = s"$base/run${k - 1}"
    val lastPath = new Path(dirLast)
    val v1rows = Sinks.readTableAsOf(spark, dirLast, 1L)
      .select($"x", $"y").as[(Long, Long)].collect().sorted.toSeq
    assert(v1rows == before, "snapshot v1 no longer readable")
    // optimistic concurrency: a committer holding a stale expected
    // version loses loudly instead of clobbering the newer snapshot
    intercept[IllegalArgumentException] {
      Sinks.commitEntries(fs, lastPath, 1L,
        Sinks.manifestEntries(fs, lastPath, 1L), kind = "replace")
    }
    assert(Sinks.latestManifest(fs, lastPath).contains(2L))
    assert(rows(dirLast) == after)
  }

  test("manifest stats pruning: readTableWhere equals full-read+filter, skips files, stays conservative") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("snapstats").toString + "/t"
    val df = spark.range(4096)
      .select($"id".as("k"), ($"id" % 7).cast("double").as("w"),
        concat(lit("s"), format_string("%05d", $"id")).as("tag"))
      .repartitionByRange(16, $"k").sortWithinPartitions("k")
    assert(Sinks.writeLayoutSnapshot(df, dir,
      statsCols = Seq("k", "w", "tag")) == 1L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every file carries ranges for all three kinds (L, D, S)
    val entries = Sinks.manifestEntries(fs, new Path(dir), 1L)
    assert(entries.forall(e => e.stats.keySet == Set("k", "w", "tag")))
    assert(entries.head.stats("k").kind == 'L')
    assert(entries.head.stats("w").kind == 'D')
    assert(entries.head.stats("tag").kind == 'S')
    def checkPrune(preds: Map[String, (Any, Any)],
        filter: org.apache.spark.sql.Column, expectSkip: Boolean): Unit = {
      val pr = Sinks.readTableWhere(spark, dir, preds)
      val got = pr.df.filter(filter).select($"k").as[Long].collect().sorted.toSeq
      val want = Sinks.readTable(spark, dir).filter(filter)
        .select($"k").as[Long].collect().sorted.toSeq
      assert(got == want, s"pruned read diverged for $preds")
      if (expectSkip) assert(pr.filesRead < pr.filesTotal,
        s"no files skipped for $preds (${pr.filesRead}/${pr.filesTotal})")
    }
    // long-range prune: a 10% key slice must not read all 16 files
    checkPrune(Map("k" -> (0L, 400L)), $"k".between(0L, 400L), expectSkip = true)
    // string prune (utf8 order): a tag prefix window
    checkPrune(Map("tag" -> ("s00000", "s00400")),
      $"tag".between("s00000", "s00400"), expectSkip = true)
    // double predicate on a column whose range spans every file: all
    // kept, result still exact (pruning may not help, must not hurt)
    checkPrune(Map("w" -> (2.0, 3.0)), $"w".between(2.0, 3.0), expectSkip = false)
    // un-stats'd column in preds → conservative keep-everything
    val prAll = Sinks.readTableWhere(spark, dir, Map("nosuch" -> ((0L, 1L))))
    assert(prAll.filesRead == prAll.filesTotal)
    // zero survivors: empty frame, schema intact
    val prNone = Sinks.readTableWhere(spark, dir, Map("k" -> (100000L, 200000L)))
    assert(prNone.filesRead == 0 && prNone.df.count() == 0)
    assert(prNone.df.columns.toSeq == Seq("k", "w", "tag"))
    // manifest round-trip of the degenerate string stat: empty-string
    // bounds serialize as 'col=S::' whose trailing empty fields a
    // default split would drop (review r17)
    val degenerate = Seq(Sinks.ManifestEntry("f0.parquet",
      Map("tag" -> Sinks.ColRange('S', "", ""))))
    val scratch = new Path(
      java.nio.file.Files.createTempDirectory("manifestrt").toString)
    Sinks.commitEntries(fs, scratch, 0L, degenerate, kind = "init")
    assert(Sinks.manifestEntries(fs, scratch, 1L) == degenerate)
  }

  test("appendSnapshot + readTableChanges: exact ingest batches, atomic flip, rewrite commits refuse change capture") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("snapappend").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi).select($"id".as("k"), ($"id" * 2).as("v"))
    val v1 = Sinks.writeLayoutSnapshot(
      batch(0, 1000).repartitionByRange(4, $"k").sortWithinPartitions("k"),
      dir, statsCols = Seq("k"))
    val v2 = Sinks.appendSnapshot(batch(1000, 1500), dir, statsCols = Seq("k"))
    val v3 = Sinks.appendSnapshot(batch(1500, 1800), dir, statsCols = Seq("k"))
    assert((v1, v2, v3) == (1L, 2L, 3L))
    assert(Sinks.manifestKind(fs, new Path(dir), 2L).contains("append"))
    // live read = union of all batches; time travel = each prefix
    assert(Sinks.readTable(spark, dir).count() == 1800)
    assert(Sinks.readTableAsOf(spark, dir, 1L).count() == 1000)
    assert(Sinks.readTableAsOf(spark, dir, 2L).count() == 1500)
    // change capture is row-exact per interval
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.select($"k").as[Long].collect().sorted.toSeq
    assert(ks(Sinks.readTableChanges(spark, dir, 1L, 2L)) == (1000L until 1500L))
    assert(ks(Sinks.readTableChanges(spark, dir, 2L, 3L)) == (1500L until 1800L))
    assert(ks(Sinks.readTableChanges(spark, dir, 1L, 3L)) == (1000L until 1800L))
    // appended files carry stats → pruning reaches them
    val pr = Sinks.readTableWhere(spark, dir, Map("k" -> (1600L, 1700L)))
    assert(pr.filesRead < pr.filesTotal)
    assert(ks(pr.df.filter($"k".between(1600L, 1700L))) == (1600L to 1700L))
    // a crash injected before the manifest flip leaves readers on the
    // old snapshot with no phantom rows (staged files are unreferenced)
    var fired = false
    Sinks.fsOpHook = tag =>
      if (tag.startsWith("manifest-commit")) { fired = true; throw new RuntimeException("injected crash") }
    intercept[RuntimeException] { Sinks.appendSnapshot(batch(1800, 2000), dir) }
    Sinks.fsOpHook = _ => ()
    assert(fired, "append crash hook never fired")
    assert(Sinks.latestManifest(fs, new Path(dir)).get == 3L)
    assert(Sinks.readTable(spark, dir).count() == 1800)
    // a rewrite commit (here a re-publish of the live files, as a
    // compaction or re-layout would commit) in the interval refuses
    // change capture loudly instead of replaying rewritten rows as inserts
    val v4 = Sinks.commitEntries(fs, new Path(dir), 3L,
      Sinks.manifestEntries(fs, new Path(dir), 3L), kind = "compact")
    assert(Sinks.manifestKind(fs, new Path(dir), v4).contains("compact"))
    intercept[IllegalArgumentException] {
      Sinks.readTableChanges(spark, dir, 3L, v4)
    }
    // but intervals of pure appends before the rewrite still serve
    assert(ks(Sinks.readTableChanges(spark, dir, 1L, 3L)) == (1000L until 1800L))
    // and the crash residue (staged-but-uncommitted append files) is on
    // disk but listed by no manifest
    val residue = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("append-v4-")).map(_.getName).toSeq
    assert(residue.nonEmpty, "expected staged residue from the injected crash")
    assert(Sinks.manifestFiles(fs, new Path(dir), v4).intersect(residue).isEmpty)
    assert(Sinks.readTable(spark, dir).count() == 1800)
  }

  test("appendSnapshotBatch: bootstraps on batch 0, replays are no-ops, interleaved appends don't confuse the txn ledger") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("snapbatch").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi).select($"id".as("k"))
    // batch 0 bootstraps an empty directory to manifest-v1
    assert(Sinks.appendSnapshotBatch(batch(0, 100), dir, "appA", 0L) == 1L)
    assert(Sinks.manifestKind(fs, new Path(dir), 1L).contains("append"))
    assert(Sinks.lastCommittedBatch(fs, new Path(dir), "appA").contains(0L))
    // batch 1 appends; a REPLAY of batch 1 (worst case: different,
    // bigger payload — the rewritten attempt) is a no-op
    assert(Sinks.appendSnapshotBatch(batch(100, 200), dir, "appA", 1L) == 2L)
    assert(Sinks.appendSnapshotBatch(batch(0, 10000), dir, "appA", 1L) == 2L)
    assert(Sinks.readTable(spark, dir).count() == 200)
    // an out-of-band manual append (no txn) doesn't advance appA's
    // ledger; appA's next batch still commits once
    Sinks.appendSnapshot(batch(200, 250), dir)
    assert(Sinks.lastCommittedBatch(fs, new Path(dir), "appA").contains(1L))
    assert(Sinks.appendSnapshotBatch(batch(250, 300), dir, "appA", 2L) == 4L)
    assert(Sinks.readTable(spark, dir).count() == 300)
    // a second app keeps its own ledger
    assert(Sinks.lastCommittedBatch(fs, new Path(dir), "appB").isEmpty)
    assert(Sinks.appendSnapshotBatch(batch(300, 310), dir, "appB", 0L) == 5L)
    assert(Sinks.lastCommittedBatch(fs, new Path(dir), "appA").contains(2L))
    assert(Sinks.readTable(spark, dir).count() == 310)
    // bootstrap refuses a directory that holds UN-snapshotted data —
    // committing manifest-v1 over it would orphan those files out of
    // every snapshot read (review r17)
    val plain = java.nio.file.Files.createTempDirectory("snapplain").toString + "/t"
    Sinks.writeColumnar(batch(0, 50), plain)
    intercept[IllegalArgumentException] {
      Sinks.appendSnapshotBatch(batch(50, 60), plain, "appC", 0L)
    }
    assert(spark.read.parquet(plain).count() == 50, "guard must not mutate")
  }

  test("bloom sidecars: point lookups prune hash-laid files range stats cannot; appended files carry their own") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("snapbloom").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // HASH layout: every file's k-range spans ~the whole domain, so
    // range stats are useless for `k = v` — exactly the bloom's case
    val df = spark.range(4096)
      .select($"id".as("k"), concat(lit("s"), format_string("%05d", $"id")).as("tag"))
      .repartition(16)
    assert(Sinks.writeLayoutSnapshot(df, dir, statsCols = Seq("k"),
      bloom = Some(Sinks.BloomSpec(Seq("k", "tag")))) == 1L)
    val entries = Sinks.manifestEntries(fs, new Path(dir), 1L)
    assert(entries.forall(e => e.blooms.keySet == Set("k", "tag")))
    entries.flatMap(_.blooms.values).foreach(r =>
      assert(fs.exists(new Path(s"$dir/${r.file}")), s"missing sidecar ${r.file}"))
    // control: on the hash layout most files' ranges straddle any
    // point, so the range stat alone keeps most of them
    val prRange = Sinks.readTableWhere(spark, dir, Map("k" -> ((17L, 17L))))
    assert(prRange.filesRead > prRange.filesTotal / 2,
      "hash layout should mostly defeat range pruning (fixture assumption)")
    // the bloom prunes to (almost) only the holding file
    def lookup(eq: Map[String, Any]) = Sinks.readTableWhere(spark, dir, Map.empty, eq)
    val hit = lookup(Map("k" -> 17L))
    assert(hit.filesRead < hit.filesTotal / 2,
      s"bloom pruned nothing: ${hit.filesRead}/${hit.filesTotal}")
    assert(hit.df.filter($"k" === 17L).count() == 1)
    val hitS = lookup(Map("tag" -> "s00042"))
    assert(hitS.filesRead < hitS.filesTotal / 2)
    assert(hitS.df.filter($"tag" === "s00042").select($"k").as[Long].head() == 42L)
    // a key absent from the table: every file provably excluded
    assert(lookup(Map("k" -> 999999L)).filesRead == 0)
    // a probe value outside the hash domain fails LOUDLY — a Double's
    // "17.0" vs the build side's "17" would otherwise silently prune
    // every file (review r17)
    intercept[IllegalArgumentException] { lookup(Map("k" -> 17.0)) }
    // appended files carry their own sidecars
    val v2 = Sinks.appendSnapshotBatch(
      spark.range(10000, 10500).select($"id".as("k"),
        concat(lit("s"), format_string("%05d", $"id")).as("tag")),
      dir, "bloomApp", 0L, bloom = Some(Sinks.BloomSpec(Seq("k", "tag"))))
    assert(v2 == 2L)
    val hitNew = lookup(Map("k" -> 10250L))
    assert(hitNew.filesRead < hitNew.filesTotal)
    assert(hitNew.df.filter($"k" === 10250L).count() == 1)
  }
}

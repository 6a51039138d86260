package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.DfMemo

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * timed under one fixed protocol and reported as two JSON lines on
  * stdout.
  *
  * Each entry's mode is decided before the run and never changes:
  *   - `substrate`: each run-scoped [[DfMemo]] substrate is built in one
  *     pass, outside any query's window, and billed on its own
  *     `substrate:*` line;
  *   - `single`: one pass, recorded as both cold and warm, for the
  *     entries on the committed demote list (`tools/bench_demote.json`,
  *     sized by `tools/make_demote.py`) minus declared-iterative ones;
  *   - `warm`: exactly one cold pass and one warm pass.
  * The same list at every core count keeps cold/warm ratios
  * like-for-like between runs. `value` (the gated metric) is the warm
  * total over the `warm` and `substrate` lines; single-pass samples are
  * reported apart as `single_pass_total`.
  *
  * Around the timed passes: the inputs are read from a tmpfs copy
  * ([[Scratch.localize]]); the five cheapest queries run once, untimed,
  * so JIT warm-up does not land on the first measured entries; queries
  * run in ascending committed median, those without one first; and
  * each query's cache pins are released after it ([[DfMemo.releaseSince]]).
  *
  * A run that overstays its external timeout is killed with no output,
  * so the one guard is a hard wall: an entry does not start if elapsed
  * time plus its pass count × its committed median (1 s without one)
  * would cross [[HardWallS]]; it is listed in `skipped_wall`. A failed pass records
  * -1 and lists the entry in `failures`. `degraded` is true when an
  * entry failed or was skipped. Samples more than 3× their committed
  * median (floor 2 s) are flagged as host-stall suspects; the flags are
  * report-only. `rescued`/`n_rescued` are kept for readers of older
  * runs and are always empty.
  *
  * Environment: SPARK_GRAFT_SF_DIR (inputs), SPARK_GRAFT_CPUS (pool and
  * shuffle width, capped at 8; default 4), SPARK_GRAFT_ONLY
  * (comma-separated debug subset: no substrate pass, no demote list)
  * and SPARK_GRAFT_DEMOTE (another demote list; a file holding `[]`
  * runs every entry warm). A missing demote list fails the run at start.
  */
object Bench {
  type Fn = (SparkSession, String) => DataFrame

  private[graft] val HardWallS = 500.0
  private val MediansPath = "tools/bench_medians.json"
  private val ColdMediansPath = "tools/bench_medians_cold.json"
  private[graft] val DemotePath = "tools/bench_demote.json"

  /** Declared-iterative entries: queries whose cost IS a genuine
    * multi-round loop (driver-convergence graph peels, fixed-round
    * EM/Newton solves, multi-micro-batch streaming state). Their
    * warm/cold split is the product under test, so they are never
    * `single`. Derived from the registry's `Q.iterative` flag, declared
    * next to each query.
    */
  private[graft] lazy val DeclaredIterative: Set[String] =
    SparkEntry.registry.filter(_.iterative).map(_.name).toSet

  /** A repo-relative tool file: as given, else under `graft.repo.dir`
    * (or the working directory). */
  private def repoFile(path: String): Option[java.io.File] =
    Seq(new java.io.File(path),
        new java.io.File(sys.props.getOrElse("graft.repo.dir",
          sys.props.getOrElse("user.dir", ".")), path))
      .find(_.exists())

  private def readText(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** name → committed median seconds; empty (with a warning) when the
    * file is missing — the run order and the stall flags then lose
    * their reference. */
  private[graft] def readMedians(path: String): Map[String, Double] =
    repoFile(path) match {
      case None =>
        System.err.println(s"[bench] medians file '$path' not found")
        Map.empty
      case Some(f) =>
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(readText(f))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }

  /** The committed demote list (a JSON array of entry names). A missing
    * or malformed file throws: a silently empty list would run every
    * entry warm on one host and not on another, and the runs would no
    * longer compare like-for-like. */
  private[graft] def readDemote(path: String): Set[String] = {
    val f = repoFile(path).getOrElse(throw new java.io.FileNotFoundException(
      s"demote list '$path' not found (set SPARK_GRAFT_DEMOTE to a file " +
        "holding [] to run every entry warm)"))
    val txt = readText(f).trim
    require(txt.startsWith("[") && txt.endsWith("]"),
      s"demote list '$f' is not a JSON array of entry names")
    """"([^"]+)"""".r.findAllMatchIn(txt).map(_.group(1)).toSet
  }

  /** Run order: entries without a committed median first (thinnest
    * evidence), then ascending median, then name. */
  private[graft] def order(names: Seq[String], medians: Map[String, Double]): Seq[String] =
    names.sortBy(n => (medians.contains(n), medians.getOrElse(n, 0.0), n))

  private[graft] def modeOf(
      name: String, substrates: Set[String], demote: Set[String]): String =
    if (substrates(name)) "substrate"
    else if (demote(name) && !DeclaredIterative(name)) "single"
    else "warm"

  private[graft] def passes(mode: String): Int = if (mode == "warm") 2 else 1

  /** The hard-wall start predicate: may an entry of `passes` passes and
    * committed `median` start at `elapsedS`? */
  private[graft] def mayStart(elapsedS: Double, passes: Int, median: Option[Double]): Boolean =
    elapsedS + passes * median.getOrElse(1.0) <= HardWallS

  /** Git SHA of the tree this run measures (+ "-dirty" when the work
    * tree has uncommitted tracked changes), or "unknown". Stamped into
    * the bench JSON so the medians merge can REJECT cross-SHA sample
    * mixing (VERDICT r12 #7 — the q_edit_pairs mid-round rewire left 6
    * passes measuring a dead plan; hand-maintained exclusion lists
    * don't scale). Exec `git` when available, fall back to parsing
    * .git/HEAD (then packed-refs), never throw.
    */
  private[graft] def gitSha(): String = {
    val repo = Seq(sys.props.get("graft.repo.dir"), sys.props.get("user.dir"))
      .flatten.map(new java.io.File(_))
      .find(d => new java.io.File(d, ".git").exists)
    repo.fold("unknown") { d =>
      def exec(args: String*): Option[String] =
        try {
          val p = new ProcessBuilder(("git" +: "-C" +: d.getPath +: args): _*)
            .redirectErrorStream(false).start()
          val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
          if (p.waitFor() == 0) Some(out) else None
        } catch { case _: Exception => None }
      val viaGit = exec("rev-parse", "HEAD").map { sha =>
        // dirty = MEASUREMENT-RELEVANT paths only: the driver's
        // PROGRESS.jsonl tracking file is permanently modified and kept
        // every r13 pass stamped -dirty despite a clean build; what can
        // change the measured binary/plans is src/ and build.sbt.
        // -unormal (NOT -uno): a brand-new uncommitted source file is
        // exactly how plan-changing code arrives mid-round (review r13 —
        // Substrates.scala itself arrived that way), and -uno would
        // stamp such a run with the clean HEAD SHA
        val dirty = exec("status", "--porcelain", "-unormal",
          "--", "src", "build.sbt").exists(_.nonEmpty)
        if (dirty) s"$sha-dirty" else sha
      }
      def viaFiles: Option[String] =
        try {
          val head = java.nio.file.Files.readString(
            new java.io.File(d, ".git/HEAD").toPath).trim
          if (!head.startsWith("ref: ")) Some(head)
          else {
            val ref = head.drop(5)
            val refFile = new java.io.File(d, s".git/$ref")
            if (refFile.exists)
              Some(java.nio.file.Files.readString(refFile.toPath).trim)
            else {
              val packed = new java.io.File(d, ".git/packed-refs")
              if (!packed.exists) None
              else java.nio.file.Files.readAllLines(packed.toPath)
                .toArray(Array.empty[String])
                .find(_.endsWith(s" $ref")).map(_.split(' ').head)
            }
          }
        } catch { case _: Exception => None }
      // the file-parse fallback cannot see uncommitted changes — mark
      // it so bench_median.py refuses the stamp by default exactly
      // like "-dirty"/"unknown" (ADVICE r13: an unmarked fallback SHA
      // would let a dirty tree masquerade as clean HEAD when the git
      // binary is unavailable)
      viaGit.orElse(viaFiles.map(_ + "-unverified")).getOrElse("unknown")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDirOrig = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // read before the session starts, so a missing list fails in ms
    val listed = readDemote(sys.env.getOrElse("SPARK_GRAFT_DEMOTE", DemotePath))
    val demote = if (only.isEmpty) listed -- DeclaredIterative else Set.empty[String]
    val medians = readMedians(MediansPath)
    // cold samples are judged against cold medians: plan-compile-heavy
    // queries run a stable 20×+ cold/warm ratio
    val coldMedians = readMedians(ColdMediansPath)
    // read inputs from a tmpfs copy: one slow disk pass instead of one
    // per scan when the host's IO-stall episodes hit (see Scratch)
    val sfDir = Scratch.localize(sfDirOrig)
    // default 4: every recorded median ran at cpus ≤ 8. Pool and shuffle
    // width are capped at 8 because a 32-thread pool with 32-way
    // shuffles of kilobyte partitions measured ~1.8× slower per
    // sub-second query (task-wakeup latency) and no faster on the tail.
    val pool = math.min(GraftSession.cpus(4), 8)
    val spark = GraftSession(pool)
    val sc = spark.sparkContext
    val t0Suite = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0Suite) / 1e9

    def once(name: String, fn: Fn): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        Double.NaN
      }
    }

    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // SPARK_GRAFT_ONLY debug runs skip the substrate pass: the selected
    // queries build what they need, first consumer pays
    val substrates = if (only.nonEmpty) Nil else Substrates.all
    val subSet = substrates.map(_._1).toSet
    val plan: Seq[(String, Fn)] =
      substrates ++ order(queries.keys.toSeq, medians).map(n => n -> queries(n))
    val modes = plan.map { case (n, _) => n -> modeOf(n, subSet, demote) }.toMap

    // untimed JIT/codegen warm-up on the five cheapest queries; then drop
    // what it pinned and any substrate it built, so the substrate pass
    // below stays the only billing point of a build
    locally {
      val before = sc.getPersistentRDDs.keySet
      queries.keys.toSeq.sorted
        .sortBy(n => medians.getOrElse(n, Double.MaxValue)).take(5).foreach { n =>
          try queries(n)(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $n failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      DfMemo.releaseSince(sc, before)
      DfMemo.clear()
    }

    val results = scala.collection.mutable.ListBuffer.empty[(String, Double, Double)]
    var failures = List.empty[String]
    var skippedWall = List.empty[String]
    plan.foreach { case (name, fn) =>
      val mode = modes(name)
      if (!mayStart(elapsedS, passes(mode), medians.get(name))) {
        skippedWall ::= name
        System.err.println(f"[bench] $name skipped: would cross the hard wall at t=$elapsedS%.0f")
      } else {
        val before = sc.getPersistentRDDs.keySet
        val cold = once(name, fn)
        val warm = if (mode == "warm" && !cold.isNaN) once(name, fn) else cold
        if (warm.isNaN) failures ::= name
        System.err.println(f"[bench] $name $mode cold=$cold%.2f warm=$warm%.2f t=$elapsedS%.0f")
        // a substrate's pins are the memo's to keep
        if (mode != "substrate") DfMemo.releaseSince(sc, before)
        results += ((name, cold, warm))
      }
    }

    // JSON has no NaN: failed samples serialize as -1 and are excluded
    // from the totals.
    def j(v: Double): String = if (v.isNaN) "-1" else v.toString
    def obj(f: ((String, Double, Double)) => (String, Double)) =
      results.map(r => { val (k, v) = f(r); "\"" + k + "\":" + j(v) })
        .mkString("{", ",", "}")
    def arr(xs: Iterable[String]) = xs.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ok = results.toList.filterNot(r => r._2.isNaN || r._3.isNaN)
    val singlePass = results.map(_._1).filter(modes(_) == "single").toList
    val (single, warmed) = ok.partition(r => modes(r._1) == "single")
    val warmTotal = warmed.map(_._3).sum
    val singleTotal = single.map(_._3).sum
    val coldTotal = ok.map(_._2).sum
    val queryOk = ok.filterNot(r => subSet(r._1))
    // n_warm_measured: the queries (not substrate builds) inside `value`
    val nWarm = warmed.count(r => !subSet(r._1))
    val warmTotalQueries = warmed.filterNot(r => subSet(r._1)).map(_._3).sum
    def stalled(t: Double, median: Option[Double]) =
      median.exists(m => t > math.max(2.0, 3 * m))
    val substrateStallSuspect = ok.collect {
      case (n, c, _) if subSet(n) && stalled(c, medians.get(n)) => n }
    val stallSuspect = queryOk.collect {
      case (n, _, w) if stalled(w, medians.get(n)) => n }
    val stallSuspectCold = queryOk.collect {
      case (n, c, _) if stalled(c, coldMedians.get(n).orElse(medians.get(n))) => n }
    (substrateStallSuspect ++ stallSuspect ++ stallSuspectCold).foreach { n =>
      System.err.println(s"[bench] $n sample is 3x its committed median — host stall suspected, flagged")
    }
    val modesJson = results.map { case (n, _, _) => "\"" + n + "\":\"" + modes(n) + "\"" }
      .mkString("{", ",", "}")
    val isDegraded = failures.nonEmpty || skippedWall.nonEmpty
    val nQueries = results.size + skippedWall.size
    val sha = gitSha()
    println(s"""{"metric":"total","value":$warmTotal,"unit":"sec",""" +
      s""""cold_total":$coldTotal,"warm_total_measured":$warmTotal,""" +
      s""""warm_total_queries":$warmTotalQueries,""" +
      s""""n_warm_measured":$nWarm,"degraded":$isDegraded,""" +
      s""""single_pass_total":$singleTotal,"n_queries":$nQueries,""" +
      s""""n_failed":${failures.size},"failures":${arr(failures)},""" +
      s""""single_pass":${arr(singlePass)},""" +
      s""""n_skipped_wall":${skippedWall.size},"skipped_wall":${arr(skippedWall)},""" +
      s""""rescued":[],""" +
      s""""substrates":${arr(substrates.map(_._1))},""" +
      s""""substrate_total":${ok.filter(r => subSet(r._1)).map(_._3).sum},""" +
      s""""substrate_stall_suspect":${arr(substrateStallSuspect)},""" +
      s""""stall_suspect":${arr(stallSuspect)},""" +
      s""""stall_suspect_cold":${arr(stallSuspectCold)},""" +
      s""""sha":"$sha","elapsed_s":$elapsedS,""" +
      s""""pool":$pool,"shuffle_partitions":$pool,""" +
      s""""queries":${obj(r => r._1 -> r._3)},"queries_cold":${obj(r => r._1 -> r._2)},""" +
      s""""modes":$modesJson,""" +
      s""""n_demoted_committed":${demote.size},""" +
      s""""sf":"$sfDirOrig"}""")
    // A reader that keeps only the last ~2000 chars of output still
    // gets this short, self-contained summary line, printed last.
    println(s"""{"metric":"total","value":$warmTotal,"unit":"sec",""" +
      s""""cold_total":$coldTotal,"single_pass_total":$singleTotal,""" +
      s""""warm_total_queries":$warmTotalQueries,""" +
      s""""n_queries":$nQueries,"n_warm_measured":$nWarm,""" +
      s""""degraded":$isDegraded,"n_failed":${failures.size},""" +
      s""""n_single_pass":${singlePass.size},"n_stall_suspect":${stallSuspect.size},""" +
      s""""n_stall_suspect_cold":${stallSuspectCold.size},""" +
      s""""n_rescued":0,""" +
      s""""n_skipped_wall":${skippedWall.size},"elapsed_s":$elapsedS,""" +
      s""""pool":$pool,"shuffle_partitions":$pool,""" +
      s""""sha":"$sha","summary_of":"preceding full line","sf":"$sfDirOrig"}""")
    System.out.flush()
    spark.stop()
  }
}

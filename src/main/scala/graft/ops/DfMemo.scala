package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The run-scoped memo: a result DERIVED from a file-backed table is
  * computed once per run and reused by every query that needs it. It
  * holds three kinds of value in one map, under one key rule:
  *
  *   - frames ([[cached]]), persisted `MEMORY_AND_DISK` and counted on
  *     the miss: the cell-routed candidate kernel
  *     (`Similarity.cellMatches`), the exact kNN graph
  *     (`Similarity.knnGraph`), the 3-shingle near-dup pairs and
  *     clusters (`QShared.dedupPairs3`/`dedupClusters3`), …;
  *   - staged directories ([[cachedPath]]), written once under
  *     [[graft.Scratch]]: the stream sources of `QShared.tableStream`
  *     (a single-file table's byte copy, a table's `repartition(4)`
  *     copy) and q_stream_lang_clf's model relations;
  *   - driver-side values: the PCA eigenbasis of
  *     `Similarity.topPBasis`.
  *
  * The key is (session identity, stamp of the backing files, canonical
  * logical plan, tag):
  *
  *   - each backing file's (mtime, length) rides in the [[stamp]], so
  *     an in-place parquet overwrite mid-JVM MISSES instead of serving
  *     stale rows; unstattable paths stamp as "?";
  *   - the canonical plan string means a filtered/derived view never
  *     aliases its source table;
  *   - the session identity keeps a frame from leaking into a different
  *     SparkSession, where its plan could not execute;
  *   - the tag names the derivation and encodes EVERY parameter it
  *     depends on beyond the input (k, nprobe, thresholds, cell-table
  *     contents, …): two calls with the same input and tag must be
  *     interchangeable.
  *
  * In-memory inputs (spec fixtures) have no backing files and so no
  * identity: they bypass the memo and are computed fresh on every call.
  *
  * [[clear]] drops every entry of every kind, unpersisting the frames.
  * The per-session table schemas of [[graft.Tables]] are deliberately
  * NOT held here: benchmark passes clear the memo at their start, and
  * re-inferring every table's schema would add one Spark job per table
  * to each pass; their own stamp check already invalidates them.
  *
  * Scale: one value per distinct derivation per run; a frame is the
  * table a single query would materialize anyway, and MEMORY_AND_DISK
  * spills rather than OOMs. A single-JVM device: on a multi-tenant
  * cluster a materialized intermediate table plays this role.
  */
private[graft] object DfMemo {

  /** One memo slot. The map stores cells, not values: computeIfAbsent
    * only CONSTRUCTS the (cheap, side-effect-free) cell inside the CHM
    * bin lock; the Spark jobs that compute the value run through the
    * cell's `lazy val`, OUTSIDE the map lock. That makes nested and
    * concurrent memo calls structurally safe — a substrate composed
    * inside another substrate's compute resolves its own (different-key)
    * cell without tripping ConcurrentHashMap's recursive-update
    * IllegalStateException, and two threads racing the same key
    * serialize on the cell's lazy-init monitor, not on a map bin.
    * (Same-key re-entrance — a substrate derived from itself — would
    * self-deadlock, but is definitionally impossible.)
    */
  private final class Cell(compute: () => Any) {
    @volatile private[DfMemo] var built = false
    lazy val value: Any = { val v = compute(); built = true; v }
  }

  private val cache =
    new ConcurrentHashMap[(Int, String, String, String), Cell]()

  /** RDD-level pins created while computing AND materializing a
    * memoized frame. Two kinds, both load-bearing:
    *
    *   - localCheckpoint blocks registered during the compute
    *     (jaccardPairsPrefix's per-document frame under dedupPairs3):
    *     once materialized they are the ONLY copy, so an external
    *     "release what this query pinned" sweep (graft.Bench's
    *     per-query cleanup) that unpersists them kills every frame
    *     built on top (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND);
    *   - the memo frame's OWN cache buffer: Dataset.persist calls
    *     RDD.persist on the buffer RDD at FIRST MATERIALIZATION, so it
    *     appears in `sc.getPersistentRDDs` too, and a sweep that
    *     evicts it makes every later consumer recompute (review r12).
    *     cached() therefore materializes eagerly INSIDE the snapshot
    *     window so the buffer id lands in the protected delta. */
  private val protectedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** RDD ids that back live memoized frames — external cache sweeps
    * must skip these (see [[protectedIds]]). */
  def protectedRddIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    protectedIds.asScala.toSet
  }

  /** The per-query cache release: unpersist every RDD `sc` has pinned
    * since the `before` snapshot of `sc.getPersistentRDDs.keySet`,
    * except [[protectedRddIds]]. Snapshot-scoped so it never touches
    * pins that predate the query. */
  def releaseSince(
      sc: org.apache.spark.SparkContext, before: collection.Set[Int]): Unit = {
    val prot = protectedRddIds
    sc.getPersistentRDDs
      .filterNot { case (id, _) => before(id) || prot(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Stable stamp of a frame's backing files, or None for in-memory
    * frames (which must never be memoized — no files, no identity). */
  private def stampedFiles(df: DataFrame): Option[String] = {
    val files = df.inputFiles
    if (files.isEmpty) None
    else Some(stamp(files.toSeq, df.sparkSession.sparkContext.hadoopConfiguration))
  }

  /** The file stamp every graft cache keys on: one `file@mtime:len`
    * line per file under `paths` (a directory stamps every file below
    * it), sorted. Overwriting, adding or removing a file changes the
    * stamp; an unstattable path stamps as `path@?`. */
  private[graft] def stamp(
      paths: Seq[String], conf: org.apache.hadoop.conf.Configuration): String =
    paths.flatMap { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      try {
        val it = path.getFileSystem(conf).listFiles(path, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(st => s"${st.getPath}@${st.getModificationTime}:${st.getLen}")
          .toSeq
      } catch { case _: java.io.IOException => Seq(s"$f@?") }
    }.sorted.mkString("\n")

  /** The memo itself: the value of `compute` for (`input`, `tag`) under
    * the key rule above, computed on the first call and served to every
    * later one. `compute` receives whether its value will be KEPT for
    * the run — false for an in-memory input, which is computed fresh and
    * never stored, so it must not pin anything. */
  private[ops] def memo[V](input: DataFrame, tag: String)(compute: Boolean => V): V =
    stampedFiles(input) match {
      case None => compute(false)
      case Some(fs) =>
        val key = (System.identityHashCode(input.sparkSession), fs,
          input.queryExecution.analyzed.canonicalized.toString, tag)
        cache.computeIfAbsent(key, _ => new Cell(() => compute(true)))
          .value.asInstanceOf[V]
    }

  /** Return the memoized derivation of `input` for `tag`, computing and
    * persisting it on first use. */
  def cached(input: DataFrame, tag: String)(compute: => DataFrame): DataFrame =
    memo(input, tag) { kept =>
      if (!kept) compute
      else {
        // snapshot the RDD pins around compute + FIRST materialization:
        // checkpoint lineage registers during the compute, the frame's
        // own cache buffer at its first action (see protectedIds), and
        // the count() pulls that inside the window at no extra cost
        // (the first consumer was about to materialize anyway). The
        // delta protects EVERYTHING new: a lineage walk from toRdd
        // cannot see a BroadcastHashJoin's build side (its own RDD DAG),
        // so "unreachable = dead" once released live checkpoint pins
        // (r14). Looping derivations release superseded checkpoints at
        // the source instead (GraphOps' k-core peel). A stale pin here
        // costs idle storage; a wrongly released one is data loss.
        val sc = input.sparkSession.sparkContext
        val before = sc.getPersistentRDDs.keySet
        val df = compute.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        sc.getPersistentRDDs.keysIterator
          .filterNot(before).foreach(protectedIds.add(_))
        df
      }
    }

  /** Run-scoped ON-DISK staging for the file-source streaming twins:
    * a twin's source directory (`QShared.tableStream`) or model
    * relations are written before the stream starts, and without the
    * memo that staging re-ran on EVERY bench pass — so a "warm" sample
    * measured input copying, not micro-batch execution. `write` fills
    * a fresh [[graft.Scratch]] directory (per-JVM, deleted at exit):
    * nothing persists across runs. */
  def cachedPath(input: DataFrame, tag: String)(write: String => Unit): String =
    memo(input, tag) { _ =>
      val d = graft.Scratch.dir(tag)
      write(d); d
    }

  /** Test/maintenance hook: drop every memo entry, unpersisting the
    * frames (e.g. after overwriting a parquet table in place mid-JVM). */
  private[graft] def clear(): Unit = {
    import scala.jdk.CollectionConverters._
    // only MATERIALIZED cells — forcing a pending lazy val here would
    // run its whole Spark job just to drop the result
    val frames = cache.values.asScala.filter(_.built).map(_.value)
      .collect { case d: Dataset[_] => d }
    // release the TRACKED pins too, not just the memo frames: the
    // protected delta also holds checkpoint-lineage RDDs (the pair kernels'
    // localCheckpoint blocks) that nothing else will ever unpersist —
    // clearing only the id SET would orphan them as permanently cached
    // dead blocks for the JVM lifetime (review r13)
    val ids = protectedIds.asScala.toSet
    frames.map(_.sparkSession.sparkContext).toSet[org.apache.spark.SparkContext]
      .foreach { sc =>
        try sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (ids(id)) rdd.unpersist(blocking = false)
        } catch { case _: IllegalStateException => () /* context stopped */ }
      }
    frames.foreach { d =>
      try d.unpersist()
      catch { case _: IllegalStateException => () /* session stopped */ }
    }
    cache.clear()
    protectedIds.clear()
  }

  /** Number of live entries (spec observability). */
  private[graft] def size: Int = cache.size
}

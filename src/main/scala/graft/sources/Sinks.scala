package graft.sources

import org.apache.spark.sql.DataFrame

/** Sink helpers (SURVEY §2.1 S4-S5).
  *
  * The reference writes Snappy Avro containers everywhere
  * (JobExtractTransform.java:67-71); this environment ships no
  * spark-avro module, so Avro is routed through the generic writer and
  * the harness standardizes on Parquet (also Snappy). ORC/CSV/JSON come
  * free from the DataFrameWriter surface.
  */
object Sinks {

  /** Snappy-compressed columnar write, format ∈ {parquet, orc}. */
  def writeColumnar(df: DataFrame, path: String, format: String = "parquet"): Unit =
    df.write.mode("overwrite").format(format).option("compression", "snappy").save(path)

  /** Line-format write (csv with header, or json). */
  def writeLines(df: DataFrame, path: String, format: String = "csv"): Unit = {
    val w = df.write.mode("overwrite").format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  /** Bucketed table write: pre-hash-partitioned and sorted on the join
    * key, so equi-joins and aggregations on `bucketCols` plan with NO
    * shuffle on this side. Requires a table catalog (`saveAsTable`) —
    * buckets are metadata, plain files can't carry them.
    */
  def writeBucketed(
      df: DataFrame, table: String, buckets: Int, bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet").saveAsTable(table)

  /** Morton/Z-order value of `cols` — bit-interleaving of the
    * low `bits` bits of each column (column j contributes bit i at
    * output position i·n + j), the multi-dimensional locality key
    * behind Z-ordered data layouts: rows close in EVERY dimension get
    * close z-values, so range-sorting by z clusters them into the
    * same files and per-file min/max column statistics become tight
    * on ALL z-columns at once. Inputs must already be non-negative
    * integers below 2^bits (rank/bucket-encode upstream — a
    * percentile encoding is a one-pass approxQuantile bucketing);
    * 2 cols × 16 bits fills 32 output bits, well inside the long.
    * Pure shift/mask column arithmetic — codegen'd, zero shuffle.
    */
  def zOrderValue(cols: Seq[org.apache.spark.sql.Column], bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val n = cols.size
    require(n >= 1 && n * bits <= 63, s"$n cols x $bits bits overflow a long")
    cols.zipWithIndex.map { case (c, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Hilbert-curve index of a 2-D point — the stronger-locality
    * sibling of [[zOrderValue]] (a Hilbert traversal never makes the
    * long diagonal jumps Morton makes at quadrant boundaries, so
    * consecutive indices are ALWAYS unit Manhattan steps and file
    * boxes come out tighter; SinksSpec proves the adjacency property
    * over the full grid). Classic xy2d bit-twiddling (Hamilton's
    * formulation) as a FOLD over the bit levels with (x, y, d) struct
    * state. The fold shape matters (measured, r15): a plan-build-time
    * unroll duplicates the previous level's (x, y) in every rotation
    * branch, so the expression tree grows ~3^bits, blows the codegen
    * size limit and INTERPRETS a ~700-node tree per row — 4.1 s at
    * sf0.1 vs 0.15 s for the Morton key. The fold keeps the
    * expression LINEAR in `bits` (the per-level constants ride as a
    * literal array); the lambda itself is interpreted, but it is ~40
    * arithmetic ops × `bits` per row — measured back at Morton-key
    * cost. Zero shuffle either way. d spans [0, 4^bits), so
    * `bits ≤ 30` keeps it in a long.
    */
  def hilbertValue(
      xCol: org.apache.spark.sql.Column, yCol: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{aggregate, array, lit, struct, when}
    require(bits >= 1 && bits <= 30, s"bits=$bits outside [1, 30]")
    val svals = array((0 until bits).reverse.map(i => lit(1L << i)): _*)
    val init = struct(xCol.cast("long").as("x"), yCol.cast("long").as("y"),
      lit(0L).as("d"))
    aggregate(svals, init, (st, s) => {
      val x = st.getField("x")
      val y = st.getField("y")
      val rx = when(x.bitwiseAND(s) > 0, 1L).otherwise(0L)
      val ry = when(y.bitwiseAND(s) > 0, 1L).otherwise(0L)
      val nd = st.getField("d") + s * s * (lit(3L) * rx).bitwiseXOR(ry)
      val nx = when(ry === 0,
        when(rx === 1, s - lit(1L) - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0,
        when(rx === 1, s - lit(1L) - x).otherwise(x)).otherwise(y)
      struct(nx.as("x"), ny.as("y"), nd.as("d"))
    }).getField("d")
  }

  /** N-dimensional Hilbert index via Skilling's transform ("Programming
    * the Hilbert curve", AIP Conf. Proc. 707, 2004) — the 3-plus-column
    * generalization of [[hilbertValue]] (VERDICT r15 #5: zOrderValue is
    * N-D but the stronger-locality Hilbert key was 2-D only). Skilling's
    * formulation is two bit-level sweeps over the coordinate vector —
    * an "inverse undo" of the per-quadrant rotations, then a Gray
    * decode with a parity correction — followed by MSB-first bit
    * interleave; every step is shift/mask/xor integer arithmetic, so
    * the DuckDB twin replays it level-for-level (generated SQL, the
    * hilbertOracleSql device) and SinksSpec proves the same adjacency
    * property as 2-D: consecutive indices are unit Manhattan steps
    * over the full N-D grid.
    *
    * Expression shape (the r15 codegen-size lesson): the level loop is
    * a runtime `aggregate` FOLD over a literal level array with the
    * coordinate vector as struct state — LINEAR in `bits`, not the
    * 3^bits plan-time unroll that blew the 2-D key's first cut. All
    * post-loop steps run inside the fold's `finish` lambda, where the
    * final struct and the parity term bind ONCE as lambda variables
    * instead of re-evaluating per reference. Inputs must be
    * non-negative integers below 2^bits (rank- or bucket-encode
    * upstream); the index spans [0, 2^(n*bits)), so n*bits <= 63.
    */
  def hilbertValueN(
      cols: Seq[org.apache.spark.sql.Column],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{aggregate, array, lit, shiftleft, shiftright, struct, when}
    val n = cols.size
    require(n >= 2, s"hilbertValueN needs >= 2 columns, got $n")
    require(bits >= 2 && n * bits <= 63,
      s"$n cols x $bits bits outside [2, 63] total index bits")
    val names = (0 until n).map(i => s"x$i")
    // M = 2^(bits-1) down to 2 — Skilling's Q loop
    val qvals = array(((bits - 1) to 1 by -1).map(k => lit(1L << k)): _*)
    val init = struct(cols.zip(names).map {
      case (c, nm) => c.cast("long").as(nm) }: _*)
    aggregate(qvals, init,
      (st, q) => {
        val p = q - lit(1L)
        var xs: Seq[org.apache.spark.sql.Column] = names.map(st.getField)
        for (i <- 0 until n) {
          val hi = xs(i).bitwiseAND(q) =!= 0
          if (i == 0)
            // exchange with itself is the identity — only the invert arm acts
            xs = xs.updated(0, when(hi, xs(0).bitwiseXOR(p)).otherwise(xs(0)))
          else {
            val t = xs(0).bitwiseXOR(xs(i)).bitwiseAND(p)
            val nx0 = when(hi, xs(0).bitwiseXOR(p)).otherwise(xs(0).bitwiseXOR(t))
            val nxi = when(hi, xs(i)).otherwise(xs(i).bitwiseXOR(t))
            xs = xs.updated(0, nx0).updated(i, nxi)
          }
        }
        struct(xs.zip(names).map { case (c, nm) => c.as(nm) }: _*)
      },
      st => {
        // Gray decode: g_i = x_0 ^ ... ^ x_i (st fields are bound refs)
        val g = names.map(st.getField)
          .scanLeft(lit(0L))((acc, x) => acc.bitwiseXOR(x)).drop(1)
        // parity correction from the top coordinate's bits
        val tAgg = aggregate(qvals, lit(0L), (acc, q) =>
          when(g.last.bitwiseAND(q) =!= 0, acc.bitwiseXOR(q - lit(1L)))
            .otherwise(acc))
        // bind t once, then MSB-first interleave: bit k of coord i
        // lands at position k*n + (n-1-i)
        aggregate(array(tAgg), lit(0L), (acc, t) =>
          (for (i <- 0 until n; k <- 0 until bits) yield
            shiftleft(shiftright(g(i).bitwiseXOR(t), k).bitwiseAND(lit(1L)),
              k * n + (n - 1 - i))).foldLeft(acc)(_ bitwiseOR _))
      })
  }

  // --------------------------------------------------------------
  // Manifest snapshot protocol (VERDICT r16 next #1): atomic
  // visibility for layout tables
  // --------------------------------------------------------------

  /** Test seam: invoked with a short tag before every mutating
    * FileSystem operation of the snapshot protocol. SinksSpec's
    * crash-injection test throws at each successive op index and
    * asserts a reader always sees exactly the old or the new
    * snapshot — never a mix, never missing rows. Production cost:
    * one no-op lambda call per (rare, driver-side) FS mutation.
    */
  private[graft] var fsOpHook: String => Unit = _ => ()

  private val ManifestName = "manifest-v([0-9]+)".r

  /** Visible DATA files only: dot/underscore temporaries, manifests,
    * and bloom sidecars are table metadata — a listing that feeds a
    * parquet reader or a manifest's file list must never pick them up
    * (a crashed init retry once listed a staged `bloom-*` sidecar as
    * data; review r17). */
  private def isDataFile(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".") && !n.startsWith("bloom-") &&
      !ManifestName.pattern.matcher(n).matches()

  private def fsFor(
      spark: org.apache.spark.sql.SparkSession, path: String) = {
    val dir = new org.apache.hadoop.fs.Path(path)
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** Newest committed manifest version under `dir`, if the table is
    * snapshot-managed. Readers resolve THIS, then read exactly the
    * files it lists — a half-finished maintenance pass (staged files,
    * hidden files, unpublished manifests) is invisible by
    * construction.
    */
  def latestManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }
      .sorted.lastOption

  /** Per-column [min, max] of one data file as carried in its
    * manifest line — the driver-side statistic behind
    * [[readTableWhere]]'s file skipping (the Iceberg/Delta device: at
    * 100 TB the win is not reading less of a file but never LISTING
    * or OPENING 99% of them — parquet row-group stats still require
    * one footer read per file, the manifest line requires none).
    * `kind`: 'L' integral, 'D' floating (floats are widened to double
    * at collection — exact), 'S' string (compared in UTF-8 byte
    * order, matching Spark's and parquet's binary collation, not
    * java.lang.String's UTF-16 order). min/max hold the decoded
    * values in canonical string form.
    */
  final case class ColRange(kind: Char, min: String, max: String) {
    private def utf8Cmp(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    private def asL(v: Any): Long = v match {
      case n: Long => n
      case n: Int => n.toLong
      case n: Short => n.toLong
      case n: Byte => n.toLong
      case other => throw new IllegalArgumentException(
        s"integral bound expected, got $other (${other.getClass.getName})")
    }
    private def asD(v: Any): Double = v match {
      case n: Double => n
      case n: Float => n.toDouble
      case n: Long => n.toDouble
      case n: Int => n.toDouble
      case other => throw new IllegalArgumentException(
        s"numeric bound expected, got $other (${other.getClass.getName})")
    }

    /** Conservative intersection test of this file's range with the
      * inclusive query interval [lo, hi] — false ONLY when the file
      * provably holds no matching row. */
    def overlaps(lo: Any, hi: Any): Boolean = kind match {
      case 'L' => !(max.toLong < asL(lo) || min.toLong > asL(hi))
      case 'D' => !(max.toDouble < asD(lo) || min.toDouble > asD(hi))
      case 'S' =>
        !(utf8Cmp(max, lo.toString) < 0 || utf8Cmp(min, hi.toString) > 0)
      case other =>
        throw new IllegalStateException(s"unknown stat kind '$other'")
    }
  }

  /** Pointer to a per-file Bloom sidecar: `file` (relative to the
    * table dir) holds the m-bit Kirsch–Mitzenmacher bitset over one
    * column's values of ONE data file — the point-lookup complement
    * of [[ColRange]] stats (a range prunes nothing for `key = v` on a
    * column the layout isn't sorted by; the bloom answers "provably
    * absent from this file" in m/8 bytes read driver-side). Sidecars
    * are referenced BY the manifest like data files. */
  final case class BloomRef(file: String, mBits: Int, k: Int)

  /** Bloom-sidecar build request for the snapshot writers: one filter
    * per column in `cols` (integral or string), 2^mBits bits, k
    * probes. fpp ≈ (1 − e^(−k·n/m))^k for n distinct values per data
    * file — the default 2^20 bits / k=5 holds fpp < 1e-6 up to ~10k
    * values per file and < 1% up to ~100k, at 128 KiB per sidecar. */
  final case class BloomSpec(cols: Seq[String], mBits: Int = 20, k: Int = 5)

  /** One manifest line: a data file (name relative to the table dir)
    * plus its optional per-column ranges and Bloom sidecar refs. */
  final case class ManifestEntry(
      name: String, stats: Map[String, ColRange],
      blooms: Map[String, BloomRef] = Map.empty)

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def dec(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  /** Manifest line format (versioned by shape, backward compatible):
    * `name` alone, or `name<TAB>tok<TAB>…` where each tok is either a
    * range stat `col=K:encMin:encMax` (K the [[ColRange]] kind) or a
    * Bloom sidecar ref `col=B:mBits:k:encFile`; enc is URL-encoding
    * (so values carry no tab/newline/colon). Lines starting with `#`
    * are headers (`#kind=append|init|compact|replace`,
    * `#txn=app:batch`), skipped by the entry parser and read by
    * [[manifestKind]]/[[lastCommittedBatch]].
    */
  private def serializeEntry(e: ManifestEntry): String = {
    require(!e.name.contains('\t') && !e.name.contains('\n'),
      s"file name ${e.name} cannot be carried in a manifest line")
    def ckCol(c: String): String = {
      require(!c.contains('=') && !c.contains('\t'),
        s"column name $c cannot be carried in a manifest stat")
      c
    }
    val toks =
      e.stats.toSeq.sortBy(_._1).map { case (c, r) =>
        s"${ckCol(c)}=${r.kind}:${enc(r.min)}:${enc(r.max)}"
      } ++ e.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
        s"${ckCol(c)}=B:${b.mBits}:${b.k}:${enc(b.file)}"
      }
    (e.name +: toks).mkString("\t")
  }

  private def parseEntry(line: String): ManifestEntry = {
    val toks = line.split('\t')
    var stats = Map.empty[String, ColRange]
    var blooms = Map.empty[String, BloomRef]
    toks.tail.foreach { t =>
      val eq = t.indexOf('=')
      require(eq > 0, s"malformed manifest stat token '$t'")
      val col = t.substring(0, eq)
      // limit -1: split must KEEP trailing empty fields — enc("") is
      // empty, so a string stat over empty values serializes as
      // 'col=S::' and the default split would drop both bounds
      val parts = t.substring(eq + 1).split(":", -1)
      parts(0) match {
        case "B" =>
          require(parts.length == 4, s"malformed manifest bloom token '$t'")
          blooms += col -> BloomRef(dec(parts(3)), parts(1).toInt, parts(2).toInt)
        case k if k.length == 1 && parts.length == 3 =>
          stats += col -> ColRange(k.charAt(0), dec(parts(1)), dec(parts(2)))
        case _ => throw new IllegalArgumentException(
          s"malformed manifest stat token '$t'")
      }
    }
    ManifestEntry(toks.head, stats, blooms)
  }

  private def manifestLines(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, version: Long): Seq[String] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, s"manifest-v$version"))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The data-file entries (names + optional column ranges) listed by
    * manifest `version`, in manifest (= key) order. */
  def manifestEntries(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, version: Long): Seq[ManifestEntry] =
    manifestLines(fs, dir, version).filterNot(_.startsWith("#")).map(parseEntry)

  /** The commit kind recorded in manifest `version`'s header —
    * `append` / `init` / `compact` / `replace` — or None for a
    * pre-header manifest. [[readTableChanges]] keys its exactness
    * check on this. */
  def manifestKind(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, version: Long): Option[String] =
    manifestLines(fs, dir, version)
      .find(_.startsWith("#kind=")).map(_.stripPrefix("#kind="))

  /** The file names (relative to `dir`, one per line, in manifest
    * order) listed by manifest `version`. */
  def manifestFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, version: Long): Seq[String] =
    manifestEntries(fs, dir, version).map(_.name)

  /** Atomically publish manifest `expectedVersion + 1` listing
    * `entries` (file names relative to `dir`, with optional per-file
    * column ranges and Bloom refs) under a commit-kind header — the
    * manifest form [[initSnapshot]]/[[appendSnapshot]] publish. The
    * commit point is ONE same-directory rename of a fully-written
    * dot-file — atomic on HDFS and POSIX local FS — so a crash at any
    * earlier step leaves the previous manifest authoritative and a
    * crash after it leaves the new one fully published; there is no
    * state in between. Optimistic concurrency: if `expectedVersion + 1`
    * already exists (a racing committer won), the commit FAILS
    * loudly — retry against the new snapshot. */
  def commitEntries(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      expectedVersion: Long, entries: Seq[ManifestEntry],
      kind: String, txn: Option[(String, Long)] = None): Long = {
    val next = expectedVersion + 1
    val target = new org.apache.hadoop.fs.Path(dir, s"manifest-v$next")
    require(!fs.exists(target),
      s"commit: manifest-v$next already exists under $dir — a " +
        "concurrent committer won; re-resolve the latest snapshot and retry")
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".manifest-tmp-${java.util.UUID.randomUUID}")
    fsOpHook(s"manifest-write:$next")
    val headers = s"#kind=$kind" +:
      txn.toSeq.map { case (app, bid) => s"#txn=${enc(app)}:$bid" }
    val out = fs.create(tmp, false)
    try out.write(
      (headers ++ entries.map(serializeEntry)).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fsOpHook(s"manifest-commit:$next")
    // publish through FileContext with the no-overwrite flag: on HDFS
    // this rename atomically FAILS if the target exists, closing the
    // check-then-rename race two committers could otherwise win
    // simultaneously (FileSystem.rename on a POSIX local FS maps to
    // rename(2), which silently REPLACES an existing target — review
    // r17). On the local FS the no-overwrite check is re-done inside
    // FileContext just before the rename — not truly atomic, but
    // local mode means a single driver; the multi-writer 100 TB story
    // runs on HDFS/object-store semantics where this IS atomic.
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.makeQualified(dir).toUri, fs.getConf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(target),
        org.apache.hadoop.fs.Options.Rename.NONE)
    } catch {
      case e: java.io.IOException =>
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"commit: publishing manifest-v$next under $dir failed " +
            s"(concurrent committer or FS error: ${e.getMessage}); " +
            "snapshot unchanged", e)
    }
    next
  }

  /** Bring an existing layout directory (written by this module's
    * layout writers — name order = key order) under snapshot
    * management: publish manifest-v1 listing the current visible part
    * files in name order. From then on, writers stage files and
    * publish them with one manifest swap, and [[readTable]] readers
    * never observe a half-written snapshot.
    */
  def initSnapshot(
      spark: org.apache.spark.sql.SparkSession, path: String,
      statsCols: Seq[String] = Seq.empty,
      bloom: Option[BloomSpec] = None): Long = {
    val (fs, dir) = fsFor(spark, path)
    require(latestManifest(fs, dir).isEmpty,
      s"initSnapshot: $path is already snapshot-managed")
    val names = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .map(_.getPath.getName).sorted
    require(names.nonEmpty, s"initSnapshot: no data files under $path")
    val (stats, bloomBits) = collectFileMeta(spark, path, names, statsCols, bloom)
    val blooms = stageBlooms(fs, dir, bloomBits, bloom)
    commitEntries(fs, dir, 0L,
      names.map(n => ManifestEntry(n, stats.getOrElse(n, Map.empty),
        blooms.getOrElse(n, Map.empty))),
      kind = "init")
  }

  /** One pass for everything a manifest entry records about a file:
    * min/max ranges on `statsCols` AND bloom bitsets on `bloom.cols`,
    * from a SINGLE job grouped by `input_file_name` (a separate scan
    * per family would read the freshly staged data twice per append;
    * review r17). Files are processed in bounded groups to cap driver
    * memory (each file's bloom is m/8 bytes on the wire).
    */
  private def collectFileMeta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      names: Seq[String], statsCols: Seq[String], bloom: Option[BloomSpec]):
      (Map[String, Map[String, ColRange]], Map[String, Map[String, Array[Long]]]) = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min, udaf}
    import org.apache.spark.sql.types._
    val bloomCols = bloom.map(_.cols).getOrElse(Seq.empty)
    if ((statsCols.isEmpty && bloomCols.isEmpty) || names.isEmpty)
      return (Map.empty, Map.empty)
    val probe = spark.read.parquet(names.map(n => s"$path/$n"): _*)
    val kinds: Seq[(String, Char)] = statsCols.map { c =>
      val k = probe.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => 'L'
        case FloatType | DoubleType => 'D'
        case StringType => 'S'
        case other => throw new IllegalArgumentException(
          s"snapshot stats: unsupported stat column type $other for $c " +
            "(supported: integral, float/double, string)")
      }
      c -> k
    }
    bloomCols.foreach { c =>
      probe.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => ()
        case other => throw new IllegalArgumentException(
          s"snapshot blooms: unsupported bloom column type $other for $c " +
            "(supported: integral, string)")
      }
    }
    val statAggs = kinds.flatMap { case (c, k) =>
      val base = if (k == 'D') col(c).cast("double") else col(c)
      Seq(min(base).as(s"__min_$c"), max(base).as(s"__max_$c"))
    }
    val bloomAggs = bloomCols.map { c =>
      val (h1, h2) = bloomHashExprs(col(c))
      val u = udaf(new graft.functions.BloomBitsAgg(bloom.get.k, bloom.get.mBits))
      u(h1, h2).as(s"__bloom_$c")
    }
    val aggs = statAggs ++ bloomAggs
    val stats = scala.collection.mutable.Map.empty[String, Map[String, ColRange]]
    val blooms = scala.collection.mutable.Map.empty[String, Map[String, Array[Long]]]
    names.grouped(64).foreach { group =>
      val df = spark.read.parquet(group.map(n => s"$path/$n"): _*)
      val rows = df.groupBy(input_file_name().as("__file"))
        .agg(aggs.head, aggs.tail: _*).collect()
      rows.foreach { r =>
        val fname = r.getString(0).split('/').last
        stats += fname -> kinds.zipWithIndex.flatMap { case ((c, k), i) =>
          val mn = r.get(1 + 2 * i)
          val mx = r.get(2 + 2 * i)
          if (mn == null || mx == null) None
          else Some(c -> ColRange(k, mn.toString, mx.toString))
        }.toMap
        blooms += fname -> bloomCols.zipWithIndex.map { case (c, i) =>
          c -> r.getSeq[Long](1 + 2 * kinds.size + i).toArray
        }.toMap
      }
    }
    (stats.toMap, blooms.toMap)
  }

  // ---- Bloom sidecars: point-lookup pruning ----------------------

  /** The bloom hash family, shared between the build column and the
    * driver-side probe: both Kirsch–Mitzenmacher base hashes are
    * xxhash64 (seed 42, the `functions.xxhash64` default) of a
    * distinguishing int tag and the value's STRING form — casting to
    * string on the build side and `toString` on the probe side agree
    * for the supported integral/string columns, which is what pins the
    * two sides to identical bits. */
  private def bloomHashExprs(c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    (xxhash64(lit(1), c.cast("string")), xxhash64(lit(2), c.cast("string")))
  }

  private def bloomHashValue(tag: Int, v: Any): Long = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(Seq(Literal(tag), Literal(v.toString)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
  }

  /** Sidecar naming: a DISTINCT `bloom-` prefix, never a suffix on the
    * data file's name — a `part-*`-globbing reader or size scan must
    * not mistake a 128 KiB bitset for a parquet file. */
  private def bloomSidecarName(dataFile: String, col: String): String =
    s"bloom-$col-$dataFile"

  private val BloomMagic = 0x47424c31 // "GBL1"

  private def writeBloomSidecar(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      name: String, mBits: Int, k: Int, bits: Array[Long]): Unit = {
    fsOpHook(s"bloom-write:$name")
    // overwrite = true: a sidecar at this name is residue of a crashed
    // attempt at the same commit
    val out = new java.io.DataOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(dir, name), true))
    try {
      out.writeInt(BloomMagic); out.writeInt(mBits); out.writeInt(k)
      bits.foreach(out.writeLong)
    } finally out.close()
  }

  private def readBloomSidecar(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      name: String): (Int, Int, Array[Long]) = {
    val in = new java.io.DataInputStream(
      fs.open(new org.apache.hadoop.fs.Path(dir, name)))
    try {
      require(in.readInt() == BloomMagic, s"$name is not a bloom sidecar")
      val mBits = in.readInt(); val k = in.readInt()
      val bits = Array.fill(1 << (mBits - 6))(in.readLong())
      (mBits, k, bits)
    } finally in.close()
  }

  /** Process-wide decoded-sidecar LRU so repeated point lookups pay the
    * FS read once per sidecar, not once per call (review r17). Safe to
    * cache by name: sidecar names embed their data file's name, and
    * append file names embed a UUID (never reused). 256 entries
    * ≈ 32 MiB at the default 2^20 bits. */
  private val sidecarCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Int, Int, Array[Long])](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Int, Int, Array[Long])]): Boolean =
        size() > 256
    })

  private def readBloomSidecarCached(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      name: String): (Int, Int, Array[Long]) = {
    val key = s"${fs.makeQualified(dir)}/$name"
    val hit = sidecarCache.get(key)
    if (hit != null) hit
    else {
      val v = readBloomSidecar(fs, dir, name)
      sidecarCache.put(key, v)
      v
    }
  }

  /** Stage the sidecars for pre-collected per-file bitsets and return
    * the manifest refs to attach — shared by the snapshot writers. */
  private def stageBlooms(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      byFile: Map[String, Map[String, Array[Long]]],
      bloom: Option[BloomSpec]): Map[String, Map[String, BloomRef]] =
    bloom match {
      case None => Map.empty
      case Some(spec) =>
        byFile.map { case (f, byCol) =>
          f -> byCol.map { case (c, bits) =>
            val sc = bloomSidecarName(f, c)
            writeBloomSidecar(fs, dir, sc, spec.mBits, spec.k, bits)
            c -> BloomRef(sc, spec.mBits, spec.k)
          }
        }
    }

  /** Write a (layout) frame and bring it under snapshot management in
    * one step: publishes manifest-v1 over the freshly-written part
    * files (name order = key order), after which appends go through
    * atomic manifest swaps and [[readTable]] readers never observe a
    * half-written snapshot. Returns the committed version.
    */
  def writeLayoutSnapshot(
      df: DataFrame, path: String, statsCols: Seq[String] = Seq.empty,
      bloom: Option[BloomSpec] = None): Long = {
    writeColumnar(df, path)
    initSnapshot(df.sparkSession, path, statsCols, bloom)
  }

  /** Snapshot-aware table read: resolve the newest manifest and read
    * exactly the files it lists (in manifest = key order); a
    * directory without a manifest falls back to the plain parquet
    * read. This is the ONLY read path that is immune to concurrent
    * writers — a plain directory listing can catch the staged files
    * of an in-flight append.
    */
  def readTable(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val (fs, dir) = fsFor(spark, path)
    latestManifest(fs, dir) match {
      case Some(v) =>
        val files = manifestFiles(fs, dir, v).map(n => s"$path/$n")
        spark.read.parquet(files: _*)
      case None => spark.read.parquet(path)
    }
  }

  /** All committed snapshot versions under `dir`, ascending. */
  def snapshotVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }.sorted

  /** Time-travel read: the table exactly as manifest `version`
    * committed it. No writer deletes a file a manifest references,
    * so every committed snapshot stays readable (the
    * audit/reproducibility property a training pipeline needs:
    * re-read the exact table a run trained on).
    */
  def readTableAsOf(
      spark: org.apache.spark.sql.SparkSession, path: String,
      version: Long): DataFrame = {
    val (fs, dir) = fsFor(spark, path)
    require(snapshotVersions(fs, dir).contains(version),
      s"readTableAsOf: snapshot v$version is not retained under $path " +
        s"(retained: ${snapshotVersions(fs, dir).mkString(",")})")
    val files = manifestFiles(fs, dir, version).map(n => s"$path/$n")
    spark.read.parquet(files: _*)
  }

  /** Result of a stats-pruned snapshot read: the surviving files'
    * rows, plus the prune arithmetic a caller can assert or publish.
    * `df` holds ALL rows of the kept files — pruning is a
    * FILE-skipping hint, not a row filter; apply the real predicate
    * downstream (a kept file may hold non-matching rows, a pruned
    * file provably holds none). */
  final case class PruneResult(df: DataFrame, filesTotal: Int, filesRead: Int)

  /** Snapshot read with manifest-level data skipping: drop every file
    * whose recorded [min, max] on EVERY `preds` column misses the
    * inclusive [lo, hi] interval. Files without a recorded range for
    * a predicate column are KEPT (conservative), so the result is
    * always row-equal to `readTable(...).filter(preds)` once the
    * caller applies the same predicate. This is the 100 TB read path:
    * the prune runs on the driver against the manifest alone — no
    * file listing, no parquet footers — so a selective query on a
    * 100k-file layout table plans in milliseconds and schedules tasks
    * only for the files that can match (parquet row-group stats then
    * skip WITHIN the survivors).
    */
  def readTableWhere(
      spark: org.apache.spark.sql.SparkSession, path: String,
      preds: Map[String, (Any, Any)],
      eq: Map[String, Any] = Map.empty): PruneResult = {
    val (fs, dir) = fsFor(spark, path)
    val v = latestManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"readTableWhere: $path is not snapshot-managed — run initSnapshot " +
          "with statsCols first"))
    val entries = manifestEntries(fs, dir, v)
    // point predicates pre-hash once; sidecars read at most once each.
    // Only integral/string probe values are accepted — the hash family
    // is defined over the value's canonical string form, and e.g. a
    // Double probe of a bigint column ("137.0" vs "137") would silently
    // exclude every file instead of failing (review r17)
    val eqHashes = eq.map { case (c, x) =>
      x match {
        case _: Long | _: Int | _: Short | _: Byte | _: String => ()
        case other => throw new IllegalArgumentException(
          s"readTableWhere: eq probe for $c must be integral or string " +
            s"(the bloom hash domain), got $other (${other.getClass.getName})")
      }
      c -> (x, bloomHashValue(1, x), bloomHashValue(2, x))
    }
    val kept = entries.filter { e =>
      preds.forall { case (c, (lo, hi)) =>
        e.stats.get(c).forall(_.overlaps(lo, hi))
      } && eqHashes.forall { case (c, (x, h1, h2)) =>
        // a point lookup prunes through the range stat when present
        // AND the Bloom sidecar when present — both conservative
        e.stats.get(c).forall(_.overlaps(x, x)) &&
          e.blooms.get(c).forall { ref =>
            val (mBits, k, bits) = readBloomSidecarCached(fs, dir, ref.file)
            graft.functions.Bloom.mightContain(bits, k, mBits, h1, h2)
          }
      }
    }
    val df =
      if (kept.nonEmpty) spark.read.parquet(kept.map(e => s"$path/${e.name}"): _*)
      else {
        // zero survivors: serve an empty frame with the table's schema
        // (read one listed file's schema, emit no rows)
        import org.apache.spark.sql.functions.lit
        spark.read.parquet(s"$path/${entries.head.name}").filter(lit(false))
      }
    PruneResult(df, entries.size, kept.size)
  }

  /** Append-commit: stage `df`'s part files into the table directory
    * under fresh collision-free names (visible on disk but
    * unreferenced by the live manifest, so concurrent [[readTable]]
    * readers never see them early), then publish manifest v+1 =
    * previous entries ++ new entries in ONE atomic rename — the
    * ingest half of the snapshot protocol (readers flip from v to
    * v+1 with no intermediate state; a crash at any step leaves v
    * authoritative and only unreferenced residue). New files carry
    * min/max ranges on `statsCols` (one scan of the APPENDED data
    * only). Appended files join at the END of the manifest: a layout
    * table's global key-disjointness is intentionally relaxed by
    * ingest (stats stay exact per file, so [[readTableWhere]] pruning
    * stays correct) and restored by the next re-layout pass. Names
    * embed a UUID, not just the version: two racing appenders must
    * never stage over each other's files — the loser's commit fails
    * on the version check and its staged files stay unreferenced
    * orphans, never part of the winner's snapshot.
    */
  def appendSnapshot(
      df: DataFrame, path: String,
      statsCols: Seq[String] = Seq.empty,
      bloom: Option[BloomSpec] = None): Long = {
    val v = {
      val (fs, dir) = fsFor(df.sparkSession, path)
      latestManifest(fs, dir).getOrElse(
        throw new IllegalArgumentException(
          s"appendSnapshot: $path is not snapshot-managed — run initSnapshot first"))
    }
    appendCommit(df, path, v, statsCols, bloom, txn = None)
  }

  /** Stage `df`'s part files into the table dir under fresh
    * collision-free `append-v{next}-{uuid}-p*` names — visible on disk
    * but unreferenced by any manifest until a commit lists them. */
  private def stageAppend(
      df: DataFrame, fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, nextVersion: Long): Seq[String] = {
    val token = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".append-tmp-$token")
    writeColumnar(df, tmp.toString)
    val parts = fs.listStatus(tmp).toSeq
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .sortBy(_.getPath.getName)
    val named = parts.zipWithIndex.map { case (p, i) =>
      val name = f"append-v$nextVersion-$token-p$i%05d.parquet"
      fsOpHook(s"append-stage:$name")
      require(fs.rename(p.getPath, new org.apache.hadoop.fs.Path(dir, name)),
        s"appendSnapshot: staging $name failed")
      name
    }
    fs.delete(tmp, true)
    named
  }

  private def appendCommit(
      df: DataFrame, path: String, expectedVersion: Long,
      statsCols: Seq[String], bloom: Option[BloomSpec],
      txn: Option[(String, Long)]): Long = {
    val spark = df.sparkSession
    val (fs, dir) = fsFor(spark, path)
    val prior =
      if (expectedVersion == 0L) Seq.empty
      else manifestEntries(fs, dir, expectedVersion)
    val named = stageAppend(df, fs, dir, expectedVersion + 1)
    val (stats, bloomBits) = collectFileMeta(spark, path, named, statsCols, bloom)
    val blooms = stageBlooms(fs, dir, bloomBits, bloom)
    commitEntries(fs, dir, expectedVersion,
      prior ++ named.map(n => ManifestEntry(n, stats.getOrElse(n, Map.empty),
        blooms.getOrElse(n, Map.empty))),
      kind = "append", txn = txn)
  }

  /** The newest batch id a `#txn=appId:batchId` header records for
    * `appId` across the RETAINED manifests — how
    * [[appendSnapshotBatch]] recognizes a replayed micro-batch. */
  def lastCommittedBatch(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, appId: String): Option[Long] = {
    val tag = s"#txn=${enc(appId)}:"
    // bids are monotone per app in version order (a replayed bid never
    // commits), so the newest manifest carrying this app's tag holds
    // the max — scan newest-first and STOP there, instead of paying
    // O(retained versions × manifest size) driver I/O on every
    // micro-batch of a long-retention stream (review r17)
    snapshotVersions(fs, dir).reverseIterator
      .map(v => manifestLines(fs, dir, v).find(_.startsWith(tag)))
      .collectFirst { case Some(l) => l.stripPrefix(tag).toLong }
  }

  /** Exactly-once-effective streaming append — the `foreachBatch` sink
    * for snapshot tables. Structured Streaming replays a micro-batch
    * whose offsets did not commit (at-least-once), so the sink must
    * deduplicate by (query, batchId): each commit records its
    * `#txn=appId:batchId` header, and a call whose batchId is ≤ the
    * newest recorded for this appId is a REPLAY — skipped entirely,
    * returning the already-committed version. First call on an empty
    * directory bootstraps the table (manifest-v1). Everything else is
    * [[appendSnapshot]]: staged collision-free files + one atomic
    * manifest rename, min/max ranges on `statsCols`, so the ingested
    * table serves [[readTableWhere]] pruning and [[readTableChanges]]
    * capture from the first batch on.
    */
  def appendSnapshotBatch(
      df: DataFrame, path: String, appId: String, batchId: Long,
      statsCols: Seq[String] = Seq.empty,
      bloom: Option[BloomSpec] = None): Long = {
    val (fs, dir) = fsFor(df.sparkSession, path)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val v = latestManifest(fs, dir) match {
      case Some(ver) => ver
      case None =>
        // bootstrap is for an EMPTY directory only: committing
        // manifest-v1 over pre-existing plain parquet files would
        // orphan them out of every snapshot read (review r17) — an existing table
        // must opt in through initSnapshot. The protocol's own staged
        // residue (`append-v*` files a crashed first batch left
        // uncommitted) is exempt: it was never visible to any reader.
        require(!fs.listStatus(dir).exists(st =>
          st.isFile && isDataFile(st.getPath.getName) &&
            !st.getPath.getName.startsWith("append-v")),
          s"appendSnapshotBatch: $path holds data but no manifest — run " +
            "initSnapshot first (bootstrapping over it would orphan the " +
            "existing files)")
        0L
    }
    if (lastCommittedBatch(fs, dir, appId).exists(_ >= batchId)) v
    else appendCommit(df, path, v, statsCols, bloom, txn = Some((appId, batchId)))
  }

  /** Incremental (change-capture) read: exactly the rows committed
    * between snapshot `fromVersion` (exclusive) and `toVersion`
    * (inclusive) — the consumption primitive incremental dedup /
    * downstream refresh builds on (process each ingest batch once,
    * never rescan the table). Row-exact ONLY while every commit in
    * the interval is an [[appendSnapshot]] (`#kind=append`): a
    * rewrite commit (compaction, re-layout) REWRITES existing rows into
    * new files, which a file-level diff would replay as phantom inserts —
    * so any non-append commit in the interval fails loudly rather
    * than double-count (consume changes before a rewrite, or full
    * re-read across it; the same contract Iceberg's
    * incremental scan enforces).
    */
  def readTableChanges(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val (fs, dir) = fsFor(spark, path)
    val retained = snapshotVersions(fs, dir)
    require(fromVersion < toVersion,
      s"readTableChanges: need fromVersion < toVersion, got $fromVersion >= $toVersion")
    require(retained.contains(fromVersion) && retained.contains(toVersion),
      s"readTableChanges: versions ($fromVersion, $toVersion] not retained " +
        s"under $path (retained: ${retained.mkString(",")})")
    retained.filter(v => v > fromVersion && v <= toVersion).foreach { v =>
      val k = manifestKind(fs, dir, v)
      require(k.contains("append"),
        s"readTableChanges: snapshot v$v is kind=${k.getOrElse("unknown")} — " +
          "a file-level diff across a rewrite commit would replay existing " +
          "rows as inserts; consume changes before compaction or re-read in full")
    }
    val before = manifestFiles(fs, dir, fromVersion).toSet
    val added = manifestFiles(fs, dir, toVersion).filterNot(before)
    if (added.nonEmpty) spark.read.parquet(added.map(n => s"$path/$n"): _*)
    else {
      import org.apache.spark.sql.functions.lit
      readTableAsOf(spark, path, toVersion).filter(lit(false))
    }
  }

}

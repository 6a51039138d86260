package graft

import java.nio.file.{Files, Path, Paths}

/** Process-scoped scratch space for anything temporary: shuffle/spill
  * dirs and the write-side of roundtrip queries (csv/avro/partitioned
  * sinks). One root per JVM, recursively deleted by a shutdown hook —
  * `File.deleteOnExit` alone leaks non-empty directories, and Bench
  * executes each roundtrip query up to 2×/run, so /tmp would grow
  * without bound across repeated bench and verify runs.
  *
  * Lives on /dev/shm when present: this box's /tmp is a shared virtio
  * disk whose throughput swings ~10× with neighbor load (measured
  * 96-280 MB/s minutes apart, with multi-second stalls inside
  * BypassMergeSortShuffleWriter). Shuffle-through-page-cache is the
  * steady-state behavior of an adequately-provisioned cluster node
  * anyway; the bench's job is to measure the ENGINE.
  */
object Scratch {
  private lazy val root: Path = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.toPath
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val d = Files.createTempDirectory(base, "graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d.toFile)))
    d
  }

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** A fresh directory under the process scratch root. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private val localized =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Copy a test-data directory into tmpfs once per JVM and return the
    * copy's path. This box's disk has episodes where every UNCACHED read
    * runs at ~1.5 MB/s and the page cache is not retained (a proactive
    * reclaim daemon evicts it), so a 107-query sweep re-reads the same
    * parquet at crawl speed once per scan. tmpfs-resident pages stay
    * RAM-speed mid-episode — one slow copy beats hundreds of slow reads.
    * Falls back to the original path if the copy fails (e.g. read-only
    * source missing).
    */
  def localize(srcDir: String): String =
    localized.computeIfAbsent(srcDir, { src =>
      try {
        val s = new java.io.File(src)
        if (!s.isDirectory) src
        else {
          val dst = new java.io.File(dir("graft-sf"))
          copyRec(s, dst)
          dst.toString
        }
      } catch { case _: java.io.IOException => src }
    })

  private def copyRec(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      val kids = src.listFiles()
      if (kids != null)
        kids.foreach(k => copyRec(k, new java.io.File(dst, k.getName)))
    } else
      Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }
}

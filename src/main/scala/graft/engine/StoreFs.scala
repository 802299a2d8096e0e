package graft.engine

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Control-plane filesystem vocabulary for every store in the engine,
  * routed through `org.apache.hadoop.fs.FileSystem` — the ONE public API
  * that spans local disks, HDFS, and the object stores a 100 TB
  * deployment actually reads from (s3a/gs/abfs). The engine's data plane
  * has always been Hadoop-clean (Spark parquet reads/writes, the
  * connector's `HadoopInputFile`); this seam makes the PLANNING side
  * (catalog sidecars, directory listings, compaction swaps, commit
  * markers) equally scheme-agnostic, so a store root can be
  * `s3a://bucket/store` end to end instead of only `java.nio` paths.
  *
  * Conventions:
  *   - Paths are plain strings (the engine's store roots are strings
  *     everywhere); bare paths resolve against the active session's
  *     `fs.defaultFS` exactly like Spark's own sources, URIs pick their
  *     scheme's filesystem.
  *   - The Hadoop `Configuration` comes from the active `SparkContext`
  *     when a session exists (so `--conf spark.hadoop.*` credentials
  *     reach the control plane), else a vanilla `Configuration`.
  *   - Checksummed wrappers are unwrapped to the raw filesystem (see
  *     [[fs]]) so control-plane files survive out-of-band edits, and
  *     [[writeAtomic]] picks the scheme's atomic overwrite-rename.
  *
  * Rename contract (documented per scheme, same as Spark's committers):
  * directory renames are atomic on HDFS and local filesystems — the
  * compaction swap and sidecar replace rely on this. On S3A a "rename"
  * is a server-side copy, O(files) and not atomic; run compaction there
  * only in a quiesced window (the store's single-writer contract already
  * requires one) — correctness still holds because readers list
  * data files per scan and the sidecar swap is a single object PUT. */
object StoreFs {

  /** Active session's Hadoop conf (public `sparkContext.hadoopConfiguration`
    * — carries `spark.hadoop.*` overrides), else a fresh default conf. */
  def conf(): Configuration =
    try SparkSession.active.sparkContext.hadoopConfiguration
    catch { case _: IllegalStateException => fallbackConf }

  private lazy val fallbackConf = new Configuration()

  /** The path's filesystem, UNWRAPPED to the raw FS when Hadoop hands back
    * a checksummed wrapper (local `file://` does): the control plane must
    * tolerate out-of-band edits to sidecar files (operators DO edit
    * `catalog.json`), and a ChecksumFileSystem turns any such edit into a
    * `ChecksumException` on the next read via its `.crc` sidecars. Real
    * distributed filesystems (HDFS, object stores) checksum internally and
    * are not ChecksumFileSystem wrappers — they pass through untouched. */
  def fs(p: String): FileSystem =
    new Path(p).getFileSystem(conf()) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  /** Same resolution against an EXPLICIT conf — the executor-side entry
    * point (no active session there; callers ship the driver's conf via
    * `SerializableConfiguration` so object-store credentials arrive). */
  def fsWith(p: String, c: Configuration): FileSystem =
    new Path(p).getFileSystem(c) match {
      case cs: org.apache.hadoop.fs.ChecksumFileSystem => cs.getRawFileSystem
      case other => other
    }

  def readBytesWith(p: String, c: Configuration): Array[Byte] = {
    val f = fsWith(p, c)
    val hp = new Path(p)
    val len = f.getFileStatus(hp).getLen
    require(len <= Int.MaxValue, s"file too large to slurp: $p ($len bytes)")
    val buf = new Array[Byte](len.toInt)
    val in = f.open(hp)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  def exists(p: String): Boolean = fs(p).exists(new Path(p))

  def isDirectory(p: String): Boolean = {
    val f = fs(p)
    val hp = new Path(p)
    f.exists(hp) && f.getFileStatus(hp).isDirectory
  }

  def mkdirs(p: String): Unit = {
    if (!fs(p).mkdirs(new Path(p)))
      throw new java.io.IOException(s"mkdirs failed: $p")
  }

  def readBytes(p: String): Array[Byte] = readBytesWith(p, conf())

  /** `(mtime millis, length)` of a path, None when absent — the freshness
    * stamp unit for control-plane caches. */
  def stamp(p: String): Option[(Long, Long)] =
    try {
      val st = fs(p).getFileStatus(new Path(p))
      Some((st.getModificationTime, st.getLen))
    } catch { case _: FileNotFoundException => None }

  /** Atomic single-file replace: write a dot-prefixed temp sibling, then
    * one overwriting rename. On a raw local filesystem the rename is
    * POSIX `rename(2)` — atomic overwrite; on every other scheme it goes
    * through `FileContext` with `Options.Rename.OVERWRITE` (atomic on
    * HDFS; a single-object swap on stores where rename is copy-based). */
  def writeAtomic(p: String, bytes: Array[Byte]): Unit = {
    val target = new Path(p)
    val tmp = new Path(target.getParent, "." + target.getName + ".tmp")
    val f = fs(p)
    f match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val out = f.create(tmp, true)
        try out.write(bytes) finally out.close()
        if (!f.rename(tmp, target)) // File.renameTo = rename(2): overwrites
          throw new java.io.IOException(s"atomic sidecar swap failed: $p")
      case _ =>
        val fc = FileContext.getFileContext(target.toUri, conf())
        val out = fc.create(tmp,
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
            org.apache.hadoop.fs.CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(bytes) finally out.close()
        fc.rename(tmp, target, Options.Rename.OVERWRITE)
    }
  }

  /** Atomic directory move, destination must not exist (the compaction
    * swap protocol's unit). Throws on failure — Hadoop's boolean-false
    * rename failure must never pass silently mid-swap. */
  def rename(src: String, dst: String): Unit = {
    if (!fs(src).rename(new Path(src), new Path(dst)))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  }

  /** Publish a data file written under a hidden temp name: one rename,
    * destination must not exist. Unlike the control-plane calls this runs
    * on the path's own filesystem, checksummed wrapper included: that is
    * the filesystem Spark's Parquet writer wrote the file through, so a
    * local `.crc` sidecar follows its file, as in Spark's committer. */
  def publishFile(tmp: String, dst: String): Unit = {
    if (!new Path(tmp).getFileSystem(conf()).rename(new Path(tmp), new Path(dst)))
      throw new java.io.IOException(s"rename failed: $tmp -> $dst")
  }

  /** Best-effort delete of an unpublished data file and its checksum
    * sidecar ([[publishFile]]'s filesystem); absent is fine. */
  def discardFile(tmp: String): Unit = {
    val hp = new Path(tmp)
    hp.getFileSystem(conf()).delete(hp, false)
  }

  def deleteRecursive(p: String): Unit = {
    val f = fs(p)
    val hp = new Path(p)
    if (f.exists(hp) && !f.delete(hp, true))
      throw new java.io.IOException(s"recursive delete failed: $p")
  }

  def delete(p: String): Unit = {
    val f = fs(p)
    val hp = new Path(p)
    if (f.exists(hp) && !f.delete(hp, false))
      throw new java.io.IOException(s"delete failed: $p")
  }

  /** Children of a directory, sorted by name; empty when absent. */
  def listStatus(p: String): Seq[FileStatus] =
    try fs(p).listStatus(new Path(p)).toSeq.sortBy(_.getPath.getName)
    catch { case _: FileNotFoundException => Seq.empty }

  /** Recursive count of files under `p` matching `pred`, skipping any
    * whose path has a hidden (`.`/`_`-prefixed) component below `p` —
    * the same convention Spark's file listing uses. */
  def countFilesRecursive(p: String)(pred: FileStatus => Boolean): Long = {
    val f = fs(p)
    val base = new Path(p)
    def hiddenBelow(path: Path): Boolean = {
      var cur = path.getParent
      var hidden = false
      while (cur != null && cur.toUri.getPath != base.toUri.getPath) {
        val n = cur.getName
        if (n.startsWith(".") || n.startsWith("_")) hidden = true
        cur = cur.getParent
      }
      hidden
    }
    var n = 0L
    val it = f.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (pred(st) && !name.startsWith(".") && !name.startsWith("_") &&
        !hiddenBelow(st.getPath)) n += 1
    }
    n
  }
}

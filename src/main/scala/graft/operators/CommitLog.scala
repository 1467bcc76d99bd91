package graft.operators

import java.io.OutputStream
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The versioned commit log under every [[TableFormat]] table (`_log`,
  * branch logs included) and every [[Catalog]] (`_catlog`) — the ONE
  * owner of the on-disk layout and of the optimistic publish protocol
  * (the Iceberg spec's commit: derive from the current version, then
  * atomically claim the next one; reference analog: the `Control`
  * sheet's `last_run_utc` advance, `MonarchMoneyMain-v3.py:1217-1225`).
  *
  * Layout: one immutable file per version, `v<20-digit>.json`, in
  * `<root>/<name>`. Writes are staged in the SIBLING dir `<name>.tmp`,
  * never in the log itself: a listing stats every entry after
  * enumerating it, so a tmp file renamed or deleted mid-listing would
  * throw in a concurrent lister. The listed dir is append-only — only
  * committed `v*.json` files ever appear there.
  *
  * Protocol: [[tryCommit]] stages the bytes, then `FileContext.rename`s
  * them WITHOUT overwrite — the rename fails when the version exists
  * (the HDFS commit primitive Delta's HDFSLogStore uses; a hard link on
  * the local filesystem, see [[CommitLog.publish]]), so two racers to
  * one version cannot both win. [[retry]] wraps a caller's
  * read-derive-publish cycle: the loser re-reads the winner's state and
  * re-derives against it. On stores without an atomic no-overwrite
  * rename (S3), this is where a conditional put would slot in.
  *
  * Scale shape: everything here is driver-side filesystem IO on small
  * files — a resolve is one listing plus one read, a commit one staged
  * write plus one rename. No Spark job. */
final class CommitLog(val root: String, name: String, conf: Configuration) {
  import CommitLog._

  val dir = new Path(s"$root/$name")
  private val staging = new Path(s"$root/$name.tmp")
  private val fs = dir.getFileSystem(conf)

  private def path(v: Long) = new Path(dir, f"v$v%020d.json")

  /** (version, commit-file mtime) for every committed version,
    * ascending — ONE directory listing. Empty before the first commit. */
  def listing: Seq[(Long, Long)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(st => (st.getPath.getName, st.getModificationTime))
      .collect { case (n, t) if n.startsWith("v") && n.endsWith(".json") =>
        (n.stripPrefix("v").stripSuffix(".json").toLong, t) }
      .sortBy(_._1)

  /** All committed versions, ascending. */
  def versions: Seq[Long] = listing.map(_._1)

  def exists(v: Long): Boolean = fs.exists(path(v))

  /** The commit text of version `v` (one read). */
  def read(v: Long): String = {
    val in = fs.open(path(v))
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Remove version `v`'s commit file (retention). */
  def delete(v: Long): Boolean = fs.delete(path(v), false)

  /** Publish `bytes` as version `v`; false = another committer won it.
    * A genuine IO failure (permissions, disk full) is rethrown — only an
    * actual race reads as a loss, never 20 rounds of phantom contention
    * in [[retry]]. */
  def tryCommit(v: Long, bytes: Array[Byte]): Boolean = {
    require(v >= 1, s"tryCommit: versions start at 1, got $v")
    fs.mkdirs(dir)
    if (fs.exists(path(v))) return false // fast path; the rename is the gate
    publish(conf, path(v), staging, _.write(bytes), overwrite = false)
  }

  /** Replace version `v`'s bytes in place — OFFLINE maintenance only
    * ([[TableFormat.renameRoot]]'s path rewrite); staged like a commit,
    * so the log dir stays append-only for listers. */
  def rewrite(v: Long, bytes: Array[Byte]): Unit =
    publish(conf, path(v), staging, _.write(bytes), overwrite = true)

  /** Delete staged files older than `olderThanMs` — what a writer that
    * died between staging and rename left behind. A live commit's
    * staged file is younger than any sane grace window. Returns the
    * number removed. */
  def sweepStaging(olderThanMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    if (!fs.exists(staging)) 0
    else fs.listStatus(staging).count(st =>
      st.isFile && st.getModificationTime < cutoff && fs.delete(st.getPath, false))
  }

  /** The optimistic commit loop: run `attempt` (read the head, derive,
    * [[tryCommit]]; None = lost the CAS) until it wins, at most
    * `MaxAttempts` times. */
  def retry[A](attempt: => Option[A]): A =
    Iterator.fill(MaxAttempts)(attempt).collectFirst { case Some(a) => a }
      .getOrElse(throw new IllegalStateException(
        s"commitTransform: lost the commit race $MaxAttempts times at $root"))
}

object CommitLog {

  /** CAS losses a committer absorbs before giving up. */
  private val MaxAttempts = 20

  private val TableLog = "_log"

  def table(spark: SparkSession, root: String): CommitLog =
    new CommitLog(root, TableLog, spark.sparkContext.hadoopConfiguration)

  def catalog(spark: SparkSession, croot: String): CommitLog =
    new CommitLog(croot, "_catlog", spark.sparkContext.hadoopConfiguration)

  /** Whether `dir` holds a table: it has a table commit log. */
  def isTable(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, TableLog))

  /** Whether a child of a table root named `name` is the table log or
    * its staging dir — never data, so data sweeps skip it. */
  def isLogDir(name: String): Boolean =
    name == TableLog || name == s"$TableLog.tmp"

  /** Staged single-file publish: write `dst`'s bytes to a hidden temp
    * file in `stagingDir`, then rename it onto `dst` in one namesystem
    * op, so a reader never sees a half-written file. Without
    * `overwrite` the rename is a CAS: false = `dst` already existed.
    * `stagingDir` must be on `dst`'s filesystem. */
  def publish(conf: Configuration, dst: Path, stagingDir: Path,
              write: OutputStream => Unit, overwrite: Boolean): Boolean = {
    val fs = dst.getFileSystem(conf)
    fs.mkdirs(stagingDir)
    val tmp = new Path(stagingDir,
      s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try write(out) finally out.close()
    fs match {
      case local: LocalFileSystem if !overwrite =>
        try link(local, tmp, dst) finally fs.delete(tmp, false)
      case _ =>
        try {
          FileContext.getFileContext(fs.getUri, conf).rename(tmp, dst,
            if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE)
          true
        } catch {
          case _: FileAlreadyExistsException if !overwrite =>
            fs.delete(tmp, false); false
          case e: java.io.IOException =>
            fs.delete(tmp, false)
            if (!overwrite && fs.exists(dst)) false else throw e
        }
    }
  }

  /** The local filesystem's no-overwrite rename stats the target and
    * then calls rename(2), which replaces an existing file: two racers
    * can both pass the check and both "win", the second clobbering the
    * first's bytes under the first's checksum. link(2) fails atomically
    * when the target exists, so it is the CAS here; the checksum file
    * follows the winner (any sum already there is stale — the target
    * did not exist). The caller drops the staged name. */
  private def link(fs: LocalFileSystem, tmp: Path, dst: Path): Boolean = {
    def file(p: Path) = fs.pathToFile(p).toPath
    try Files.createLink(file(dst), file(tmp))
    catch { case _: java.nio.file.FileAlreadyExistsException => return false }
    val (tmpSum, dstSum) = (file(fs.getChecksumFile(tmp)), file(fs.getChecksumFile(dst)))
    Files.deleteIfExists(dstSum)
    if (Files.exists(tmpSum)) Files.createLink(dstSum, tmpSum)
    true
  }
}

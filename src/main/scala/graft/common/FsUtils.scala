package graft.common

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-`FileSystem` path utilities replacing the reference's `S3Path`
  * (reference getl/common/s3path.py, getl/common/utils.py). Works uniformly
  * for file://, hdfs:// and s3a:// — at cluster scale the same code lists
  * an S3 prefix; locally it lists a directory.
  */
object FsUtils {

  def hadoopConf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  private def fs(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = fs(path, hadoopConf(spark)).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Create or replace `path` with `text`. On the local FS this writes
    * through `java.nio`: Hadoop's local output stream forks a `chmod` per
    * created file (without native IO) and leaves a `.<name>.crc` sidecar.
    * A sidecar left by an earlier Hadoop write of the same file is deleted,
    * or `ChecksumFileSystem` would check the new bytes against it. Other
    * stores keep the Hadoop path. */
  def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new Path(path)
    val f = fs(path, hadoopConf(spark))
    if (f.getUri.getScheme == "file") {
      import java.nio.file.{Files, Paths}
      val local = Paths.get(p.toUri.getPath).toAbsolutePath
      Files.createDirectories(local.getParent)
      Files.write(local, text.getBytes(StandardCharsets.UTF_8))
      dropStaleCrc(p)
    } else {
      val out = f.create(p, true)
      try out.write(text.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Delete the local `.<name>.crc` checksum sidecar of `p`, if any. */
  private def dropStaleCrc(p: Path): Unit =
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      new Path(p.getParent, s".${p.getName}.crc").toUri.getPath))

  /** Write-then-rename so readers never observe a half-written file — the
    * commit primitive for manifest logs. (Rename is atomic on HDFS and
    * POSIX filesystems; object stores substitute a conditional-put in the
    * same position.) */
  def writeTextAtomic(spark: SparkSession, path: String, text: String): Unit = {
    val tmp = s"$path.tmp-${java.util.UUID.randomUUID}"
    writeText(spark, tmp, text)
    val f = fs(path, hadoopConf(spark))
    if (f.getUri.getScheme == "file") {
      // atomic REPLACE: plain Hadoop rename won't overwrite an existing
      // destination on the local FS, so use rename(2) semantics directly
      import java.nio.file.{Files, Paths, StandardCopyOption}
      Files.move(Paths.get(new Path(tmp).toUri.getPath),
        Paths.get(new Path(path).toUri.getPath),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      // the replaced file may carry a sidecar from a Hadoop-stream write
      dropStaleCrc(new Path(path))
    } else {
      // HDFS-likes: FileContext rename carries an explicit atomic
      // OVERWRITE option (FileSystem.rename's no-overwrite contract
      // would refuse the replace)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new Path(path).toUri, hadoopConf(spark))
      fc.rename(new Path(tmp), new Path(path),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Atomic put-if-absent — the optimistic-concurrency commit primitive
    * for manifest logs: exactly ONE of any number of concurrent callers
    * writing the same path wins (returns true); the rest observe the loss
    * (false) instead of silently overwriting. On file:// the winner is
    * decided by hard-link creation (link(2) fails EEXIST atomically —
    * POSIX rename would overwrite); on HDFS-like filesystems by rename's
    * no-overwrite contract (rename onto an existing destination returns
    * false). Object stores substitute a conditional-put (S3
    * If-None-Match) in the same position. */
  def writeTextIfAbsent(spark: SparkSession, path: String, text: String): Boolean = {
    val f = fs(path, hadoopConf(spark))
    val dst = new Path(path)
    if (f.exists(dst)) return false
    val tmpStr = s"$path.tmp-${java.util.UUID.randomUUID}"
    writeText(spark, tmpStr, text)
    val won =
      if (f.getUri.getScheme == "file") {
        import java.nio.file.{Files, Paths, FileAlreadyExistsException}
        try { Files.createLink(Paths.get(dst.toUri.getPath),
                               Paths.get(new Path(tmpStr).toUri.getPath)); true }
        catch { case _: FileAlreadyExistsException => false }
      } else f.rename(new Path(tmpStr), dst)
    // link winner + any loser still hold the tmp file; rename winner's tmp
    // is already gone (delete is then a harmless no-op)
    f.delete(new Path(tmpStr), false)
    won
  }

  def exists(spark: SparkSession, path: String): Boolean =
    fs(path, hadoopConf(spark)).exists(new Path(path))

  /** Test-visible counter of directory-LISTING operations — the
    * O(entries) metadata calls whose count the ManagedTable checkpoint
    * hint exists to bound (ManagedTableSpec pins the read path at zero
    * listings on a many-version log). Existence probes and single-file
    * reads are O(1) on any store and deliberately not counted. */
  val listingOps = new java.util.concurrent.atomic.AtomicLong()

  /** Re-run a metadata listing that raced a concurrent writer: a
    * tmp/commit file vanishing between readdir and stat (another writer
    * finishing its atomic rename), or a subdirectory vanishing before a
    * recursive walk lists it, throws mid-listing. The re-list observes a
    * consistent later state — bounded, and only metadata work. */
  private def relisting[T](body: => T): T = {
    var i = 0
    while (true) {
      try return body
      catch {
        // the vanishing-file race itself surfaces as FileNotFoundException
        // (an IOException, NOT a RuntimeException) from the stat —
        // catching only RuntimeException would never engage the retry for
        // the exact case this wrapper exists for
        case e @ (_: RuntimeException | _: java.io.IOException) =>
          i += 1
          if (i >= 5) throw e
          Thread.sleep(10L * i)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Every file under `p` (or `p` itself when it is a file) in the order
    * `FileSystem.listFiles(p, recursive = true)` yields them: depth-first,
    * a directory's entries in listing order. On the local FS this walks
    * plain `listStatus` calls, because `listFiles` wraps each file in a
    * `LocatedFileStatus` whose permission read forks an `ls -ld` per file
    * (without Hadoop's native IO). Other stores keep `listFiles`: S3A
    * answers it with one flat paginated listing, not one per directory. */
  private def walkFiles(f: FileSystem, p: Path, out: FileStatus => Unit): Unit =
    if (f.getUri.getScheme == "file")
      f.listStatus(p).foreach { st =>
        if (st.isFile) out(st) else walkFiles(f, st.getPath, out)
      }
    else {
      val it = f.listFiles(p, true)
      while (it.hasNext) { val st = it.next(); if (st.isFile) out(st) }
    }

  /** Recursively list file paths under a prefix with a suffix filter —
    * the engine's analogue of the reference's paginated S3 listing
    * (s3path.py:80-106). Driver-side metadata op; the data itself is
    * never touched.
    */
  def listFiles(spark: SparkSession, prefix: String, suffix: String = ""): Seq[String] = relisting {
    listingOps.incrementAndGet()
    val f = fs(prefix, hadoopConf(spark))
    val p = new Path(prefix)
    if (!f.exists(p)) Nil
    else {
      val out = ArrayBuffer[String]()
      walkFiles(f, p, { st =>
        val s = st.getPath.toString
        if (suffix.isEmpty || s.endsWith(suffix)) out += s
      })
      out.toSeq
    }
  }

  /** The data files under a prefix, recursively, in [[listFiles]] order —
    * what a parquet dir's file index lists: a file is left out when any
    * name on its path below the prefix is hidden (`.`) or a marker (`_`,
    * unless it holds `=` like a hive partition dir `__gbucket=3`), so
    * `_SUCCESS`, checksum sidecars and `_temporary` leftovers drop out.
    * The managed table's resolver reads a data dir's files from this one
    * listing. Metadata-only. */
  def listDataFiles(spark: SparkSession, prefix: String): Seq[FileStatus] = relisting {
    listingOps.incrementAndGet()
    val f = fs(prefix, hadoopConf(spark))
    val p = new Path(prefix)
    if (!f.exists(p)) Nil
    else {
      val root = f.makeQualified(p).toUri.getPath.stripSuffix("/") + "/"
      val out = ArrayBuffer[FileStatus]()
      walkFiles(f, p, { st =>
        val below = st.getPath.toUri.getPath.stripPrefix(root).split('/')
        if (!below.exists(n => n.startsWith(".") || (n.startsWith("_") && !n.contains("="))))
          out += st
      })
      out.toSeq
    }
  }

  /** Immediate child DIRECTORIES of `dir` as (name, modificationTimeMs). */
  def listChildDirsWithModTime(spark: SparkSession, dir: String): Seq[(String, Long)] = relisting {
    listingOps.incrementAndGet()
    val f = fs(dir, hadoopConf(spark))
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory)
      .map(st => (st.getPath.getName, st.getModificationTime))
  }

  /** Delete paths (files or directories) — reference `delete_files`
    * (utils.py:55-73). */
  def deleteFiles(spark: SparkSession, paths: Seq[String]): Unit =
    paths.foreach { s => fs(s, hadoopConf(spark)).delete(new Path(s), true) }

  /** Copy (source, target) pairs — reference `copy_keys` (utils.py:97-117). */
  def copyKeys(spark: SparkSession, pairs: Seq[(String, String)]): Unit =
    pairs.foreach { case (src, dst) =>
      val conf = hadoopConf(spark)
      val sp = new Path(src)
      val dp = new Path(dst)
      val sf = sp.getFileSystem(conf)
      if (!sf.exists(sp)) throw new java.io.FileNotFoundException(src)
      FileUtil.copy(sf, sp, dp.getFileSystem(conf), dp, false, true, conf)
    }

  /** Copy then delete sources — reference `copy_and_cleanup` (utils.py:76-94). */
  def copyAndCleanup(spark: SparkSession, pairs: Seq[(String, String)]): Unit = {
    copyKeys(spark, pairs)
    deleteFiles(spark, pairs.map(_._1))
  }
}

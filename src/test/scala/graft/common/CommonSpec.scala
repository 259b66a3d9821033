package graft.common

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Secret redaction (reference getl/logging.py SecretWordFilter). */
class RedactSpec extends AnyFunSuite {

  test("password / secret / connurl values are redacted") {
    assert(Redact("Password: hunter2 rest") === "Password: #redacted# rest")
    assert(Redact("'secret': abc123'") === "'secret': #redacted#")
    assert(Redact("ConnUrl: jdbc:postgresql://h/db x") ===
      "ConnUrl: #redacted# x")
  }

  test("non-secret text passes through untouched") {
    val msg = "loaded 42 files from s3a://bucket/prefix"
    assert(Redact(msg) === msg)
  }
}

/** Hadoop-FS utilities (reference getl/common/utils.py, s3path.py). */
class FsUtilsSpec extends SparkSuite {

  private def tmp(): String = Files.createTempDirectory("graft-fs").toString

  test("write / read / list / copy / delete round-trip") {
    val w = tmp()
    FsUtils.writeText(spark, s"$w/a/one.txt", "1")
    FsUtils.writeText(spark, s"$w/a/two.json", "2")
    assert(FsUtils.readText(spark, s"$w/a/one.txt") === "1")
    assert(FsUtils.listFiles(spark, s"$w/a").size === 2)
    assert(FsUtils.listFiles(spark, s"$w/a", ".json").map(_.split('/').last) ===
      Seq("two.json"))
    // copy_keys then copy_and_cleanup (reference utils.py:76-117)
    FsUtils.copyKeys(spark, Seq((s"$w/a/one.txt", s"$w/b/one.txt")))
    assert(FsUtils.readText(spark, s"$w/b/one.txt") === "1")
    FsUtils.copyAndCleanup(spark, Seq((s"$w/a/two.json", s"$w/b/two.json")))
    assert(!FsUtils.exists(spark, s"$w/a/two.json"))
    assert(FsUtils.exists(spark, s"$w/b/two.json"))
    FsUtils.deleteFiles(spark, Seq(s"$w/b"))
    assert(!FsUtils.exists(spark, s"$w/b"))
  }

  test("writeTextIfAbsent: exactly one of N racing writers wins") {
    val w = tmp()
    val target = s"$w/commit/0.json"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futures = (1 to 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = FsUtils.writeTextIfAbsent(spark, target, s"writer-$i")
        })
      }
      val wins = futures.zipWithIndex.filter(_._1.get())
      assert(wins.size === 1, s"expected exactly one winner, got ${wins.size}")
      // the surviving content is the winner's, complete and uncorrupted
      assert(FsUtils.readText(spark, target) === s"writer-${wins.head._2 + 1}")
      // losers' tmp files are cleaned up
      assert(FsUtils.listFiles(spark, s"$w/commit").size === 1)
    } finally pool.shutdown()
    // a later put-if-absent still loses
    assert(!FsUtils.writeTextIfAbsent(spark, target, "late"))
  }

  // on the local FS listFiles walks listStatus instead of calling
  // FileSystem.listFiles (whose LocatedFileStatus forks a permission read
  // per file); the walk must yield the same paths in the same order
  private def hadoopListFiles(prefix: String, suffix: String = ""): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(prefix)
    val f = p.getFileSystem(FsUtils.hadoopConf(spark))
    if (!f.exists(p)) Nil
    else {
      val it = f.listFiles(p, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.toString.endsWith(suffix)) out += st.getPath.toString
      }
      out.result()
    }
  }

  test("listFiles walks a nested prefix in FileSystem.listFiles order") {
    val w = tmp()
    Seq("b/x.json", "a/deep/er/y.json", "a/z.txt", "top.json", "c/d/e.json",
      "a/deep/w.json", "c/q.txt").foreach(f => FsUtils.writeText(spark, s"$w/$f", f))
    assert(FsUtils.listFiles(spark, w) === hadoopListFiles(w))
    assert(FsUtils.listFiles(spark, w, ".json") === hadoopListFiles(w, ".json"))
    assert(FsUtils.listFiles(spark, w, ".json").size === 5)
    // listDataFiles: same order, marker files and dirs out (a `_` dir
    // holding `=` is a partition dir and stays), lengths intact
    Seq("a/_SUCCESS", "_temporary/0/t.json", "__gbucket=1/b.json")
      .foreach(f => FsUtils.writeText(spark, s"$w/$f", f))
    val data = FsUtils.listDataFiles(spark, w).map(_.getPath.toString)
    assert(data === hadoopListFiles(w).filterNot(p =>
      p.endsWith("_SUCCESS") || p.contains("/_temporary/")))
    assert(data.exists(_.endsWith("__gbucket=1/b.json")))
    assert(FsUtils.listDataFiles(spark, w).forall { f =>
      f.getLen === f.getPath.toString.stripPrefix("file:").stripPrefix(s"$w/").length })
  }

  test("listFiles of a single file, an absent prefix and a dir of .crc sidecars") {
    val w = tmp()
    FsUtils.writeText(spark, s"$w/one.json", "1")
    assert(FsUtils.listFiles(spark, s"$w/one.json") === hadoopListFiles(s"$w/one.json"))
    assert(FsUtils.listFiles(spark, s"$w/one.json").size === 1)
    assert(FsUtils.listFiles(spark, s"$w/absent") === Nil)
    assert(FsUtils.listDataFiles(spark, s"$w/absent") === Nil)
    // parquet through the local checksum FS leaves .crc sidecars that
    // both listings hide
    spark.range(4).repartition(2).write.parquet(s"$w/pq")
    assert(Files.list(java.nio.file.Paths.get(s"$w/pq")).iterator()
      .asScala.exists(_.getFileName.toString.endsWith(".crc")))
    assert(FsUtils.listFiles(spark, s"$w/pq") === hadoopListFiles(s"$w/pq"))
    assert(!FsUtils.listFiles(spark, s"$w/pq").exists(_.endsWith(".crc")))
    assert(FsUtils.listDataFiles(spark, s"$w/pq").map(_.getPath.toString) ===
      hadoopListFiles(s"$w/pq", ".parquet"))
  }

  test("local text writes leave no .crc sidecar and drop a stale one") {
    val w = tmp()
    def crcs(): Seq[String] = Files.list(java.nio.file.Paths.get(w)).iterator()
      .asScala.map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    // a file written through Hadoop's checksum FS carries a sidecar
    def hadoopWrite(name: String, text: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$w/$name")
      val out = p.getFileSystem(FsUtils.hadoopConf(spark)).create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    hadoopWrite("plain.json", "old bytes, longer than the new ones")
    hadoopWrite("atomic.json", "old bytes, longer than the new ones")
    assert(crcs().toSet === Set(".plain.json.crc", ".atomic.json.crc"))
    // replacing either drops its sidecar, and the checksum FS reads the
    // new bytes (against a stale sidecar it would fail the read)
    FsUtils.writeText(spark, s"$w/plain.json", "new")
    FsUtils.writeTextAtomic(spark, s"$w/atomic.json", "new")
    assert(FsUtils.writeTextIfAbsent(spark, s"$w/once.json", "1"))
    assert(!FsUtils.writeTextIfAbsent(spark, s"$w/once.json", "2"))
    FsUtils.writeText(spark, s"$w/nested/dir/deep.json", "deep")
    assert(crcs() === Nil)
    assert(FsUtils.readText(spark, s"$w/plain.json") === "new")
    assert(FsUtils.readText(spark, s"$w/atomic.json") === "new")
    assert(FsUtils.readText(spark, s"$w/once.json") === "1")
    assert(FsUtils.readText(spark, s"$w/nested/dir/deep.json") === "deep")
    assert(FsUtils.listFiles(spark, w).map(_.split('/').last).sorted ===
      Seq("atomic.json", "deep.json", "once.json", "plain.json"))
  }

  test("copy of a missing source raises FileNotFoundException") {
    val w = tmp()
    intercept[java.io.FileNotFoundException] {
      FsUtils.copyKeys(spark, Seq((s"$w/nope.txt", s"$w/out.txt")))
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, configured like the
  * reference's test session (reference tests/conftest.py:36-60): UTC,
  * small shuffle partition count, legacy time parser.
  */
trait SparkSuite extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  /** Several operators persist an intermediate that both of their output
    * subplans read (allPairsCosine's base, DSIR's tokenized corpus, the
    * quality gates' scored stage) and document cache lifetime as
    * caller-managed — Bench/Verify clearCache per query. The suites are
    * such a caller: drain the cache per suite so runs don't accumulate
    * one entry per invocation across 30+ suites on one shared session. */
  override protected def afterAll(): Unit = {
    try spark.catalog.clearCache() finally super.afterAll()
  }
  val sf0: String = "/root/testdata/sf0.001"
  val sf1: String = "/root/testdata/sf0.01"

  /** `body`'s result and the number of Spark jobs started while it ran,
    * counted by a listener — the spec-side job counter, like
    * `FsUtils.listingOps` for listings. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Resolve a ManagedTable data dir by its version-hint prefix (dir names
    * are `d<v>-<random>`; exactly one per version in single-writer tests). */
  def dataDirOf(root: String, v: Int): String = {
    val hits = childDirs(root).filter(_.startsWith(s"d$v-"))
    assert(hits.size == 1, s"expected one d$v-* dir under $root, got $hits")
    s"$root/${hits.head}"
  }

  /** Names of the subdirectories of `dir`, through Hadoop's FileSystem. */
  def childDirs(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    System.setProperty("derby.system.home",
      graft.common.Scratch.dir("spark", s"derby-${ProcessHandle.current().pid()}"))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.timeParserPolicy", "LEGACY")
      .config("spark.ui.enabled", "false")
      // shared classloader so the (loader, source)-keyed codegen cache
      // reuses per-batch plans across streaming drains (see Bench.scala)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.common.Scratch.dir("spark", s"warehouse-${ProcessHandle.current().pid()}"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Times one workload step sees, by end-to-end metric. */
final class Samples {
  val byMetric = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Double]]()
  def add(metric: String, s: Double): Unit =
    byMetric.getOrElseUpdate(metric, scala.collection.mutable.ArrayBuffer()) += s
  def get(metric: String): Seq[Double] = byMetric.get(metric).map(_.toSeq).getOrElse(Nil)
}

/** The result of checking one round's final state against the model. */
final case class Check(errors: Seq[String], digest: String)

/** A benchmark workload. A run is a fixed number of rounds; every round
  * starts from a byte-identical copy of the state `prepare` built, at the
  * same path, and runs the same seed-derived op sequence, so the state every
  * timed op sees does not depend on how fast earlier ops ran. */
trait Workload {
  /** Roughly how long one round takes; sets the round count for `--seconds`. */
  def nominalRoundSeconds: Double
  /** Generate the inputs and build the pre-seeded state under `dir`.
    * Returns a digest of the state's logical content. */
  def prepare(dir: String): String
  /** Start a round on a fresh copy of the prepared state at `dir`. A warm
    * round runs every op type before timing starts. */
  def beginRound(dir: String, warm: Boolean): Unit
  /** Ops in the current round. */
  def ops: Int
  /** Kind of op `i`, for the per-layer breakdown. */
  def kind(i: Int): String
  /** Untimed work before op `i`, such as landing its input files. */
  def beforeStep(i: Int): Unit = ()
  /** Run op `i`, adding its end-to-end times to `s`. Returns the number of
    * items (input rows, ops or documents) it completed. */
  def step(i: Int, s: Samples, t: Tracer): Long
  /** Untimed work after op `i`: checking its reads against the model and,
    * when tracing, counts observed outside the step. */
  def afterStep(i: Int, t: Tracer): Map[String, Double] = Map.empty
  /** Compare the round's final state and sampled reads with the model. */
  def check(): Check
  /** Directories holding the round's tables (data, log and registry). */
  def tableDirs: Seq[String]
  /** The tables' live snapshots, for the compact-rewrite baseline. */
  def liveSnapshots: Seq[DataFrame]
  /** Probes the traced run makes after a round, outside every step. */
  def tracedProbes(t: Tracer): Map[String, Double] = Map.empty
  /** This workload's per-layer metrics from the traced steps and probes. */
  def layers(traces: Seq[UnitTrace], probes: Seq[Map[String, Double]]): Seq[(String, Double, String)]
}

/** Aggregations over traced steps. */
object Layers {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def med(traces: Seq[UnitTrace])(f: UnitTrace => Double): Double = Util.median(traces.map(f))

  /** Each module's self time per step: its jobs plus the driver time the
    * stack samples saw in it. */
  def selfTimes(traces: Seq[UnitTrace]): Seq[(String, Double, String)] =
    traces.flatMap(_.selfByModule.keys).distinct.sorted.map { m =>
      (s"$m.self_s", med(traces)(_.selfByModule.getOrElse(m, 0.0)), "s")
    }

  /** The part of the breakdown that every workload reports, per step. */
  def shared(traces: Seq[UnitTrace], overhead: Double): Map[String, Double] = {
    def avg(f: UnitTrace => Double) = mean(traces.map(f))
    Map(
      "trace.overhead_share" -> overhead,
      "trace.coverage" -> avg(u => u.selfByModule.filter(_._1 != "perfbench").values.sum / u.wallS),
      "spark.jobs_per_step" -> avg(_.jobs.getOrElse("all", 0).toDouble),
      "spark.job_s" -> avg(_.inJobsS),
      "spark.driver_self_s" -> avg(_.driverS),
      "spark.shuffle_mb_per_step" -> avg(_.shuffleMb.getOrElse("all", 0.0)),
      "sql.planning_s" -> avg(_.planningS),
      "jvm.gc_s" -> avg(_.gcS),
      "common.listings_per_step" -> avg(_.listings.toDouble),
      "table.self_s" -> avg(_.selfByModule.getOrElse("table", 0.0)))
  }
}

object Util {
  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(q => Files.delete(q))
      finally walk.close()
    }
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(q => Files.isRegularFile(q)).map(q => Files.size(q)).sum
      finally walk.close()
    }
  }

  def writeText(path: String, text: String): Unit = {
    val p: Path = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  /** Materialize a read fully, as a user pays for it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Order-independent digest of a row set: row count plus the sum of a
    * 64-bit hash of each row's canonical text. */
  def digest(rows: Iterable[String]): String = {
    var h = 0L
    var n = 0L
    rows.foreach { r =>
      val d = MessageDigest.getInstance("MD5").digest(r.getBytes("UTF-8"))
      h += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    f"$n:$h%016x"
  }

  def rowText(r: Row): String = r.toSeq.map(v => String.valueOf(v)).mkString("|")

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Linux thread ids of the JIT compiler threads. The JVM runs with a
    * fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads), so the set
    * is read once. */
  private lazy val compilerTasks: Seq[Path] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.toSeq.filter { t =>
      val comm = new String(Files.readAllBytes(t.resolve("comm")), "UTF-8")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    } finally tasks.close()
  }

  /** CPU seconds the JIT compiler threads have used, from the scheduler's
    * per-thread run time (which, like the process CPU time, leaves out time
    * the hypervisor gave to other guests). */
  def jitCpuS(): Double = compilerTasks.map { t =>
    new String(Files.readAllBytes(t.resolve("schedstat")), "UTF-8").split(' ')(0).toLong
  }.sum / 1e9

  /** CPU seconds the process has used, JIT compilation left out: the work
    * the program does. Unlike wall time it leaves out the time other threads
    * and other guests held the CPU. A long-lived driver amortizes
    * compilation; in a one-minute run the compiler is still busy with the
    * code Spark generates for each step. */
  def workCpuS(): Double = os.getProcessCpuTime / 1e9 - jitCpuS()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above it:
    * (value, percentile, sample count). Below 21 samples no percentile at or
    * above the median has ten samples above it, and the maximum is reported
    * as the 100th percentile. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n > 20) (s(n - 11), 100.0 * (n - 10) / n, n) else (s.last, 100.0, n)
  }
}

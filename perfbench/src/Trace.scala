package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A Spark job as the listener saw it. `module` is the deepest
  * `graft.<module>` frame of the job's call site, `entry` the public
  * function through which that module was entered, and `caller` the module
  * that called it. Jobs submitted from threads with no graft frame on their
  * stack (broadcast exchanges) fall back to the module of the innermost open
  * span, read from the inherited local property. */
final case class JobRec(id: Int, unit: Long, module: String, entry: String,
                        caller: String, startMs: Long, var endMs: Long,
                        stages: Seq[Int])

/** One timed call into a module, recorded from the benchmark's side. */
final case class SpanRec(module: String, name: String, depth: Int,
                         startMs: Double, endMs: Double)

/** What one step (a lift tick, a table op, a wave) cost, layer by layer. */
final case class UnitTrace(kind: String, wallS: Double,
                           spans: Map[String, Double],
                           selfByModule: Map[String, Double],
                           inJobsS: Double, driverS: Double,
                           jobsBySpan: Map[String, Int],
                           jobS: Map[String, Double],
                           jobs: Map[String, Int],
                           shuffleMb: Map[String, Double],
                           spillMb: Map[String, Double],
                           planningS: Double, gcS: Double, listings: Long,
                           counts: Map[String, Double])

/** Spans around each call into a graft module, a SparkListener that
  * attributes every job to a module, and a sampler of the calling thread's
  * stack that attributes the time outside jobs. Off (the untraced run),
  * `span` only runs its body, and nothing is registered or sampled. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var on = false
  private var unitId = 0L
  private var unitStart = 0.0
  private var unitGc = 0L
  private var unitListings = 0L
  private val open = mutable.Stack[String]()
  private val spans = mutable.ArrayBuffer[SpanRec]()

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageShuffle = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val planning = new ConcurrentLinkedQueue[(Double, Double)]()

  private val SampleMs = 5L
  private val mainThread = Thread.currentThread()
  private val GraftClass = """^graft\.([a-z]+)\..*""".r
  private val stackSamples = new ConcurrentLinkedQueue[(Double, String)]()
  @volatile private var sampling = false
  private lazy val sampler: Thread = {
    val th = new Thread(() => while (true) {
      if (sampling) stackSamples.add((nowMs, mainThread.getStackTrace.iterator
        .map(_.getClassName).collectFirst { case GraftClass(m) => m }.getOrElse("")))
      Thread.sleep(SampleMs)
    }, "perfbench-stack-sampler")
    th.setDaemon(true)
    th.start()
    th
  }

  private val GraftFrame = """^\s*(?:at\s+)?graft\.([a-z]+)\.([A-Za-z0-9_$]+)\.([A-Za-z0-9_$]+)\(.*""".r

  /** (module, entry, caller) from a long-form call site. */
  private def attribute(callSite: String, fallback: String): (String, String, String) = {
    val frames = callSite.split("\n").toSeq.flatMap {
      case GraftFrame(m, _, meth) => Some((m, cleanMethod(meth)))
      case _ => None
    }
    frames.headOption match {
      case None => (fallback, "", "")
      case Some((m, _)) =>
        val run = frames.takeWhile(_._1 == m)
        val caller = frames.drop(run.size).headOption.map(_._1).getOrElse("")
        (m, run.last._2, caller)
    }
  }

  private def cleanMethod(m: String): String =
    m.stripPrefix("$anonfun$").replaceAll("""\$.*$""", "")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val unit = props.flatMap(p => Option(p.getProperty("perfbench.unit")))
        .map(_.toLong).getOrElse(-1L)
      val fb = props.flatMap(p => Option(p.getProperty("perfbench.module"))).getOrElse("perfbench")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val (m, entry, caller) = attribute(site, fb)
      val rec = JobRec(e.jobId, unit, m, entry, caller, e.time, -1L, e.stageIds)
      jobById.put(e.jobId, rec)
      jobs.add(rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(e.stageInfo.taskMetrics).foreach { tm =>
        stageShuffle.put(e.stageInfo.stageId,
          (tm.shuffleWriteMetrics.bytesWritten, tm.diskBytesSpilled + tm.memoryBytesSpilled))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        planning.add((ph.map(_.startTimeMs).min.toDouble,
          ph.map(_.durationMs).sum / 1e3))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def enabled: Boolean = on

  /** Turn tracing on or off between rounds. */
  def setEnabled(v: Boolean): Unit = if (v != on) {
    on = v
    if (v) {
      System.setProperty("spark.callstack.depth", "400")
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Time `body` as a call into `module`. */
  def span[T](module: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val prevModule = sc.getLocalProperty("perfbench.module")
      sc.setLocalProperty("perfbench.module", module)
      open.push(name)
      val t0 = nowMs
      try body
      finally {
        spans += SpanRec(module, name, open.size, t0, nowMs)
        open.pop()
        sc.setLocalProperty("perfbench.module", prevModule)
      }
    }

  def beginUnit(): Unit = if (on) {
    unitId += 1
    spans.clear()
    stageShuffle.clear()
    sc.setLocalProperty("perfbench.unit", unitId.toString)
    sc.setLocalProperty("perfbench.module", "perfbench")
    unitGc = gcMillis()
    unitListings = graft.common.FsUtils.listingOps.get()
    sampler
    stackSamples.clear()
    unitStart = nowMs
    sampling = true
  }

  /** Close the step and split its wall time among the layers: every instant
    * belongs to the innermost thing running then (a job, else the deepest
    * graft frame the stack samples saw, else the deepest open span, else the
    * benchmark itself), so the layers' self times add up to the step's wall
    * time. */
  def endUnit(kind: String): UnitTrace = {
    sampling = false
    val end = nowMs
    val gc = (gcMillis() - unitGc) / 1e3
    val listings = graft.common.FsUtils.listingOps.get() - unitListings
    sc.setLocalProperty("perfbench.unit", null)
    sc.setLocalProperty("perfbench.module", null)
    org.apache.spark.PerfbenchBus.drain(sc)
    val mine = jobs.asScala.filter(_.unit == unitId).toSeq
    jobs.removeIf(_.unit <= unitId)
    mine.foreach(j => jobById.remove(j.id))
    val closed = mine.map(j => j.copy(endMs = if (j.endMs < 0) j.startMs else j.endMs))

    // sweep over elementary segments
    val bounds = (Seq(unitStart, end) ++ spans.flatMap(s => Seq(s.startMs, s.endMs)) ++
      closed.flatMap(j => Seq(j.startMs.toDouble, j.endMs.toDouble)))
      .map(b => math.min(math.max(b, unitStart), end)).distinct.sorted
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    var inJobs = 0.0
    val stack = stackSamples.asScala.toSeq
    def innermostSpan(at: Double): Option[SpanRec] =
      spans.filter(s => s.startMs <= at && at < s.endMs).sortBy(_.depth).lastOption
    bounds.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val d = (b - a) / 1e3
        closed.filter(j => j.startMs <= mid && mid < j.endMs).sortBy(_.startMs).lastOption match {
          case Some(j) => self(j.module) += d; inJobs += d
          case None =>
            val span = innermostSpan(mid).map(_.module).getOrElse("perfbench")
            val seen = stack.filter { case (t, _) => t >= a && t < b }.map(_._2)
            if (seen.isEmpty) self(span) += d
            else seen.groupBy(identity).foreach { case (m, ms) =>
              self(if (m.isEmpty) span else m) += d * ms.size / seen.size }
        }
      case _ => ()
    }
    val jobsBySpan = closed.groupBy(j => innermostSpan(j.startMs.toDouble).map(_.name).getOrElse(""))
      .map { case (n, js) => n -> js.size }
    val jobS = mutable.Map[String, Double]().withDefaultValue(0.0)
    val jobN = mutable.Map[String, Int]().withDefaultValue(0)
    val shuf = mutable.Map[String, Double]().withDefaultValue(0.0)
    val spill = mutable.Map[String, Double]().withDefaultValue(0.0)
    closed.foreach { j =>
      val keys = Seq(j.module, s"${j.module}.${j.entry}", s"${j.caller}>${j.module}",
        s"${j.caller}>${j.module}.${j.entry}", "all")
      val d = (j.endMs - j.startMs) / 1e3
      val (sw, sp) = j.stages.map(s => Option(stageShuffle.remove(s)).getOrElse((0L, 0L)))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d2)) => (a + c, b + d2) }
      keys.foreach { k =>
        jobS(k) += d; jobN(k) += 1
        shuf(k) += sw / 1048576.0; spill(k) += sp / 1048576.0
      }
    }
    val plans = planning.asScala.filter { case (t, _) => t >= unitStart - 1 && t <= end }.toSeq
    planning.removeIf { case (t, _) => t <= end }
    val spanDur = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endMs - s.startMs) / 1e3).sum }
    val wall = (end - unitStart) / 1e3
    UnitTrace(kind, wall, spanDur, self.toMap, inJobs, wall - inJobs, jobsBySpan,
      jobS.toMap, jobN.toMap, shuf.toMap, spill.toMap, plans.map(_._2).sum, gc, listings,
      Map.empty)
  }
}

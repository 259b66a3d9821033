package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM, one local SparkSession, one workload.
  *
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                    --work <dir> [--corrupt-model] }}}
  *
  * The last line of standard output is the result JSON. `--trace 0` reports
  * the end-to-end metrics; `--trace 1` alternates untraced and traced rounds
  * and reports the per-layer metrics and the tracing overhead.
  * `--corrupt-model` perturbs the in-memory model the outputs are checked
  * against, so every workload must report `"correct": false`. */
object Main {

  /** Parts of the per-layer breakdown that every workload measures. */
  val SharedLayers: Seq[(String, String)] = Seq(
    "step_p50_s" -> "s",
    "step_tail_s" -> "s",
    "read_p50_s" -> "s",
    "read_tail_s" -> "s",
    "write_p50_s" -> "s",
    "write_tail_s" -> "s",
    "items_per_s" -> "1/s",
    "step_cpu_tail_s" -> "s",
    "jvm.jit_cpu_s" -> "s",
    "trace.overhead_share" -> "ratio",
    "trace.coverage" -> "ratio",
    "spark.jobs_per_step" -> "count",
    "spark.job_s" -> "s",
    "spark.driver_self_s" -> "s",
    "spark.shuffle_mb_per_step" -> "MB",
    "sql.planning_s" -> "s",
    "jvm.gc_s" -> "s",
    "common.listings_per_step" -> "count",
    "table.self_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val work = opt("--work")
    val corrupt = args.contains("--corrupt-model")
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val confKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.codegen.wholeStage", "spark.sql.ansi.enabled")
    val env = Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> traced.toString, "k" -> cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-XX") || a.startsWith("-Xm")).mkString(" ")) ++
      confKeys.map(k => k -> spark.conf.getOption(k).getOrElse("(default)"))
    println("perfbench env " + Json.obj(env.map { case (k, v) => k -> Json.str(v) }))

    val wl: Workload = workload match {
      case "lift_ingest" => new LiftIngest(spark, seed, corrupt)
      case "corpus_curate" => new CorpusCurate(spark, seed, corrupt)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(spark)
    val errors = mutable.ArrayBuffer[String]()

    // Every round runs in the same directory: the tables' logs carry absolute
    // paths, so a round restores the prepared state to the path it was built at.
    val live = s"$work/live"
    val pristine = s"$work/pristine"
    def restore(): Unit = { Util.deleteDir(live); Util.copyDir(pristine, live) }

    // set-up: prepare once, keep a pristine copy, warm up on a copy of it
    val prepared = wl.prepare(live)
    Util.copyDir(live, pristine)
    restore()
    wl.beginRound(live, warm = true)
    (0 until wl.ops).foreach { i =>
      wl.beforeStep(i)
      val (_, s) = Util.timed(wl.step(i, new Samples, tracer))
      wl.afterStep(i, tracer)
      System.err.println(f"perfbench warm-up op $i ${wl.kind(i)} $s%.3f s")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var setupS = Double.NaN

    // timed phase: a fixed number of rounds, each from the same prepared state
    val rounds = math.max(1, math.round(seconds / wl.nominalRoundSeconds).toInt)
    val samples = new Samples
    val traces = mutable.ArrayBuffer[UnitTrace]()
    val timedBy = mutable.Map(false -> 0.0, true -> 0.0)
    var attempted = 0L
    var failed = 0L
    var items = 0L
    val digests = mutable.LinkedHashSet[String]()
    val probes = mutable.ArrayBuffer[Map[String, Double]]()
    // the traced run alternates untraced and traced rounds over the same ops
    val plan = if (traced) (0 until rounds).flatMap(_ => Seq(false, true)) else Seq.fill(rounds)(false)
    plan.zipWithIndex.foreach { case (tr, r) =>
      restore()
      tracer.setEnabled(tr)
      wl.beginRound(live, warm = false)
      // set-up ends where the first timed op starts
      if (setupS.isNaN) setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      var i = 0
      var broken = false
      while (i < wl.ops && !broken) {
        attempted += 1
        try {
          wl.beforeStep(i)
          tracer.beginUnit()
          val into = if (tr) new Samples else samples
          val (c0, j0) = (Util.workCpuS(), Util.jitCpuS())
          val (n, s) = Util.timed(wl.step(i, into, tracer))
          into.add("cpu", Util.workCpuS() - c0)
          into.add("jit", Util.jitCpuS() - j0)
          val unit = if (tr) Some(tracer.endUnit(wl.kind(i))) else None
          val extra = wl.afterStep(i, tracer)
          timedBy(tr) += s
          System.err.println(f"perfbench round $r op $i ${wl.kind(i)} $s%.3f s, cpu ${into.get("cpu").last}%.3f s")
          if (!tr) items += n
          unit.foreach(u => traces += u.copy(counts = u.counts ++ extra))
        } catch {
          case e: Throwable =>
            failed += 1; broken = true
            errors += s"round $r op $i (${wl.kind(i)}) failed: $e"
            e.printStackTrace()
        }
        i += 1
      }
      if (!broken) {
        val c = wl.check()
        errors ++= c.errors.map(e => s"round $r: $e")
        digests += c.digest
        if (tr) probes += wl.tracedProbes(tracer)
      }
      tracer.setEnabled(false)
    }
    if (digests.size > 1) errors += s"final state differs between rounds: ${digests.mkString(" ")}"

    // Spark frees broadcasts and cached blocks from a cleaner thread once a
    // GC has found them unreachable, so collect, let it run, and take the
    // lowest reading
    val heapMb = (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val tableBytes = wl.tableDirs.map(Util.dirBytes).sum
    val compactBytes = wl.liveSnapshots.zipWithIndex.map { case (df, n) =>
      val d = s"$work/compact-$n"
      df.coalesce(1).write.parquet(d)
      Util.dirBytes(d)
    }.sum
    val storageAmp = tableBytes.toDouble / compactBytes

    println(s"perfbench setup session_s=$sessionS setup_s=$setupS prepared=$prepared " +
      s"rounds=$rounds ops_per_round=${wl.ops} digest=${digests.mkString(",")}")
    errors.foreach(e => println(s"perfbench error $e"))

    // medians and tails of the untraced rounds' samples: wall times, the
    // process's CPU time without the JIT compiler ("cpu") and the compiler's
    // ("jit"), per step or per op
    val latency = Seq("step", "read", "write", "cpu", "jit").map { m =>
      val xs = samples.get(m)
      val (tv, tp, tn) = Util.tail(xs)
      println(f"perfbench latency ${m}_s n=$tn p50=${Util.median(xs)}%.6f tail=p$tp%.1f:$tv%.6f")
      m -> (Util.median(xs), tv)
    }.toMap
    // Wall times are per-layer: load from other guests on the host moved
    // them by a quarter or more between runs of the same code. CPU time
    // leaves out what the hypervisor gives to other guests.
    val metrics: Seq[(String, Double, String)] =
      if (!traced)
        Seq(("setup_s", setupS, "s"),
          ("step_cpu_s", latency("cpu")._1, "s"),
          ("storage_amp", storageAmp, "ratio"),
          ("retained_heap_mb", heapMb, "MB"))
      else {
        val shared = Layers.shared(traces.toSeq, timedBy(true) / timedBy(false) - 1) ++
          Seq("step", "read", "write").flatMap { m =>
            Seq(s"${m}_p50_s" -> latency(m)._1, s"${m}_tail_s" -> latency(m)._2)
          } ++ Seq(
            "items_per_s" -> items / timedBy(false),
            "step_cpu_tail_s" -> latency("cpu")._2,
            "jvm.jit_cpu_s" -> latency("jit")._1)
        println("perfbench layers " + Json.metrics(wl.layers(traces.toSeq, probes.toSeq)))
        SharedLayers.map { case (n, u) => (n, shared(n), u) }
      }
    println(Json.obj(Seq(
      "correct" -> (if (errors.isEmpty) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics))))
    spark.stop()
    System.exit(if (errors.isEmpty) 0 else 1)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}

package graft

import org.apache.spark.sql.SparkSession

/** The single-machine session the command-line mains (Bench, Verify,
  * Explain) run on: `local[SPARK_GRAFT_CPUS]` with as many shuffle
  * partitions, UTC, no UI, and a per-process Derby home and warehouse
  * under [[graft.common.Scratch]]. */
object LocalSession {
  /** Worker threads: `SPARK_GRAFT_CPUS`, else every core. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    String.valueOf(Runtime.getRuntime.availableProcessors))

  def builder(): SparkSession.Builder = {
    val pid = ProcessHandle.current().pid()
    System.setProperty("derby.system.home",
      graft.common.Scratch.dir("spark", s"derby-$pid"))
    // Embedded-Derby fixtures: detect a lock-wait deadlock in 2s and time
    // out waits at 10s instead of the 20s/60s defaults — the retry loop
    // (Upsert.withRetries) converges the victim; these bound the STALL.
    System.setProperty("derby.locks.deadlockTimeout", "2")
    System.setProperty("derby.locks.waitTimeout", "10")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Codegen cache sized for the SUITE, not the default 100 entries:
      // 254 queries x ~30 generated classes cycle the default cache many
      // times over between the warmup sweep and the timed pass, so heavy
      // multi-stage plans (the dedup family) re-janino-compile COLD in
      // the timed section — measured 102.9 cpu-s cold vs 12.5 cpu-s warm
      // for x_dedup_prefix at sf0.1. Eviction order also made those cpu
      // numbers swing round-to-round.
      // Static conf: must be set before the first session is created.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Spark 4's codegen cache keys on (CLASSLOADER, source), and every
      // streaming query runs on a cloned session whose ArtifactManager
      // supplies a fresh classloader — so identical per-batch plans
      // re-janino-compiled on every drain (measured round 10:
      // s_stream_neardup_index +72 new classes per repeat, hotspotJit
      // 10.8 s; with shared loaders +0 and 6.9 s). No session here adds
      // artifacts, so isolation buys nothing and costs the entire
      // streaming-warmup benefit.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.common.Scratch.dir("spark", s"warehouse-$pid"))
  }
}

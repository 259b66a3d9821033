package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.runtime.Lift
import graft.table.ManagedTable

/** New JSON files land; one YAML lift job picks them up through a
  * `FullScan` file registry, filters and casts them, and upserts them into a
  * managed table; a few point reads of the table follow. The registry and
  * the target start from a pre-seeded history that is large next to one
  * tick's growth. */
final class LiftIngest(spark: SparkSession, seed: Long, corrupt: Boolean) extends Workload {
  private val HistFiles = 100
  private val HistRows = 30
  private val Ticks = 6
  private val FilesPerTick = 2
  private val RowsPerFile = 30
  private val UpdateShare = 0.3
  private val VoidShare = 0.1
  private val ReadsPerTick = 3
  private val KeysPerRead = 4
  private val Statuses = Array("new", "open", "closed")

  def nominalRoundSeconds: Double = 18.0

  private case class Rec(id: Long, name: String, amount: String, status: String) {
    def json: String =
      s"""{"id":"$id","name":"$name","amount":"$amount","status":"$status"}"""
    /** The row the lift's select/cast produces. */
    def row: String = s"$id|$name|${amount.toDouble}|$status"
  }

  private var dir = ""
  private def landing = s"$dir/landing"
  private def registryPath = s"$dir/registry"
  private def targetPath = s"$dir/target"
  private var warm = false
  private var model = Map.empty[Long, String]
  private var nextId = 0L
  private val landed = mutable.ArrayBuffer[String]()
  private var reads = Seq.empty[(String, Seq[Long])]
  private val readErrors = mutable.ArrayBuffer[String]()
  private var lastLog: graft.runtime.BlockLog = null
  private var registryVersion = 0L

  private def rng(salt: Long) = new scala.util.Random(seed * 1000003L + salt)

  private def name(r: scala.util.Random) = "n" + r.alphanumeric.take(6).mkString.toLowerCase

  private def record(r: scala.util.Random, id: Long): Rec =
    Rec(id, name(r), "%.2f".formatLocal(java.util.Locale.ROOT, r.nextInt(100000) / 100.0),
      if (r.nextDouble() < VoidShare) "void" else Statuses(r.nextInt(Statuses.length)))

  private def writeFile(file: String, recs: Seq[Rec]): Unit = {
    Util.writeText(s"$landing/$file", recs.map(_.json).mkString("", "\n", "\n"))
    landed += file
  }

  private def apply(recs: Seq[Rec]): Unit =
    recs.filter(_.status != "void").foreach(r => model += r.id -> r.row)

  /** The pre-seeded history: HistFiles files of fresh keys. */
  private def history(): Seq[Seq[Rec]] = {
    val r = rng(1)
    (0 until HistFiles).map(f => (0 until HistRows).map(k => record(r, f.toLong * HistRows + k)))
  }

  private def reset(d: String): Seq[Seq[Rec]] = {
    dir = d
    model = Map.empty
    landed.clear()
    readErrors.clear()
    nextId = HistFiles.toLong * HistRows
    val hist = history()
    hist.foreach(apply)
    hist
  }

  def prepare(d: String): String = {
    val hist = reset(d)
    hist.zipWithIndex.foreach { case (recs, f) => writeFile(f"hist-$f%05d.json", recs) }
    import spark.implicits._
    val files = graft.common.FsUtils.listFiles(spark, landing, ".json")
    ManagedTable(spark, registryPath).write(
      files.map(p => (p, new java.sql.Timestamp(1700000000000L))).toDF("file_path", "date_lifted"))
    ManagedTable(spark, targetPath).write(
      hist.flatten.filter(_.status != "void")
        .map(x => (x.id, x.name, x.amount.toDouble, x.status)).toDF("id", "name", "amount", "status"))
    Util.digest(model.values)
  }

  def beginRound(d: String, warmRound: Boolean): Unit = {
    reset(d)
    (0 until HistFiles).foreach(f => landed += f"hist-$f%05d.json")
    warm = warmRound
  }

  def ops: Int = if (warm) 2 else Ticks
  def kind(i: Int): String = "lift"

  private def yaml: String =
    s"""FileRegistry:
       |  Reg:
       |    Type: fileregistry::s3_full_scan
       |    Properties:
       |      BasePath: $registryPath
       |      UpdateAfter: Sink
       |LiftJob:
       |  Raw:
       |    Type: load::batch_json
       |    Properties:
       |      Path: $landing
       |      FileRegistry: Reg
       |      SparkSchema: "id STRING, name STRING, amount STRING, status STRING"
       |  Shaped:
       |    Type: transform::generic
       |    Input: Raw
       |    Properties:
       |      Functions:
       |        - where:
       |            predicate: [status, '!=', void]
       |        - select:
       |            cols:
       |              - {col: id, cast: bigint}
       |              - col: name
       |              - {col: amount, cast: double}
       |              - col: status
       |  Sink:
       |    Type: write::batch_delta
       |    Input: Shaped
       |    Properties:
       |      Path: $targetPath
       |      Mode: upsert
       |      Upsert:
       |        MergeStatement: source.id == updates.id
       |""".stripMargin

  /** Land the tick's files (outside the timed step) and advance the model. */
  override def beforeStep(i: Int): Unit = {
    val r = rng(1000L + i)
    val keys = model.keys.toIndexedSeq.sorted
    val total = FilesPerTick * RowsPerFile
    val nUpd = (total * UpdateShare).toInt
    val upd = r.shuffle(keys).take(nUpd)
    val fresh = (0 until total - nUpd).map(k => nextId + k)
    nextId += fresh.size
    val ids = r.shuffle(upd ++ fresh)
    val recs = ids.map(id => record(r, id))
    recs.grouped(RowsPerFile).zipWithIndex.foreach { case (g, f) =>
      writeFile(f"tick-$i%03d-$f%02d.json", g)
    }
    val applied = if (corrupt && i == 0) recs.filterNot(_.id == upd.head) else recs
    apply(applied)
    val live = model.keys.toIndexedSeq.sorted
    reads = (0 until ReadsPerTick).map { q =>
      val ks = (upd.take(1) ++ Seq.fill(KeysPerRead - 1)(live(r.nextInt(live.size)))).distinct
      (s"id IN (${ks.mkString(", ")})", ks)
    }
    registryVersion = ManagedTable(spark, registryPath).currentVersion.getOrElse(-1L)
  }

  def step(i: Int, s: Samples, t: Tracer): Long = {
    val (_, liftS) = Util.timed {
      lastLog = t.span("runtime", "runtime.lift")(Lift.lift(spark, yaml))
    }
    s.add("write", liftS)
    val readS = reads.map { case (cond, _) =>
      val (_, rs) = Util.timed(t.span("table", "table.readWhere")(
        Util.noop(ManagedTable(spark, targetPath).readWhere(cond))))
      s.add("read", rs)
      rs
    }
    s.add("step", liftS + readS.sum)
    FilesPerTick.toLong * RowsPerFile
  }

  override def afterStep(i: Int, t: Tracer): Map[String, Double] = {
    // one read checks the rows of all the tick's timed reads
    val ks = reads.flatMap(_._2).distinct
    val got = ManagedTable(spark, targetPath).readWhere(s"id IN (${ks.mkString(", ")})")
      .select("id", "name", "amount", "status").collect().map(Util.rowText)
    val want = ks.flatMap(model.get).toSet
    if (got.toSet != want || got.length != want.size)
      readErrors += s"tick $i: the reads of keys ${ks.mkString(", ")} differ from the model"
    if (!t.enabled) Map.empty
    else {
      val reg = ManagedTable(spark, registryPath)
      val listed = reg.read().count().toDouble
      val admitted = lastLog.getDf("Raw").inputFiles.length.toDouble
      Map("registry.files_listed" -> listed,
        "registry.files_admitted" -> admitted,
        "registry.admit_ratio" -> admitted / listed,
        "registry.commits_per_lift" -> (reg.currentVersion.get - registryVersion).toDouble)
    }
  }

  def check(): Check = {
    val errs = mutable.ArrayBuffer[String]() ++ readErrors
    val rows = ManagedTable(spark, targetPath).read().select("id", "name", "amount", "status")
      .collect().map(Util.rowText)
    val want = model.values.toSet
    if (rows.length != rows.toSet.size) errs += "target holds duplicate rows"
    if (rows.toSet != want)
      errs += s"target differs from the upsert model: ${(rows.toSet -- want).size} unexpected, " +
        s"${(want -- rows.toSet).size} missing"
    val reg = ManagedTable(spark, registryPath).read().collect()
      .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName, r.get(1) != null))
    val perFile = reg.groupBy(_._1).map { case (f, rs) => f -> rs.length }
    if (perFile.values.exists(_ != 1)) errs += "a file is registered more than once"
    if (perFile.keySet != landed.toSet)
      errs += s"registry lists ${perFile.size} files, ${landed.size} landed"
    if (reg.exists(!_._2)) errs += s"${reg.count(!_._2)} landed files are not marked lifted"
    Check(errs.toSeq, Util.digest(rows))
  }

  def tableDirs: Seq[String] = Seq(registryPath, targetPath)
  def liveSnapshots: Seq[DataFrame] = tableDirs.map(p => ManagedTable(spark, p).read())

  def layers(traces: Seq[UnitTrace], probes: Seq[Map[String, Double]]): Seq[(String, Double, String)] = {
    import Layers._
    Seq(
      ("runtime.lift_s", med(traces)(_.spans.getOrElse("runtime.lift", 0.0)), "s"),
      ("runtime.jobs_per_lift", med(traces)(_.jobsBySpan.getOrElse("runtime.lift", 0).toDouble), "count"),
      ("registry.job_s", med(traces)(_.jobS.getOrElse("registry", 0.0)), "s"),
      ("registry.jobs_per_lift", med(traces)(_.jobs.getOrElse("registry", 0).toDouble), "count"),
      ("registry.table_s", med(traces)(_.jobS.getOrElse("registry>table", 0.0)), "s"),
      ("registry.files_listed", med(traces)(_.counts.getOrElse("registry.files_listed", 0.0)), "count"),
      ("registry.files_admitted", med(traces)(_.counts.getOrElse("registry.files_admitted", 0.0)), "count"),
      ("registry.admit_ratio", med(traces)(_.counts.getOrElse("registry.admit_ratio", 0.0)), "ratio"),
      ("registry.commits_per_lift", med(traces)(_.counts.getOrElse("registry.commits_per_lift", 0.0)), "count"),
      ("blocks.job_s", med(traces)(_.jobS.getOrElse("blocks", 0.0)), "s"),
      ("blocks.jobs_per_lift", med(traces)(_.jobs.getOrElse("blocks", 0).toDouble), "count"),
      ("blocks.shuffle_mb", med(traces)(u => u.shuffleMb.getOrElse("blocks", 0.0) +
        u.shuffleMb.getOrElse("blocks>table", 0.0)), "MB"),
      ("table.merge_s", med(traces)(_.jobS.getOrElse("blocks>table.merge", 0.0)), "s"),
      ("table.readWhere_s", med(traces)(_.spans.getOrElse("table.readWhere", 0.0) / ReadsPerTick), "s"),
      ("common.listings_per_step", med(traces)(_.listings.toDouble), "count"),
      ("sql.planning_s", med(traces)(_.planningS), "s"),
      ("jvm.gc_s", med(traces)(_.gcS), "s")) ++ selfTimes(traces)
  }
}

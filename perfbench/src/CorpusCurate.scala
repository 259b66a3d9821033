package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Caches, Dedup, TextOps}
import graft.table.ManagedTable

/** Waves of freshly generated documents in several languages, with planted
  * exact and near duplicates, shared boilerplate spans, junk and repetition
  * spam, curated by the corpus operators and appended to a managed table.
  * Waves have a fixed size and nothing is indexed across waves. */
final class CorpusCurate(spark: SparkSession, seed: Long, corrupt: Boolean) extends Workload {
  import spark.implicits._

  private val Waves = 6
  // waves of 163 documents of 50-75 words; larger waves spread too widely
  // between runs (see perfbench/README.md)
  private val Fresh = 120
  private val Words = 50
  private val ExactDups = Fresh / 12
  private val NearDups = Fresh / 12
  private val Junk = Fresh / 8
  private val Spam = Fresh / 15
  /** Words a near duplicate changes, for a shingle Jaccard of about 0.8
    * with its original. */
  private val NearEdits = Words / 22
  private val BoilerplateShare = 0.3
  private val Quantile = 0.05
  private val MaxRepRatio = 0.2
  private val K = 8
  private val ProbeCopies = 4

  /** Markers each language's documents use: the marker words of
    * `TextOps.LangProfiles` that no other profile shares. */
  private val Markers: Seq[(String, Seq[String])] = TextOps.LangProfiles.map { case (l, ws) =>
    l -> ws.filterNot(w => TextOps.LangProfiles.exists { case (o, os) => o != l && os.contains(w) })
  }

  private case class Doc(id: Long, text: String, kind: String, lang: String, of: Long)
  /** What the table must hold for a kept document. */
  private case class Out(id: Long, wave: Int, lang: String, nTokens: Int, nKept: Int, fp: String) {
    def text: String = s"$id|$wave|$lang|$nTokens|$nKept|$fp"
  }

  def nominalRoundSeconds: Double = 20.0

  private var path = ""
  private var waves = IndexedSeq.empty[Seq[Doc]]
  private var warm = false
  private var appended = mutable.ArrayBuffer[Out]()
  private var reads = Seq.empty[(String, Long => Boolean)]
  private var pairs: DataFrame = null
  private val errors = mutable.ArrayBuffer[String]()
  private var lastRecall = 0.0
  private var lshMisses = 0
  private var planted = 0

  private def rng(salt: Long) = new scala.util.Random(seed * 1000003L + salt)

  private def vocabulary(r: scala.util.Random): IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "nu", "re", "ti", "sa", "vo", "pe", "du", "ga", "zo")
    Iterator.continually((0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .filter(_.length >= 4).distinct.take(400).toIndexedSeq
  }

  private def generate(w: Int): Seq[Doc] = {
    val r = rng(100L + w)
    val vocab = vocabulary(rng(7))
    val boiler = Seq.fill(2)(Seq.fill(12)(vocab(r.nextInt(vocab.size))).mkString(" "))
    val base = w.toLong * 10000
    val fresh = (0 until Fresh).map { i =>
      val (lang, marks) = Markers(r.nextInt(Markers.size))
      val n = Words + r.nextInt(Words / 2)
      // at least three markers, so a near copy's edits cannot remove them all
      val words = (0 until n).map { k =>
        if (k % (n / 3) == 0 || r.nextDouble() < 0.15) marks(r.nextInt(marks.size))
        else vocab(r.nextInt(vocab.size))
      }
      val text = words.mkString(" ") +
        (if (r.nextDouble() < BoilerplateShare) " " + boiler(r.nextInt(2)) else "")
      Doc(base + i, text, "fresh", lang, -1)
    }
    var next = base + Fresh
    def id(): Long = { next += 1; next - 1 }
    val exact = (0 until ExactDups).map { _ =>
      val o = fresh(r.nextInt(Fresh)); Doc(id(), o.text, "exact", o.lang, o.id)
    }
    val near = (0 until NearDups).map { _ =>
      val o = fresh(r.nextInt(Fresh))
      val ws = o.text.split(" ").toBuffer
      (0 until NearEdits).foreach(_ => ws(r.nextInt(ws.size)) = vocab(r.nextInt(vocab.size)))
      Doc(id(), ws.mkString(" "), "near", o.lang, o.id)
    }
    val junk = (0 until Junk).map { _ =>
      val ws = Seq.fill(8 + r.nextInt(10))(Seq("####", "!!!", "%%", "@@@", "***", r.nextInt(9999).toString)(r.nextInt(6)))
      Doc(id(), ws.mkString(" "), "junk", "und", -1)
    }
    val spam = (0 until Spam).map { _ =>
      val (lang, marks) = Markers(r.nextInt(Markers.size))
      val phrase = Seq.fill(3)(vocab(r.nextInt(vocab.size))).mkString(" ")
      Doc(id(), (Seq.fill(15)(phrase) ++ marks).mkString(" "), "spam", lang, -1)
    }
    fresh ++ exact ++ near ++ junk ++ spam
  }

  private def shingles(t: String): Set[String] =
    t.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9']+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    math.round((a & b).size.toDouble / (a | b).size * 1e4) / 1e4

  /** The bands of a shingle set's MinHash signature as `Dedup` documents
    * them: component i is min over shingles s of ((2i+1)·h32(s) + 101i+17)
    * mod P, h32 the first four md5 bytes, and the 64 components form 16
    * bands of 4. */
  private def bands(sh: Set[String]): Seq[Seq[Long]] = {
    val mins = Array.fill(64)(Dedup.P)
    val md = java.security.MessageDigest.getInstance("MD5")
    sh.foreach { x =>
      val d = md.digest(x.getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (0 until 64).foreach { i => mins(i) = math.min(mins(i), (h * (2 * i + 1) + 101 * i + 17) % Dedup.P) }
    }
    mins.toSeq.grouped(4).toSeq
  }

  /** The model of one wave's curation. Junk (no language) and spam
    * (repetition) are filtered out. Every pair of kept documents whose
    * signatures share a band and whose shingle Jaccard is at least 0.5 must
    * be reported, and every reported pair must be a planted pair at that
    * Jaccard. A document survives deduplication when no reported pair links
    * it to a lower id, and each survivor loses every 8-token window whose
    * first occurrence (by id, position) is elsewhere. */
  private def expected(w: Int, docs: Seq[Doc], found: Set[(Long, Long)]): (Seq[Out], Seq[String]) = {
    val errs = mutable.ArrayBuffer[String]()
    val byId = docs.map(d => d.id -> d).toMap
    def family(d: Doc) = if (d.of >= 0) d.of else d.id
    val sh = docs.filter(d => Set("fresh", "exact", "near").contains(d.kind)).map(d => d.id -> shingles(d.text)).toMap
    val banded = sh.toSeq.flatMap { case (id, s) => bands(s).zipWithIndex.map(_ -> id) }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val predicted = banded.flatMap(ids => ids.combinations(2).map { case Seq(a, b) => (a, b) })
      .filter { case (a, b) => jaccard(sh(a), sh(b)) >= 0.5 }.toSet
    val missed = predicted -- found
    if (missed.nonEmpty)
      errs += s"wave $w: ${missed.size} pairs that share a signature band at Jaccard >= 0.5 were not reported"
    found.foreach { case (a, b) =>
      val (x, y) = (byId(a), byId(b))
      if (family(x) != family(y) || !sh.contains(a) || !sh.contains(b) || jaccard(sh(a), sh(b)) < 0.5)
        errs += s"wave $w: reported pair ($a, $b) is not a near duplicate"
    }
    val parent = mutable.HashMap[Long, Long]()
    def root(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else root(p) }
    found.toSeq.sorted.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val near = docs.filter(_.kind == "near")
    val linked = near.filter(d => root(d.id) != d.id)
    lastRecall = linked.size.toDouble / near.size
    // at Jaccard 0.7 a MinHash with independent permutations and these bands
    // misses about one pair in 80
    lshMisses += near.count(d => !linked.contains(d) && jaccard(sh(d.id), sh(d.of)) >= 0.7)
    planted += near.size
    val kept = docs.filter(d => Set("fresh", "exact", "near").contains(d.kind) && root(d.id) == d.id)
      .sortBy(_.id) ++ (if (corrupt) docs.filter(_.kind == "exact").take(1) else Nil)
    val toks = kept.map(d => d.id -> d.text.split(" ").toIndexedSeq)
    val first = mutable.HashMap[Seq[String], (Long, Int)]()
    toks.foreach { case (id, ts) =>
      (0 to ts.size - K).foreach(p => first.getOrElseUpdate(ts.slice(p, p + K), (id, p)))
    }
    val out = toks.map { case (id, ts) =>
      val covered = (0 to ts.size - K).filter(p => first(ts.slice(p, p + K)) != ((id, p)))
        .flatMap(p => p until p + K).toSet
      val rest = ts.indices.filterNot(covered).map(ts)
      Out(id, w, byId(id).lang, ts.size, rest.size, Util.md5Hex(rest.mkString(" ")))
    }
    (out, errs.toSeq)
  }

  def prepare(d: String): String = {
    path = s"$d/curated"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    waves = (0 until Waves).map(generate)
    Util.digest(waves.flatten.map(x => s"${x.id}|${x.kind}|${x.text}"))
  }

  def beginRound(d: String, warmRound: Boolean): Unit = {
    path = s"$d/curated"
    warm = warmRound
    appended.clear()
    errors.clear()
    lshMisses = 0
    planted = 0
  }

  def ops: Int = if (warm) 2 else Waves
  def kind(i: Int): String = "wave"

  /** Each operator's output feeds several later ones; without this a warm
    * wave recomputes them and took 36.6 s instead of 7.0 s. */
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def step(i: Int, s: Samples, t: Tracer): Long = {
    val docs = waves(i)
    val (_, waveS) = Util.timed {
      val in = docs.map(d => (d.id, d.text)).toDF("id", "text")
      val withLang = t.span("ops", "ops.langid")(materialize(TextOps.langId(in)))
      val quality = t.span("ops", "ops.quality")(materialize(TextOps.qualityFilter(withLang, "id", Quantile)))
      val kept = t.span("ops", "ops.repetition") {
        val rep = TextOps.repetitionStats(withLang, "id")
        materialize(withLang.join(quality, "id").join(rep.select("id", "rep_ratio"), "id")
          .where(col("lang_pred") =!= "und" && col("rep_ratio") < MaxRepRatio))
      }
      pairs = t.span("ops", "ops.minhash_pairs")(materialize(Dedup.minhashLshPairs(kept, "id", "text")))
      val clusters = t.span("ops", "ops.clusters")(materialize(Dedup.dedupClusters(kept, "id", pairs)))
      val deduped = kept.join(clusters.where(col("id") === col("cluster_id")).select("id"), "id")
      val excised = t.span("ops", "ops.excise")(materialize(Dedup.exciseDuplicatedSpans(deduped, "id", "text")))
      val out = deduped.select(col("id"), lit(i).as("wave"), col("lang_pred").as("lang"),
          col("quality_score"), col("rep_ratio"))
        .join(excised.select("id", "n_tokens", "n_kept", "fp_clean"), "id")
      val (_, appendS) = Util.timed(t.span("table", "table.append")(ManagedTable(spark, path).append(out)))
      s.add("write", appendS)
      Caches.release(spark)
      spark.catalog.clearCache()
    }
    s.add("step", waveS)
    reads.foreach { case (cond, _) =>
      val (_, rs) = Util.timed(t.span("table", "table.readWhere")(
        Util.noop(ManagedTable(spark, path).readWhere(cond))))
      s.add("read", rs)
    }
    docs.size.toLong
  }

  override def beforeStep(i: Int): Unit = {
    val r = rng(5000L + i)
    val fresh = waves(i).filter(_.kind == "fresh")
    val ids = Seq.fill(3)(fresh(r.nextInt(fresh.size)).id) ++ waves(i).filter(_.kind == "junk").take(1).map(_.id)
    reads = Seq((s"wave = $i", _ => true), (s"id IN (${ids.mkString(", ")})", ids.contains))
  }

  private def outText(df: DataFrame): Array[String] =
    df.select("id", "wave", "lang", "n_tokens", "n_kept", "fp_clean").collect().map(Util.rowText)

  override def afterStep(i: Int, t: Tracer): Map[String, Double] = {
    val found = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (exp, errs) = expected(i, waves(i), found)
    errors ++= errs
    appended ++= exp
    // the wave's rows, read once, hold the answer to each timed read
    val wave = outText(ManagedTable(spark, path).readWhere(s"wave = $i"))
    reads.foreach { case (cond, hit) =>
      val got = wave.filter(r => hit(r.takeWhile(_ != '|').toLong))
      val want = exp.filter(o => hit(o.id)).map(_.text).toSet
      if (got.toSet != want || got.length != want.size)
        errors += s"wave $i read [$cond]: ${got.length} rows differ from the model's ${want.size}"
    }
    if (!t.enabled) Map.empty
    else Map("ops.pairs_per_wave" -> found.size.toDouble, "ops.planted_recall" -> lastRecall)
  }

  def check(): Check = {
    val errs = mutable.ArrayBuffer[String]() ++ errors
    val rows = outText(ManagedTable(spark, path).read())
    val want = appended.map(_.text).toSet
    val byKind = waves.flatten.map(d => d.id -> d.kind).toMap
    val got = rows.map(_.split('|').head.toLong).toSet
    val wantIds = appended.map(_.id).toSet
    (wantIds -- got).groupBy(byKind).foreach { case (k, ids) => errs += s"${ids.size} $k documents missing" }
    (got -- wantIds).groupBy(byKind).foreach { case (k, ids) => errs += s"${ids.size} $k documents kept" }
    val wrongText = rows.count(r => wantIds.contains(r.split('|').head.toLong) && !want.contains(r))
    if (wrongText > 0) errs += s"$wrongText documents differ from the model after span excision"
    if (rows.length != want.size || rows.toSet != want)
      if (errs.isEmpty) errs += "curated table differs from the model"
    println(s"perfbench finding lsh: of $planted planted near duplicates, $lshMisses at shingle Jaccard >= 0.7 " +
      "were not reported")
    Check(errs.toSeq, Util.digest(rows))
  }

  def tableDirs: Seq[String] = Seq(path)
  def liveSnapshots: Seq[DataFrame] = Seq(ManagedTable(spark, path).read())

  /** Per-document cost of each codegen kernel: a noop projection over every
    * document of the round (four copies), minus a projection of the kernel's
    * input, each the best of two. */
  override def tracedProbes(t: Tracer): Map[String, Double] = {
    val docs = waves.flatten.map(_.text)
    val all = Seq.fill(ProbeCopies)(docs).flatten
    val base = all.toDF("text")
      .select(col("text"), GraftFunctions.lowerTokens(col("text")).as("toks"))
      .select(col("text"), col("toks"), GraftFunctions.wordShingles(col("toks"), 3).as("sh"))
      .repartition(spark.sparkContext.defaultParallelism).persist()
    base.count()
    def best(c: org.apache.spark.sql.Column): Double =
      (0 until 2).map(_ => Util.timed(Util.noop(base.select(c)))._2).min
    val n = all.size.toDouble
    val kernels = Seq(
      "lower_tokens" -> (GraftFunctions.lowerTokens(col("text")), col("text")),
      "shingles" -> (GraftFunctions.wordShingles(col("toks"), 3), col("toks")),
      "minhash" -> (GraftFunctions.minhashSig(col("sh"), 64, Dedup.P), col("sh")),
      "simhash" -> (GraftFunctions.simhash64(col("toks")), col("toks")),
      "deflate" -> (GraftFunctions.deflateRatio(col("text")), col("text")))
    val out = kernels.map { case (k, (kernel, input)) =>
      best(kernel) // warm the kernel's generated code
      s"functions.${k}_ns_per_doc" -> (best(kernel) - best(input)) / n * 1e9
    }.toMap
    base.unpersist()
    out
  }

  def layers(traces: Seq[UnitTrace], probes: Seq[Map[String, Double]]): Seq[(String, Double, String)] = {
    import Layers._
    val ops = Seq("langid", "quality", "repetition", "minhash_pairs", "clusters", "excise").map { o =>
      (s"ops.${o}_s", med(traces)(_.spans.getOrElse(s"ops.$o", 0.0)), "s")
    }
    val kernels = Seq("lower_tokens", "shingles", "minhash", "simhash", "deflate").map { k =>
      val n = s"functions.${k}_ns_per_doc"
      (n, Util.median(probes.flatMap(_.get(n))), "ns")
    }
    ops ++ kernels ++ Seq(
      ("table.append_s", med(traces)(_.spans.getOrElse("table.append", 0.0)), "s"),
      ("ops.shuffle_mb", med(traces)(_.shuffleMb.getOrElse("ops", 0.0)), "MB"),
      ("ops.spill_mb", med(traces)(_.spillMb.getOrElse("ops", 0.0)), "MB"),
      ("ops.pairs_per_wave", med(traces)(_.counts.getOrElse("ops.pairs_per_wave", 0.0)), "count"),
      ("ops.planted_recall", med(traces)(_.counts.getOrElse("ops.planted_recall", 0.0)), "ratio"),
      ("common.listings_per_step", med(traces)(_.listings.toDouble), "count"),
      ("sql.planning_s", med(traces)(_.planningS), "s"),
      ("jvm.gc_s", med(traces)(_.gcS), "s")) ++ selfTimes(traces)
  }
}

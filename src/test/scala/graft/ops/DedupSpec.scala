package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("dedupClusters: driver union-find and distributed propagation agree") {
    // chain 1-2-3, clique 10-11, isolated 20/21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")

    val viaUnionFind = Dedup.dedupClusters(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq

    val viaPropagation = {
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      val labels = Dedup.propagateLabels(edges)
      docs.select(col("doc_id").as("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    }

    val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L)
    assert(viaUnionFind === expected)
    assert(viaPropagation === expected)
  }

  test("exact dedup groups by content, not by id") {
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(docs, "text", "doc_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(1L -> 2L, 3L -> 1L))
  }

  test("simhash bucket-cap split path equals brute force") {
    // every signature shares band 0 (low 15 bits = 0x1234), so ALL docs
    // land in one band-0 bucket; cap=5 forces that bucket through the
    // secondary sub-band split, which must stay exact for distance <= 3
    val base = 0x0ABCDE0FF1234L | 0x1234L
    val sigs = (0 until 24).map { i =>
      val flips = (i % 4) match {
        case 0 => 0L                                  // identical to base
        case 1 => 1L << (15 + (i % 40))               // hamming 1
        case 2 => (1L << 20) | (1L << 45) | (1L << 59) // hamming 3 from base
        case 3 => 0x3F0L << 30                        // hamming 6 — out
      }
      (i.toLong, base ^ flips)
    }.toDF("id", "sig")

    def brute(maxD: Int): Set[(Long, Long, Int)] = {
      val rows = sigs.as[(Long, Long)].collect()
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxD
      } yield (ia, ib, h)).toSet
    }

    val split = Dedup.simhashPairsFromSigs(sigs, maxDistance = 3, bucketCap = 5)
      .as[(Long, Long, Int)].collect().toSet
    val plain = Dedup.simhashPairsFromSigs(sigs, maxDistance = 3, bucketCap = 100000)
      .as[(Long, Long, Int)].collect().toSet
    assert(split === brute(3))
    assert(plain === brute(3))
  }

  test("ngram hot-shingle cap prunes boilerplate buckets, keeps real near-dups") {
    // 12 docs share ONLY the boilerplate trailer; docs 100/101 are real
    // near-dups of each other (and also carry the trailer)
    val trailer = "all rights reserved worldwide"
    val docs = ((0 until 12).map(i =>
      (i.toLong, s"unique$i alpha$i beta$i gamma$i delta$i $trailer")) ++ Seq(
      (100L, s"the quick brown fox jumps over the lazy dog $trailer"),
      (101L, s"the quick brown fox jumps over the lazy cat $trailer")))
      .toDF("doc_id", "text")

    // uncapped: boilerplate-only pairs exist as candidates but fail the
    // 0.3 threshold except the true pair; capped at df<=4 the trailer
    // shingles (df=14) leave the index and the true pair must survive
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.3, maxShingleDf = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))

    // candidate volume actually shrinks: with the cap the inverted-index
    // join can no longer produce the 12-doc boilerplate clique at ANY
    // threshold; without it every trailer pair is a candidate
    val cappedAll = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.0, maxShingleDf = 4).count()
    val uncappedAll = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.0, maxShingleDf = 0).count()
    assert(cappedAll === 1L)
    assert(uncappedAll >= (14L * 13L) / 2L)
  }

  test("hashed-prefilter pair ops equal brute force on a randomized corpus") {
    // the pair self-join now keys on xxhash64(shingle) and re-verifies
    // survivors with the exact string-keyed count — output must equal the
    // brute-force pair set on a corpus with heavy shingle sharing
    val rnd = new scala.util.Random(421)
    val vocab = (0 until 40).map(i => s"w$i")
    val texts = (0 until 60).map { i =>
      val base = Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      i.toLong -> base.mkString(" ")
    }.toMap
    val docs = texts.toSeq.toDF("doc_id", "text")
    def sh(t: String): Set[String] = {
      val toks = t.split(" ").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    val wantJ = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = sh(texts(a)); sb = sh(texts(b))
      c = (sa & sb).size if c > 0
      j = r4(c.toDouble / (sa.size + sb.size - c)) if j >= 0.3
    } yield (a, b, j)).toSet
    val gotJ = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotJ === wantJ)

    val wantC = (for {
      a <- texts.keys; b <- texts.keys if a != b
      sa = sh(texts(a)); sb = sh(texts(b))
      c = (sa & sb).size if sa.nonEmpty
      cont = r4(c.toDouble / sa.size) if cont >= 0.4 && sa.size >= 3
    } yield (a, b, cont, sa.size)).toSet
    val gotC = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.4, minShingles = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(gotC === wantC)
  }

  test("containmentPairs equals brute force and is direction-correct") {
    // doc 1 is wholly contained in doc 0; doc 2 overlaps both partially
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "beta gamma delta epsilon zeta"),
      (2L, "gamma delta epsilon zeta unrelated words here"),
      (3L, "completely different content with no overlap at all"))
      .toDF("doc_id", "text")
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = Map(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "beta gamma delta epsilon zeta",
      2L -> "gamma delta epsilon zeta unrelated words here",
      3L -> "completely different content with no overlap at all")
    val want = (for {
      a <- texts.keys; b <- texts.keys if a != b
      sa = sh(texts(a)); sb = sh(texts(b))
      c = (sa & sb).size if sa.nonEmpty
      cont = BigDecimal(c.toDouble / sa.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cont >= 0.5 && sa.size >= 3
    } yield (a, b, cont, sa.size)).toSet
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, minShingles = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === want)
    // doc1 ⊂ doc0: the directed scores are asymmetric — full containment
    // one way (3/3), partial the other (3/6)
    assert(got.exists { case (s, d, c, _) => s == 1L && d == 0L && c == 1.0 })
    assert(got.exists { case (s, d, c, _) => s == 0L && d == 1L && c == 0.5 })
  }

  test("prefixJaccardPairs is lossless and drops boilerplate from the index") {
    // two true near-dups + a 12-doc family sharing ONLY a boilerplate
    // trailer: the df-cap test's adversarial corpus. Prefix filtering must
    // find the true pair (losslessness) while the trailer shingles — max
    // document frequency, so LAST in the rarest-first global order — never
    // enter any prefix, so the clique produces no candidates.
    val trailer = "all rights reserved contact us for details"
    val docs = ((100L, "the quick brown fox jumps over the lazy dog " + trailer) +:
      (101L, "the quick brown fox jumps over the lazy cat " + trailer) +:
      (0L until 12L).map(i =>
        (i, s"unique body text number $i with its own words " + trailer)))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.contains((100L, 101L)))
  }

  test("bloomIncremental equals incrementalExact bit-for-bit") {
    import org.apache.spark.sql.functions.col
    // batch: some docs duplicate the index, some duplicate each other,
    // some are genuinely new — all three paths through the prefilter
    val index = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val fresh = Seq((10L, "alpha"), (11L, "new one"), (12L, "new one"),
      (13L, "delta"), (14L, "beta")).toDF("doc_id", "text")
    val plain = Dedup.incrementalExact(fresh, index, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    val bloom = Dedup.bloomIncremental(fresh, index, "text", "doc_id",
        expectedItems = 1000L)
      .as[(Long, Long)].collect().toSet
    assert(bloom === plain)
    assert(plain === Set((11L, 2L), (13L, 1L)))
    // the prefilter is really in the plan: the batch side carries a
    // might_contain probe before any join (asserted on the analyzed plan —
    // over a LocalRelation the optimizer folds the whole filter away,
    // which on real file sources doesn't happen)
    val plan = Dedup.bloomIncremental(fresh, index, "text", "doc_id", 1000L)
      .queryExecution.analyzed.toString
    assert(plan.contains("might_contain"), plan.take(2000))
  }

  test("duplicatedSpans marks exactly the positions inside >= k-token repeats") {
    // doc 1: 12 unique tokens. doc 2 copies tokens 3..8 of doc 1 (a 6-token
    // run) into the middle of otherwise-unique text. doc 3 repeats its own
    // 5-token opening once (within-doc repetition). doc 4 shares only a
    // 4-token run with doc 1 — below k=5, must not be marked.
    val d1 = "a b c d e f g h i j k l"
    val d2 = "x1 x2 d e f g h i x3 x4"        // 6-token copied run -> 6 dup
    val d3 = "p q r s t zz p q r s t"          // second 5-run dup -> 5 dup
    val d4 = "y1 y2 a b c d y3 y4"             // 4-run only -> no dup
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 12, 0L, 0.0),
      (2L, 10, 6L, 0.6),
      (3L, 11, 5L, round6(5.0 / 11)),
      (4L, 8, 0L, 0.0)))
    // layout-independent: same answer from a scrambled partitioning
    val again = Dedup.duplicatedSpans(docs.repartition(7), "doc_id", "text", k = 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(again === got)
  }

  test("exciseDuplicatedSpans removes marked positions, keeps first copies") {
    val d1 = "a b c d e f g h i j k l"
    val d2 = "x1 x2 d e f g h i x3 x4"
    val d3 = "p q r s t zz p q r s t"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val got = Dedup.exciseDuplicatedSpans(docs, "doc_id", "text", k = 5)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    def fp(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === Seq(
      (1L, 12, 12, fp(d1)),                       // first copies stay whole
      (2L, 10, 4, fp("x1 x2 x3 x4")),             // copied 6-run excised
      (3L, 11, 6, fp("p q r s t zz"))))           // own second 5-run excised
    // n_tokens - n_kept agrees with duplicatedSpans' dup_tokens
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 5)
      .as[(Long, Int, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    got.foreach { case (id, n, kept, _) => assert(n - kept === spans(id)) }
  }

  test("keepBest keeps the highest rank and breaks ties to the smallest id") {
    val docs = Seq(
      (1L, "same text", 10L), // family A, shorter
      (2L, "same  TEXT ", 12L), // family A after normalization, longest -> kept
      (3L, "same text", 12L), // family A, ties rank 12 with id 2 -> id 2 wins
      (4L, "unique document", 7L))
      .toDF("doc_id", "text", "n_chars")
    val got = Dedup.keepBest(docs,
        TextOps.normalize(col("text")), col("n_chars"), "doc_id")
      .select("doc_id", "n_chars", "n_copies")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 12L, 3L), (4L, 7L, 1L)))
    // layout-independent: repartitioned input selects the same rows
    val again = Dedup.keepBest(docs.repartition(5),
        TextOps.normalize(col("text")), col("n_chars"), "doc_id")
      .select("doc_id", "n_chars", "n_copies")
      .as[(Long, Long, Long)].collect().toSet
    assert(again === got)
  }

  test("keepBest tie-breaks lexicographically on STRING ids") {
    val docs = Seq(
      ("url-b", "same text", 12L),  // family A, rank 12, tie
      ("url-a", "same  TEXT ", 12L), // family A, rank 12 -> smallest id wins
      ("url-c", "same text", 10L),  // family A, lower rank
      ("url-z", "unique document", 7L))
      .toDF("doc_id", "text", "n_chars")
    val got = Dedup.keepBest(docs,
        TextOps.normalize(col("text")), col("n_chars"), "doc_id")
      .select("doc_id", "n_chars", "n_copies")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("url-a", 12L, 3L), ("url-z", 7L, 1L)))
  }

  test("keepBest: NULL ranks always lose to ranked duplicates") {
    // bitwise_not(NULL) is NULL and struct-min sorts nulls FIRST, so
    // without the leading is-null flag an unranked copy would beat every
    // ranked one — a corpus with missing quality scores must keep the
    // scored copy, and an all-null family falls back to the id tie-break
    val docs = Seq(
      (1L, "same text", Some(3L)),   // ranked -> must win over null
      (2L, "same  TEXT ", None),     // null rank -> must lose
      (3L, "other doc", None),       // all-null family: id tie-break
      (4L, "other  DOC ", None))
      .toDF("doc_id", "text", "rank")
    val got = Dedup.keepBest(docs,
        TextOps.normalize(col("text")), col("rank"), "doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 2L)))
    // same contract for fractional ranks (negation path)
    val fdocs = Seq(
      (1L, "same text", Some(0.5)), (2L, "same  TEXT ", None))
      .toDF("doc_id", "text", "rank")
    val fgot = Dedup.keepBest(fdocs,
        TextOps.normalize(col("text")), col("rank"), "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(fgot === Seq(1L))
  }

  test("propagateLabels matches union-find on cycles, long chains, and stars") {
    // the distributed path only runs above MaxDriverEdges in production —
    // exercise it directly on the graph shapes that stress convergence:
    // a pure cycle (no natural root direction), a 30-node chain (30-round
    // worst case), a star, and cross-linked cliques
    val cycle = (0 until 8).map(i => (100L + i, 100L + (i + 1) % 8))
    val chain = (0 until 29).map(i => (200L + i + 1, 200L + i)) // edges point BACK
    val star = (1 to 6).map(i => (300L, 300L + i))
    val bridge = Seq((400L, 401L), (402L, 403L), (401L, 402L))
    val edges = (cycle ++ chain ++ star ++ bridge)
      .toDF("src", "dst")
    val got = Dedup.propagateLabels(edges)
      .as[(Long, Long)].collect().toMap
    // oracle: min reachable id via plain Scala union-find
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    (cycle ++ chain ++ star ++ bridge).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = (cycle ++ chain ++ star ++ bridge).flatMap(e => Seq(e._1, e._2)).distinct
    assert(got.size === nodes.size)
    nodes.foreach(n => assert(got(n) === find(n), s"node $n"))
    graft.ops.Caches.release()
  }

  test("keepBest survives Long.MinValue ranks (bitwise-NOT descending key)") {
    val docs = Seq(
      (1L, "same text", Long.MinValue), // would overflow under negation
      (2L, "same  TEXT ", 5L),          // highest rank -> kept
      (3L, "unique document", Long.MinValue))
      .toDF("doc_id", "text", "rank")
    val got = Dedup.keepBest(docs,
        TextOps.normalize(col("text")), col("rank"), "doc_id")
      .select("doc_id", "rank", "n_copies")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 5L, 2L), (3L, Long.MinValue, 1L)))
  }

  private def round6(x: Double): Double = math.round(x * 1e6) / 1e6

  test("dedupClusters collects its edges once and broadcasts its labels") {
    // a random forest of small components, materialized over 1, 3 and 200
    // partitions like the operator outputs a curation wave checkpoints
    val rnd = new scala.util.Random(7)
    val raw = (0 until 120).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a < b }
    val docs = spark.range(0, 250).select(col("id").as("doc_id"))
    for (parts <- Seq(1, 3, 200)) {
      val pairs = raw.toDF("id_a", "id_b").repartition(parts).localCheckpoint()
      val (clusters, jobs) = jobsDuring(Dedup.dedupClusters(docs, "doc_id", pairs))
      // persist + count + collect took 4 jobs on every partition count; a
      // root limit-collect would take 1 + log4(partitions), 5 on 200
      assert(jobs <= 2, s"$jobs jobs before the result was executed on $parts partitions")
      // the labels are a local relation with statistics: the corpus join
      // plans as a broadcast and never shuffles the corpus
      val plan = clusters.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning"), plan)
      val got = clusters.as[(Long, Long)].collect().sortBy(_._1).toSeq
      val labels = Dedup.propagateLabels(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .as[(Long, Long)].collect().toMap
      assert(got === (0L until 250L).map(i => i -> labels.getOrElse(i, i)), s"$parts partitions")
      Caches.release(spark)
    }
  }

  /** The aggregate + join-back first-occurrence formulation that
    * `exciseDuplicatedSpans` replaced with one window, kept as its
    * reference (the gram stream is built twice here). */
  private def exciseByJoin(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
    val grams = toks.select(col("id"),
        explode(expr(
          s"""CASE WHEN size(toks) < $k THEN array()
             |ELSE transform(sequence(0, size(toks) - $k),
             |  i -> struct(i AS pos,
             |    xxhash64(concat_ws(' ', slice(toks, i + 1, $k))) AS g))
             |END""".stripMargin)).as("e"))
      .select(col("id"), col("e.pos").as("pos"), col("e.g").as("g"))
    val firsts = grams.groupBy(col("g"))
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    val covered = grams.join(firsts, "g")
      .where(!(col("id") === col("first.id") && col("pos") === col("first.pos")))
      .select(col("id"), col("pos"))
      .groupBy(col("id")).agg(collect_set(col("pos")).as("ps"))
      .select(col("id"), expr(
        s"array_distinct(flatten(transform(ps, p -> sequence(p, p + ${k - 1}))))")
        .as("cov"))
    toks.join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), size(col("toks")).as("n_tokens"),
        expr("filter(toks, (t, i) -> NOT array_contains(" +
          "coalesce(cov, cast(array() as array<int>)), i))").as("kept"))
      .select(col(idCol), col("n_tokens"), size(col("kept")).as("n_kept"),
        md5(concat_ws(" ", col("kept")).cast("binary")).as("fp_clean"))
  }

  test("exciseDuplicatedSpans is unchanged on a corpus with a gram repeated across many docs") {
    val rnd = new scala.util.Random(31)
    val boiler = "subscribe to our newsletter for the latest news and offers today"
    val texts = (0 until 60).map { i =>
      val body = Seq.fill(5 + rnd.nextInt(25))(s"w${rnd.nextInt(40)}")
      val (pre, post) = body.splitAt(rnd.nextInt(body.size + 1))
      val mid = if (i % 3 == 0) Seq.empty[String] else boiler.split(" ").toSeq
      (pre ++ mid ++ post ++ (if (i % 7 == 0) mid else Nil)).mkString(" ")
    } ++ Seq("short doc", "", "Déjà vu: subscribe to our newsletter for the latest news and offers today!")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def rows(df: DataFrame) = df.as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    for (k <- Seq(3, 8)) {
      val got = Dedup.exciseDuplicatedSpans(docs, "doc_id", "text", k)
      assert(rows(got) === rows(exciseByJoin(docs, "doc_id", "text", k)), s"k=$k")
      // the k-gram stream is exploded once per call
      val plan = got.queryExecution.optimizedPlan
      assert(plan.collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
        .size === 1, plan)
    }
    // the boilerplate's first copy stays, every later copy is excised
    val byId = rows(Dedup.exciseDuplicatedSpans(docs, "doc_id", "text")).map(r => r._1 -> r).toMap
    assert(texts.indices.count(i => byId(i.toLong)._3 < byId(i.toLong)._2) >= 30)
  }
}

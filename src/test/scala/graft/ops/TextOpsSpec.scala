package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  test("tfidfTop does not hint a broadcast of the vocabulary side") {
    // the doc-frequency table is O(vocabulary) — corpus-sized on web data —
    // so the only broadcast HINT in the plan must be the one-row n_docs
    // aggregate; the token join has to stay a plain (AQE-managed) shuffle
    // join. Hints survive into the optimized plan as JoinHint entries.
    val docs = Seq((1L, "the quick brown fox"), (2L, "the lazy dog"))
      .toDF("doc_id", "text")
    val plan = TextOps.tfidfTop(docs, "doc_id")
      .queryExecution.optimizedPlan.treeString
    val hinted = "strategy=broadcast".r.findAllIn(plan).size
    assert(hinted === 1, s"expected only the n_docs broadcast hint, plan:\n$plan")
  }

  test("tfidfTop picks the highest-tfidf token per doc deterministically") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry cherry"),
      (3L, "apple banana cherry")).toDF("doc_id", "text")
    val got = TextOps.tfidfTop(docs, "doc_id")
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    // idf: apple ln(3/2), banana ln(3/3)=0, cherry ln(3/2)
    assert(got(1L) === "apple")   // tf 2 * ln(1.5)
    assert(got(2L) === "cherry")  // tf 2 * ln(1.5)
    assert(got(3L) === "apple")   // tie apple/cherry at tf 1 → token asc
  }

  test("rrfFuse ranks dual-list members above single-list members") {
    val lex = Seq((1L, 10.0), (2L, 9.0), (3L, 8.0)).toDF("id", "sa")
    val sem = Seq((2L, 0.9), (4L, 0.8)).toDF("id", "sb")
    val out = TextOps.rrfFuse(lex, sem, "id", "sa", "sb", topK = 4)
      .select("id", "rrf").as[(Long, Double)].collect()
    // id 2 appears in both lists (ranks 2 and 1): 1/62 + 1/61 beats id 1's
    // single 1/61; absent-list ranks contribute zero, not a null score
    assert(out.map(_._1).toSeq === Seq(2L, 1L, 4L, 3L)) // 1/61 > 1/62 > 1/63
    assert(math.abs(out.head._2 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    assert(out.forall(_._2 > 0))
  }

  test("curation pipeline: ONE corpus scan, cached threshold pass, broadcast gate") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.SparkEntry.queries("x_pipeline_curate")(spark, sf1)
      val plan = df.queryExecution.executedPlan
      // the scored stage is persisted: the threshold aggregate AND the
      // gate both read the cache, so the scan+dedup+score chain plans
      // exactly once and the second pass is a cached re-read
      val cacheReads = plan.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(cacheReads.size == 2, s"expected 2 cache reads, got:\n$plan")
      assert(plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.isEmpty, s"the corpus scan must live inside the cached stage:\n$plan")
      val cached = cacheReads.head.relation.cachedPlan
      assert(cached.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.size == 1, s"cached stage must scan the corpus exactly once:\n$cached")
      // dedup shuffle: exactly one corpus exchange, keyed on the map-side
      // md5 digest, never on the raw text value
      val cachedShuffles = cached.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(cachedShuffles.size == 1, s"expected the one digest window exchange:\n$cached")
      assert(cachedShuffles.forall(!_.outputPartitioning.toString.contains("text#")),
        s"no exchange may key on raw text:\n$cached")
      assert(cached.toString.contains("md5"),
        s"dedup key must be the md5 digest:\n$cached")
      // beyond the cached stage: only the one-row threshold aggregate and
      // the per-lang cap window may shuffle, and the gate must broadcast
      val outer = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(outer.size == 2, s"expected threshold agg + lang cap only:\n$plan")
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.nonEmpty, "threshold must broadcast, not join by shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("normalize lowercases, collapses whitespace runs, and trims") {
    val docs = Seq((1L, "  Hello\t\tWorld \n"), (2L, "already normal"),
      (3L, "")).toDF("doc_id", "text")
    val got = docs.select($"doc_id", TextOps.normalize($"text").as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "hello world")
    assert(got(2L) === "already normal")
    assert(got(3L) === "")
  }

  test("contaminationScreen counts eval-shingle overlap per training doc") {
    val train = Seq(
      (1L, "the quick brown fox jumps high"),   // shares "the quick brown", "quick brown fox" with eval
      (2L, "totally unrelated training text here"),
      (3L, "tiny")).toDF("doc_id", "text")      // < n tokens → 0 shingles
    val eval = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val got = TextOps.contaminationScreen(train, "doc_id", eval, n = 3)
      .select("doc_id", "n_shingles", "n_contaminated")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 4, 2L), (2L, 3, 0L), (3L, 0, 0L)))
  }

  test("tfidfTop minDocFreq floor prunes the hapax tail") {
    val docs = Seq(
      (1L, "common rareword common"),
      (2L, "common common shared"),
      (3L, "shared common")).toDF("doc_id", "text")
    val floored = TextOps.tfidfTop(docs, "doc_id", minDocFreq = 2L)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    // rareword (df=1) is pruned, so doc 1 falls back to a df>=2 token
    assert(floored(1L) !== "rareword")
  }

  test("passages chunks into non-overlapping k-token windows in order") {
    val docs = Seq((1L, "a b c d e"), (2L, ""), (3L, "x y")).toDF("doc_id", "text")
    val got = TextOps.passages(docs, "doc_id", "text", k = 2)
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    // doc 2 is empty → no rows; the last window may be short
    assert(got === Seq((1L, 0, "a b"), (1L, 1, "c d"), (1L, 2, "e"),
      (3L, 0, "x y")))
  }

  test("paragraphDedup keeps the globally-first copy of each passage") {
    val docs = Seq(
      (1L, "dup passage here unique tail one"),
      (2L, "dup passage here unique tail two"),
      (3L, "all original content in this doc")).toDF("doc_id", "text")
    // k=3: doc1/doc2 share passage "dup passage here" — doc 1 wins
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", k = 3)
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq((1L, 0, 2L), (1L, 1, 1L), (2L, 1, 1L),
      (3L, 0, 1L), (3L, 1, 1L)))
  }

  test("dupPassageFrac measures the corpus-wide duplicated-passage share") {
    val docs = Seq(
      (1L, "dup passage here unique tail one"),
      (2L, "dup passage here unique tail two"),
      (3L, "all original content in this doc")).toDF("doc_id", "text")
    val got = Dedup.dupPassageFrac(docs, "doc_id", "text", k = 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, 0.5), (2L, 2L, 0.5), (3L, 2L, 0.0)))
  }

  test("weightedTopK is deterministic and biased toward heavy rows") {
    val rows = (1L to 200L).map(i => (i, if (i <= 10) 1000.0 else 1.0))
    val docs = rows.toDF("id", "w")
    val got = Sampling.weightedTopK(docs, "id", "w", k = 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val again = Sampling.weightedTopK(docs, "id", "w", k = 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got === again)
    // the ten 1000×-weighted rows should dominate the top-10
    assert((got & (1L to 10L).toSet).size >= 8)
  }

  test("trainHashedLogReg separates a synthetic domain and is layout-stable") {
    val good = (1L to 40L).map(i =>
      (i, true, s"excellent prose clear structured informative item$i"))
    val bad = (41L to 80L).map(i =>
      (i, false, s"spam click buy casino pills item$i"))
    val docs = (good ++ bad).toDF("id", "y", "text")
    val w = TextOps.trainHashedLogReg(docs, "id", col("y"), "text",
      dim = 256, iters = 5, lrInv = 10.0)
    val scored = TextOps.scoreWithWeights(docs, "id", w, "text", dim = 256)
      .join(docs.select(col("id"), col("y")), "id")
    val acc = scored.where(col("keep") === col("y")).count() / 80.0
    info(f"train accuracy after 5 iters = $acc%.2f")
    assert(acc >= 0.95, f"classifier failed to fit a separable corpus: $acc%.2f")
    // fixed-point arithmetic makes training layout-independent
    val w2 = TextOps.trainHashedLogReg(docs.repartition(7), "id", col("y"),
      "text", dim = 256, iters = 5, lrInv = 10.0)
    assert(w2.collect().toSet === w.collect().toSet)
  }

  test("pmiTop ranks an exclusive collocation above independent co-occurrence") {
    // "los angeles" only ever occur together; "the" pairs with everything
    // (high count, no association); "rare pair" occurs once — below floor
    val docs = (1 to 6).map(i =>
        (i.toLong, s"the los angeles the city$i the river$i")) ++
      Seq((7L, "rare pair the city0 the river0"))
    val got = TextOps.pmiTop(docs.toDF("doc_id", "text"), "text",
      minCount = 5L, topK = 3).as[(String, String, Long, Double)].collect()
    assert(got.head._1 === "los" && got.head._2 === "angeles" && got.head._3 === 6L)
    // the hapax "rare pair" is floored out entirely
    assert(!got.exists(r => r._1 === "rare"))
    // every surviving pair has positive support >= the floor
    assert(got.forall(_._3 >= 5L))
  }

  test("canonicalizeUrl anchors tracking params and is scheme-aware on ports") {
    val cases = Seq(
      // embedded 'gclid' inside a longer param name must NOT be stripped
      "http://x.com/p?xgclid=5&id=2" -> "http://x.com/p?xgclid=5&id=2",
      // :80 is NOT the https default port — preserved
      "https://h.com:80/x" -> "https://h.com:80/x",
      // port directly before the query string
      "http://h.com:80?q=1" -> "http://h.com?q=1",
      "https://H.com:443?q=1" -> "https://h.com?q=1",
      // leading tracking param promotes its successor onto '?'
      "http://a.com/p?utm_source=n&id=7&gclid=9#f" -> "http://a.com/p?id=7",
      // tracking-only query drops entirely, then the trailing slash
      "HTTP://A.com/p/?utm_a=1&utm_b=2" -> "http://a.com/p",
      // non-URL strings pass through un-mangled
      "not a url" -> "not a url")
    val got = cases.zipWithIndex
      .map { case ((in, _), i) => (i.toLong, in) }.toDF("id", "u")
      .select($"id", TextOps.canonicalizeUrl($"u").as("c"))
      .as[(Long, String)].collect().toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i.toLong) === want, s"for $in")
    }
  }

  test("stripMarkup decodes &amp; last so escaped entities stay escaped") {
    val got = Seq((1L,
      "<p>a &amp;lt; b</p><script>ignore < this</script> c &lt; d"))
      .toDF("id", "h")
      .select(TextOps.stripMarkup($"h")).as[String].head()
    // '&amp;lt;' is the literal text '&lt;' — NOT '<'
    assert(got === "a &lt; b c < d")
  }

  test("winnowFingerprints guarantees a shared fingerprint for long shared runs") {
    val (k, w) = (3, 4)
    // docs 1 and 2 share a w+k-1 = 6-token run inside unrelated prose;
    // doc 3 shares nothing with either
    val shared = "alpha bravo charlie delta echo foxtrot"
    val docs = Seq(
      (1L, s"red green blue $shared purple orange"),
      (2L, s"one two three four $shared nine ten eleven twelve"),
      (3L, "completely different words with zero overlap whatsoever here"))
      .toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs, "doc_id", "text", k, w)
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    // the winnowing guarantee: any shared substring of >= w+k-1 tokens
    // contributes at least one common selected hash
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    assert((fps(2L) & fps(3L)).isEmpty)
    // density: winnowing selects far fewer fingerprints than grams
    val grams1 = 11 - k + 1 // doc 1 has 11 tokens
    assert(fps(1L).size < grams1)
  }

  test("bpePairCounts weights pairs by word frequency, counts repeats in-word") {
    // "aaa" has pairs aa,aa (twice in one word); corpus has "aaa" x3, "ab" x2
    val docs = Seq((1L, "aaa ab aaa"), (2L, "aaa ab x")).toDF("doc_id", "text")
    val got = TextOps.bpePairCounts(docs, "text", k = 5)
      .as[(String, Long)].collect().toSeq
    // aa: 2 per "aaa" x 3 occurrences = 6; ab: 1 per "ab" x 2 = 2
    assert(got == Seq("aa" -> 6L, "ab" -> 2L))
  }

  test("qualityDrift equals a brute-force grid KS and nulls a lone source") {
    val docs = ((0 until 30).map(i => (i.toLong, "the quick brown fox " * (i % 5 + 1), "a")) ++
      (30 until 50).map(i => (i.toLong, "zzz $$$ ### !!! ??? " * (i % 3 + 1), "b")) ++
      (50 until 60).map(i => (i.toLong, "balanced text with the usual words " + i, "c")))
      .toDF("doc_id", "text", "source")
    val buckets = 64
    val got = TextOps.qualityDrift(docs, "source", buckets)
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    // brute force from the SAME scored rows (qualityScore is oracle-pinned
    // elsewhere): quantize, then exact ECDF compare per grid point
    val scored = TextOps.qualityScore(docs)
      .select(col("source"), col("quality_score"))
      .as[(String, Double)].collect()
    val byB = scored.map { case (s, q) =>
      (s, math.min(math.floor(q * buckets).toInt, buckets - 1)) }
    val srcs = byB.map(_._1).distinct
    val nAll = byB.length
    srcs.foreach { s =>
      val mine = byB.filter(_._1 == s).map(_._2)
      val rest = byB.filter(_._1 != s).map(_._2)
      val want = (0 until buckets).map { b =>
        math.abs(mine.count(_ <= b).toDouble / mine.length -
          rest.count(_ <= b).toDouble / rest.length)
      }.max
      assert(got(s)._1 == mine.length.toLong, s"n_docs $s")
      assert(got(s)._2.contains(want), s"ks $s: got ${got(s)._2} want $want")
    }
    // a/b separate strongly, c is small — a vs rest should show real drift
    assert(got("a")._2.get > 0.5)

    // single-source corpus: the "rest" sample is empty → null statistic
    val lone = TextOps.qualityDrift(
      docs.where(col("source") === "a"), "source", buckets)
      .as[(String, Long, Option[Double])].collect()
    assert(lone.length == 1 && lone.head._3.isEmpty)
  }

  test("bpeTrain: greedy run merges and total-order tie-breaks, by hand") {
    // vocab: "aaaa" ×2, "abab" ×1
    val docs = Seq((1L, "aaaa aaaa abab")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, "text", merges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toList.sortBy(_._1)
    // step 1: (a,a) appears 3×/word in aaaa (overlapping pairs count) ×2
    //         + 0 in abab = 6; merging a run 'a a a a' greedily → 'aa aa'
    // step 2: (aa,aa) n=2 TIES (a,b) n=2 → lexicographic sym_l wins: a<aa
    // step 3: (aa,aa) n=2 beats (ab,ab) n=1
    assert(got === List((1, "a", "a", 6L), (2, "a", "b", 2L),
      (3, "aa", "aa", 2L)))
  }

  test("bpeTrain stops early when no pairs remain") {
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(docs, "text", merges = 5).count() === 0)
  }

  test("rakeKeyphrases: by-hand degree/freq scoring on a tiny corpus") {
    // doc: "big data and big models" → stopword 'and' splits runs:
    //   phrases: [big data], [big models]
    // freq: big 2, data 1, models 1; degree: big 4 (two 2-phrases),
    // data 2, models 2 → ratios (1e6): big 2_000_000, data/models 2_000_000
    // each phrase scores 4_000_000; tie → lexicographic phrase order
    val docs = Seq((1L, "big data and big models")).toDF("doc_id", "text")
    val got = TextOps.rakeKeyphrases(docs, "doc_id", "text", k = 10)
      .as[(String, Long, Long)].collect().toList
    assert(got === List(("big data", 1L, 4000000L),
      ("big models", 1L, 4000000L)))
  }

  test("rakeKeyphrases counts repeated phrases once per occurrence") {
    val docs = Seq((1L, "fast join"), (2L, "fast join")).toDF("doc_id", "text")
    val got = TextOps.rakeKeyphrases(docs, "doc_id", "text", k = 5)
      .as[(String, Long, Long)].collect().toList
    // one distinct phrase, two occurrences; freq(fast)=freq(join)=2,
    // degree 4 each → ratio 2e6 each → score 4e6
    assert(got === List(("fast join", 2L, 4000000L)))
  }

  test("bigramLogProb: by-hand smoothed bigram surprise") {
    // corpus: doc1 "x y x y", doc2 "y z" → bigrams: d1 {x y:2, y x:1},
    // d2 {y z:1}; corpus counts: (x y)=2, (y x)=1, (y z)=1;
    // unigrams: x=2, y=3, z=1 → V=3
    val docs = Seq((1L, "x y x y"), (2L, "y z")).toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(docs, "doc_id")
      .as[(Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val d1 = (2 * math.log(3.0 / 5) + 1 * math.log(2.0 / 6)) / 3
    val d2 = math.log(2.0 / 6)
    assert(got(1L)._2 === 3L)
    assert(math.abs(got(1L)._1 - math.rint(d1 * 10000) / 10000) < 1e-9)
    assert(got(2L)._1 === math.rint(d2 * 10000) / 10000)
  }

  test("kFold: content-identical rows share a fold, folds cover range") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.kFold(docs, "text", folds = 5)
      .select("doc_id", "fold").as[(Long, Int)].collect().toMap
    assert(got(1L) === got(2L))
    assert(got(4L) === got(5L)) // null unit is a deterministic sentinel
    assert(got.values.forall(f => f >= 0 && f < 5))
    // layout-independent
    val again = TextOps.kFold(docs.repartition(3), "text", 5)
      .select("doc_id", "fold").as[(Long, Int)].collect().toMap
    assert(again === got)
  }

  test("bpeEncode applies the learned merges rank by rank, by hand") {
    // same corpus as the bpeTrain by-hand test: rules are
    // (a,a) → aa, (a,b) → ab, (aa,aa) → aaaa
    val docs = Seq((1L, "aaaa aaaa abab"), (2L, "x y"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextOps.bpeEncode(docs, "doc_id", "text", merges = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: aaaa → <a><a><a><a> → <aa><aa> → <aaaa> = 1 piece (×2 words);
    //        abab → <ab><ab> after rule 2 (rule 1 no-op, rule 3 no-op) = 2
    assert(got(1L) === ((3L, 4L, 1.3333)))
    // doc 2: single-char words stay 1 piece each
    assert(got(2L) === ((2L, 2L, 1.0)))
    // doc 3: no tokens → zero row
    assert(got(3L) === ((0L, 0L, 0.0)))
  }

  test("blocklistGate: integer-exact keep decision, empty-doc edge") {
    val docs = Seq(
      (1L, "clean words only here"),           // 0/4 blocked → kept
      (2L, "bad words bad words bad again"),   // 3/6 blocked → dropped
      (3L, "one bad in twenty " + ("x " * 16)),// 1/20 = 500bp boundary → kept
      (4L, ""),                                // 0/0 → kept (0 <= 0)
      (5L, "bad")                              // 1/1 → dropped
    ).toDF("doc_id", "text")
    val got = TextOps.blocklistGate(docs, "doc_id", "text",
        Seq("bad", "worse"), maxBp = 500)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((4, 0, true)))
    assert(got(2L) === ((6, 3, false)))
    // exactly AT the threshold keeps (<=, not <): 1*10000 == 500*20
    assert(got(3L) === ((20, 1, true)))
    assert(got(4L) === ((0, 0, true)))
    assert(got(5L) === ((1, 1, false)))
  }

  test("gopherRules: each rule discriminates on a crafted doc") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, fifty + " the a and or of"),             // passes everything
      (2L, "too short the a"),                      // fails word count
      (3L, (1 to 50).map(_ => "ab").mkString(" ") + " the of"), // mean len 2 → fails
      (4L, (1 to 48).map(i => s"w$i").mkString(" ") + " 12 34 the an"), // alpha-poor? w1..w48 have letters; digits 2/52...
      (5L, fifty + " the a !!!!!!!!"),              // 8 symbols > 55/10 → fails symbol
      (6L, fifty + " zz qq")                        // no stopwords → fails
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRules(docs, "doc_id", minWords = 50)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(got(1L) === ((true, true, true, true, true, true)))
    assert(got(2L)._1 === false && got(2L)._6 === false)
    assert(got(3L)._2 === false) // mean word length 2 < 3
    assert(got(5L)._4 === false) // symbol cap
    assert(got(6L)._5 === false) // stopword floor
  }

  test("bm25Batch agrees with single-query bm25 per query") {
    val docs = Seq(
      (1L, "spark query join spark"), (2L, "query join other words"),
      (3L, "unrelated text entirely"), (4L, "spark spark spark query"))
      .toDF("doc_id", "text")
    val qs = Seq((7L, Seq("spark", "query")), (8L, Seq("join")))
      .toDF("qid", "terms")
    val batch = TextOps.bm25Batch(docs, "doc_id", qs, "qid", "terms", topK = 10)
      .select("qid", "doc_id", "bm25")
      .as[(Long, Long, Double)].collect().toSet
    val single = Seq(7L -> Seq("spark", "query"), 8L -> Seq("join")).flatMap {
      case (qid, terms) =>
        TextOps.bm25(docs, "doc_id", terms, topK = 10)
          .as[(Long, Double)].collect().map(r => (qid, r._1, r._2))
    }.toSet
    assert(batch === single)
  }

  test("readability: by-hand milli-grade, sentence floor, integer div") {
    val docs = Seq(
      // 4 words, 2 sentence runs ("." and "!?"), 6 vowel runs:
      // hello→e,o  there→e,e  good→oo  work→o
      (1L, "hello there. good work!?"),
      (2L, "xyz"), // 1 word, 1 sentence (floor), 1 vowel run (the y)
      (3L, "")     // no words → dropped
    ).toDF("doc_id", "text")
    val got = TextOps.readability(docs, "doc_id")
      .as[(Long, Int, Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.size === 2)
    val (w1, s1, y1) = (4L, 2L, 6L)
    val want1 = (390 * w1 * w1 + 11800 * y1 * s1 + 410 * s1 * w1) /
      (s1 * w1) - 16000
    assert(got(1L) === ((4, 2, 6, want1)))
    // doc 2: grade 1000*(0.39*1/1 + 11.8*1/1 - 15.59) = -3400
    assert(got(2L) === ((1, 1, 1, -3400L)))
  }

  test("tokenizerFertility: integer sums, guarded division, null text") {
    val docs = Seq(
      (1L, "en", "hello world"),   // 10 chars in 2 letter-runs + space
      (2L, "en", "a b"),           // 3 chars, 2 tokens
      (3L, "xx", ""),              // 0 chars, 0 tokens -> null fertility
      (4L, "de", null)             // null text: dropped from both sums
    ).toDF("doc_id", "lang", "text")
    val got = TextOps.tokenizerFertility(docs, "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    assert(got("en")._1 === 2L && got("en")._2 === 14L && got("en")._3 === 4L)
    assert(got("en")._4 === 3.5)
    assert((got("xx")._1, got("xx")._2, got("xx")._3) === ((1L, 0L, 0L)))
    assert(got("xx")._4.isNaN) // zero-token group: fertility is NULL
    assert(got("de")._2 === -1L) // sum over only-null group is null
  }

  test("phraseSearch finds consecutive tokens only, 1-based positions") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta gamma"), // hits at pos 1 and 4
      (2L, "beta alpha gamma beta"),             // terms present, never adjacent in order
      (3L, "alpha beta"),                        // prefix only — no gamma
      (4L, "x alpha beta gamma")                 // one hit at pos 2
    ).toDF("doc_id", "text")
    val got = TextOps.phraseSearch(docs, "doc_id", "text",
        Seq("alpha", "beta", "gamma"))
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((2L, 1)), 4L -> ((1L, 2))))
  }

  test("phraseSearch counts overlapping single-term runs") {
    val docs = Seq((1L, "a a a")).toDF("doc_id", "text")
    val got = TextOps.phraseSearch(docs, "doc_id", "text", Seq("a", "a"))
      .as[(Long, Long, Int)].collect()
    assert(got.toSeq === Seq((1L, 2L, 1)))
  }

  test("perplexityBuckets: per-language thirds, rank matches a local sort") {
    // 6 en docs with distinct surprise + 3 de docs; token-less doc drops
    val docs = Seq(
      (1L, "en", "common common common"), (2L, "en", "common common rare1"),
      (3L, "en", "common rare2 rare3"), (4L, "en", "rare4 rare5 rare6"),
      (5L, "en", "common common common common"), (6L, "en", "common rare7 common"),
      (7L, "de", "common common"), (8L, "de", "rare8 common"),
      (9L, "de", "rare9 rare10"), (10L, "en", "  "))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.perplexityBuckets(docs, "doc_id", "lang")
      .select("doc_id", "lang", "mean_logprob", "rank", "ppl_bucket")
      .as[(Long, String, Double, Long, String)].collect()
    assert(got.length === 9) // doc 10 has no tokens → dropped
    // ranks within each lang are a permutation 1..n ordered by score desc
    got.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (-r._3, r._1))
      assert(sorted.map(_._4).toSeq === (1L to rows.length).toSeq)
    }
    // thirds: en has 6 docs → 2 head, 2 middle, 2 tail; de 3 → 1 each
    val enB = got.filter(_._2 == "en").groupBy(_._5).view.mapValues(_.length).toMap
    assert(enB === Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    val deB = got.filter(_._2 == "de").groupBy(_._5).view.mapValues(_.length).toMap
    assert(deB === Map("head" -> 1, "middle" -> 1, "tail" -> 1))
  }

  test("percentile_disc follows the SQL-standard convention at every (q, n)") {
    // the convention the quality gates rely on cross-engine: the LEAST
    // observed value whose cumulative distribution >= q (same definition
    // DuckDB's quantile_disc documents). Reference: ceil(q*n)-th order
    // statistic (1-based), clamped to [1, n]. Pinned over every n in
    // 1..17 x 9 q values — a convention drift at ANY (q, n) index fails.
    val rng = new scala.util.Random(42)
    val qs = Seq(0.0, 0.1, 0.25, 1.0 / 3, 0.5, 2.0 / 3, 0.75, 0.9, 1.0)
    // one DataFrame, one groupBy: every (q, n) cell checked in a single job
    val groups = (1 to 17).map { n =>
      n -> Seq.fill(n)(math.round(rng.nextDouble() * 1e4) / 1e4)
    }
    val df = groups.flatMap { case (n, vals) => vals.map(v => (n, v)) }
      .toDF("n", "x")
    val aggs = qs.zipWithIndex.map { case (q, i) =>
      expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY x)").as(s"p$i") }
    val got = df.groupBy(col("n")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) ->
        qs.indices.map(i => r.getDouble(i + 1))).toMap
    for ((n, vals) <- groups; (q, i) <- qs.zipWithIndex) {
      val sorted = vals.sorted
      // definitional reference: smallest k (1-based) with CDF k/n >= q
      val k = (1 to n).find(k => k.toDouble / n >= q).getOrElse(n)
      val expected = sorted(k - 1)
      assert(got(n)(i) === expected,
        s"n=$n q=$q: got ${got(n)(i)} expected $expected")
    }
  }

  /** The explode → group (id, tri) → group id → left join formulation
    * `repetitionStats` replaced, kept as its reference. */
  private def repetitionByExplode(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val tris = when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3)))))
    val withTris = df.withColumn("__tris", tris)
    val counts = withTris.select(col(idCol), explode(col("__tris")).as("tri"))
      .groupBy(col(idCol), col("tri"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg(max(col("n")).cast("int").as("max_tri"),
        sum(col("n")).cast("int").as("n_tri"))
    withTris.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("max_tri"), lit(0)).as("max_tri"),
        coalesce(col("n_tri"), lit(0)).as("n_tri"),
        round(coalesce(col("max_tri"), lit(0)).cast("double") /
          greatest(coalesce(col("n_tri"), lit(0)), lit(1)), 4).as("rep_ratio"))
  }

  test("repetitionStats per row equals the explode/aggregate formulation on random docs") {
    // a small vocabulary forces repeated trigrams; non-ascii words and
    // punctuation go through the tokenizer's unicode fallback
    val vocab = Seq("the", "a", "cat", "Sat", "on", "mat", "déjà", "vu",
      "東京", "İstanbul", "x", "don't", "!!", "--", "42")
    val genText: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(w => Some(w.mkString(" "))),
      1 -> Gen.choose(3, 12).map(n => Some(Seq.fill(n)("spam").mkString(" "))),
      5 -> Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(w => Some(w.mkString(" "))))
    val texts = Gen.listOfN(300, genText).apply(Gen.Parameters.default, Seed(20261019L)).get
    val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      Seq((1000L, Some("")), (1001L, Some("one two")), (1002L, Some("a a a a a a")),
        (1003L, Some("東京 東京 東京 東京")), (1004L, None)))
      .toDF("doc_id", "text")
    val got = TextOps.repetitionStats(docs, "doc_id", "text")
    val want = repetitionByExplode(docs, "doc_id", "text")
    assert(got.schema === want.schema)
    def rows(df: DataFrame) = df.as[(Long, Int, Int, Double)].collect().sortBy(_._1).toSeq
    assert(rows(got) === rows(want))
    val byId = rows(got).map(r => r._1 -> r).toMap
    assert(byId(1002L) === ((1002L, 4, 4, 1.0)))  // all-identical trigrams
    assert(byId(1001L) === ((1001L, 0, 0, 0.0)))  // fewer than 3 tokens
    assert(byId(1004L) === ((1004L, 0, 0, 0.0)))  // null text
    // map-only: no exchange and no join in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }
}

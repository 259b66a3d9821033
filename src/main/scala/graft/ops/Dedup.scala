package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Caches.TrackedPersist

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Design rules for 100 TB:
  *   - per-document signatures are pure Catalyst expressions (HOF lambdas
  *     over md5-derived integer hashes — no UDFs, no driver loops);
  *   - pair generation NEVER does an unblocked cross join: candidates come
  *     from an equi-join on LSH bucket / simhash band / blocking key, so the
  *     shuffle is on a compact key and skew is bounded by bucket size;
  *   - all arithmetic is deterministic and engine-portable, so every
  *     operator has an exact DuckDB oracle.
  */
object Dedup {

  /** Prime modulus > 2^32 for the MinHash permutation family. */
  val P = 4294967311L

  /** 32-bit md5-derived hash of a string column (portable: DuckDB mirrors
    * it as `CAST('0x' || substr(md5(s),1,8) AS BIGINT)`). Native
    * [[graft.functions.Md5Prefix32]]: one digest per row, no hex-string
    * materialize/substring/base-16 re-parse — value bit-identical to the
    * built-in chain `conv(substring(md5(x),1,8),16,10)::long`. */
  def h32(c: Column): Column =
    graft.functions.GraftFunctions.md5Prefix32(c.cast("binary"))

  /** 60-bit md5-derived hash (15 hex chars — fits a positive BIGINT). */
  def h60(c: Column): Column =
    graft.functions.GraftFunctions.md5Prefix60(c.cast("binary"))

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup: one representative row (minimum id) per distinct key.
    * Groups on md5(key) rather than the key itself: the partial (map-side)
    * aggregate leaves one row per distinct DOCUMENT per task, and with
    * mostly-unique corpora that means the shuffle would otherwise carry
    * the full text bytes — a 16-byte digest key keeps the exchange narrow
    * at any scale. (A 128-bit collision merging two groups is ~2^-94 even
    * at 10^10 documents.) */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(keyCol).cast("binary")))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Exact dedup keeping the BEST copy per key instead of the smallest
    * id: real pipelines keep the highest-ranked duplicate (longest
    * variant, best quality score, freshest crawl) — min-id keeps
    * whichever happened to be crawled first. Selection is
    * `min(struct(descRank, id, payload))`: struct ordering compares the
    * DESCENDING rank key first (so min(struct) picks the highest rank),
    * then the id (ties go to the SMALLEST id — string, binary, or numeric
    * ids all order naturally under min), and the payload rides along
    * without ever being compared because (rank, id) is already unique per
    * row. The struct min combines map-side exactly like [[exact]]'s min —
    * one narrow shuffle keyed by 16-byte digest, no per-group window sort.
    *
    * The descending rank key is overflow-safe by construction: integral
    * ranks use bitwise NOT over long (`~x = -x-1`, strictly
    * order-reversing with NO overflow at Long.MinValue, unlike negation);
    * fractional/decimal ranks use plain negation (doubles can't overflow,
    * and Spark's ordering treats -0.0 == 0.0). Non-numeric ranks are
    * rejected with a require.
    *
    * Contract: every column of `df` must be an ORDERABLE type —
    * `min(struct(...))` demands whole-struct orderability at analysis
    * time even though the payload is never actually compared, so a
    * MapType column fails the analyzer. Project un-orderable columns away
    * (or json-encode them) before calling. */
  def keepBest(df: DataFrame, keyCol: Column, rankCol: Column,
               idCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rankType = df.select(rankCol.as("__r")).schema.head.dataType
    val descRank = rankType match {
      case ByteType | ShortType | IntegerType | LongType =>
        bitwise_not(rankCol.cast("long"))
      case FloatType | DoubleType | _: DecimalType => -rankCol // no overflow
      case t => throw new IllegalArgumentException(
        s"keepBest ranks on a numeric column; got $t")
    }
    // NULL ranks must LOSE: bitwise_not(NULL)/−NULL is NULL and struct min
    // sorts nulls FIRST, which would let an unranked copy beat every ranked
    // one. A leading is-null flag (false < true) makes null-rank rows sort
    // strictly after all ranked rows, exactly and type-preservingly.
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(md5(keyCol.cast("binary")))
      .agg(min(struct(rankCol.isNull.as("__rnull"), descRank.as("__dr"),
          col(idCol).as("__id"), payload.as("__p"))).as("__best"),
        count(lit(1)).as("n_copies"))
      .select(col("__best.__p.*"), col("n_copies"))
  }

  /** Soft dedup: keep EVERY copy but weight each row 1/n_copies, so a
    * document family contributes one unit of training mass total (the
    * dedup-by-downweighting alternative studied in the LLM-data
    * literature). The input projects to (id, 16-byte digest) BEFORE the
    * per-digest window, so the exchange carries digests + ids only — the
    * same narrow-shuffle rule as [[exact]]; a window over the raw rows
    * would ship every document's text bytes. No rows dropped. */
  def softWeights(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__k"))
    df.select(col(idCol), md5(col(keyCol).cast("binary")).as("__k"))
      .select(col(idCol),
        count(lit(1)).over(w).as("n_copies"),
        round(lit(1.0) / count(lit(1)).over(w), 6).as("weight"))
  }

  /** Bloom-prefiltered incremental dedup — [[incrementalExact]] with the
    * anti-join input cut down by a Bloom filter over the index's xxhash64
    * key hashes. At 100 TB the crawl batch is mostly NEW documents, so the
    * expensive digest anti-join would shuffle the whole batch against the
    * index; the Bloom probe (a codegen'd `BloomFilterMightContain` against
    * a broadcast-literal sketch — Spark's own runtime-filter expression)
    * discards the definitely-new majority map-side, and only the
    * bloom-positive suspects pay the exact anti-join that resolves false
    * positives. The sketch is built DISTRIBUTED (`stat.bloomFilter` tree
    * aggregation); only the finished bit array reaches the driver — sized
    * by `expectedItems`/`fpp` (1%% fpp at 10^8 keys ≈ 120 MB; beyond
    * ~10^9 index keys, shard the index and prefilter per shard). Result is
    * bit-identical to [[incrementalExact]]: the Bloom is an optimization,
    * never a semantics change. */
  def bloomIncremental(fresh: DataFrame, index: DataFrame, keyCol: String,
                       idCol: String, expectedItems: Long,
                       fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val bf = index.select(xxhash64(col(keyCol)).as("_h"))
      .stat.bloomFilter("_h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val maybe = GraftShim.column(BloomFilterMightContain(
      Literal.create(bos.toByteArray,
        org.apache.spark.sql.types.BinaryType),
      GraftShim.expression(xxhash64(col(keyCol)))))
    val confirmedNew = fresh.where(maybe).join(
      index.select(md5(col(keyCol).cast("binary")).as("__ik")).distinct(),
      md5(col(keyCol).cast("binary")) === col("__ik"), "left_anti")
    exact(fresh.where(!maybe).unionByName(confirmedNew), keyCol, idCol)
  }

  /** Incremental exact dedup — the production shape where a NEW batch is
    * deduped against the already-ingested corpus: new rows whose key
    * digest exists in the index are dropped (16-byte digest anti-join —
    * the index side ships digests only, never text), then the batch is
    * deduped within itself. Cost is O(batch + index digests), repeatable
    * per ingest without ever rewriting the index. */
  def incrementalExact(fresh: DataFrame, index: DataFrame, keyCol: String,
                       idCol: String): DataFrame =
    exact(
      fresh.join(
        index.select(md5(col(keyCol).cast("binary")).as("__ik")).distinct(),
        md5(col(keyCol).cast("binary")) === col("__ik"), "left_anti"),
      keyCol, idCol)

  /** Passage-level exact dedup (the C4/RefinedWeb line-dedup shape at
    * passage granularity): chunk every document into k-token passages,
    * then keep the globally-first copy — minimum (id, para_idx) — of each
    * distinct passage. Groups on the 16-byte md5 digest like [[exact]],
    * so the shuffle never carries passage text. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame =
    TextOps.passages(df, idCol, textCol, k)
      .groupBy(md5(col("para").cast("binary")).as("pk"))
      .agg(min(struct(col(idCol), col("para_idx"))).as("first"),
        count(lit(1)).as("n_copies"))
      .select(col(s"first.$idCol").as(idCol),
        col("first.para_idx").as("para_idx"), col("n_copies"))

  /** Gopher-style duplicated-passage fraction per document: the share of
    * a document's k-token passages that occur elsewhere in the corpus —
    * a standard cheap quality signal for filtering boilerplate-heavy
    * pages. Two digest-keyed shuffles (passage count, join back) plus the
    * per-document regroup; only 16-byte digests and ids cross the wire. */
  def dupPassageFrac(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val p = TextOps.passages(df, idCol, textCol, k)
      .select(col(idCol), md5(col("para").cast("binary")).as("pk"))
    val counts = p.groupBy(col("pk").as("ck")).agg(count(lit(1)).as("n"))
    p.join(counts, col("pk") === col("ck"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        round(avg(when(col("n") > 1, 1.0).otherwise(0.0)), 4)
          .as("dup_para_frac"))
  }

  // ------------------------------------------------------------------
  // Shingles + MinHash + LSH
  // ------------------------------------------------------------------

  /** Distinct word n-gram shingles of a text column (first-occurrence
    * order). Documents with fewer than n tokens yield an empty set.
    * Tokenization stays on the codegen'd built-ins; the sliding-window
    * shingle build is the native [[graft.functions.WordShingles]]
    * expression — one JVM loop per row instead of a per-position HOF
    * lambda that re-evaluates its captured token expression. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.wordShingles(TextOps.tokens(text), n)

  /** k-component MinHash signature over the shingle set, using the
    * permutation family h_i(x) = (a_i*h32(x) + b_i) mod P with
    * a_i = 2i+1, b_i = 101i+17 (odd multipliers, deterministic). Native
    * [[graft.functions.MinHashSig]] expression: each shingle is md5'd once
    * and the k running minima update in one tight loop. Empty shingle sets
    * yield the sentinel signature [P, P, …]. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.GraftFunctions.minhashSig(shingleCol, k, P)

  /** True Jaccard similarity of two array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** MinHash + LSH near-dup pairs, verified with true Jaccard.
    *
    * Pipeline (each stage one Spark plan, candidates bounded by buckets):
    *   1. per-doc shingle set + k-component signature (map-only);
    *   2. banding: `bands` buckets of `k/bands` signature components; bucket
    *     key = (band index, component slice) — explode is k/bands-fold, the
    *     join key is compact;
    *   3. self-equi-join on bucket key with `id < id` → candidate pairs
    *     (shuffle on bucket hash, never a cross join);
    *   4. verify candidates with exact Jaccard ≥ threshold over the shingle
    *     sets (re-joined by id, broadcast-friendly when candidates are few).
    *
    * Returns (idA, idB, jaccard) with idA < idB, exactly once per pair.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5): DataFrame = {
    requireBanding(k, bands)
    val rows = k / bands
    val withSig = df
      // signatures are compute-bound: spread rows across the cluster even
      // when the input is one small file / few splits
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      // no-shingle docs can't reach jaccard >= threshold and would all
      // share the sentinel signature (a quadratic bucket) — drop them here
      .where(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))
      // the signature stage feeds FOUR subplans (both join sides of the
      // banding self-join, both shingle-verify joins); without persist each
      // re-tokenizes and re-hashes the corpus, and Catalyst still sees the
      // tiny pre-explode file size and broadcasts the huge banded side.
      // Persisting computes once and gives the planner real statistics.
      .persistTracked()

    // scalar bucket key: xxhash64 over (band index, band slice) — a single
    // long the join can hash-partition on directly, instead of a
    // struct-with-array key that defeats codegen'd hashing. A hash
    // collision only adds a false candidate, which exact verification
    // removes — it can never lose a pair.
    val banded = withSig.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))).as("bucket"))

    val candidates = banded.alias("l")
      .join(banded.alias("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    // candidates are few (banding at these parameters passes ~j^2 of the
    // co-shingled pairs per band) — re-join their shingle sets and verify
    // with exact Jaccard
    val sh = withSig.select(col("id"), col("sh"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** LSH banding recall audit: exact shingle-Jaccard pairs at `threshold`
    * vs the pairs a (k, bands) MinHash banding would surface — the
    * measurement an approximate-dedup deployment owes its users before
    * trusting a banding config at scale. ONE shingle stage feeds both
    * sides (the naive form — run [[ngramJaccardPairs]] and
    * [[minhashLshPairs]] independently — tokenizes and shingles the
    * corpus twice); the exact side is the inverted-index pair aggregation,
    * the LSH side bands signatures computed from the same persisted
    * frame, and verified LSH pairs semi-join the exact set. Returns one
    * row: (n_exact, n_found, recall). */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, k: Int = 32, bands: Int = 2,
                     threshold: Double = 0.7,
                     maxShingleDf: Long = 1000L): DataFrame = {
    requireBanding(k, bands)
    val rows = k / bands
    val withSh = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .persistTracked() // feeds the exact index, the signatures, and both verifies
    val exact = pairJaccard(withSh, maxShingleDf)
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
      .persistTracked() // consumed twice: the recall semi-join AND the denominator count
    val withSig = withSh.select(col("id"),
      minhashSignature(col("sh"), k).as("sig"))
    val banded = withSig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))).as("bucket"))
    val candidates = banded.alias("l")
      .join(banded.alias("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val lsh = candidates
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .where(round(jaccard(col("sh_a"), col("sh_b")), 4) >= threshold)
      .select(col("id_a"), col("id_b"))
    exact.join(lsh, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
      .select(col("n_exact"), col("n_found"),
        round(col("n_found").cast("double") /
          greatest(col("n_exact"), lit(1L)), 4).as("recall"))
  }

  /** Group-level MinHash sketches + pairwise estimated Jaccard — corpus
    * overlap between SOURCES (crawls, dumps, snapshots) without any
    * doc-to-doc join. Exploits sketch mergeability: the MinHash of a
    * union of shingle sets is the per-position min over the members'
    * hashes, so one aggregation pass produces a k-long signature per
    * group and only |groups|×k longs ever leave the shuffle — the
    * estimate's cost is independent of how many documents each group
    * holds, which is the whole point at 100 TB (a doc-level overlap join
    * between two crawls would be quadratic). The pairwise estimate is
    * the fraction of equal signature positions, computed on the tiny
    * group-signature table. Same md5 hash family as
    * [[minhashSignature]], so the DuckDB oracle replays it exactly. */
  def groupMinhashSim(df: DataFrame, groupCol: String, textCol: String,
                      n: Int = 3, k: Int = 32): DataFrame = {
    // distinct (group, shingle): union semantics within the group
    val h = df.select(col(groupCol).as("src"),
        explode(shingles(col(textCol), n)).as("s"))
      .distinct()
      .withColumn("h", h32(col("s")))
    // k running minima as k partial-aggregating min() columns — map-side
    // combine reduces each partition to |groups|×k longs before the shuffle
    val aggs = (0 until k).map(i =>
      min((lit(2L * i + 1) * col("h") + lit(101L * i + 17)) % lit(P)).as(s"m$i"))
    val sigs = h.groupBy(col("src"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("src"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    sigs.alias("a")
      .join(sigs.alias("b"), col("a.src") < col("b.src"))
      .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
        round(size(filter(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => x === y), p => p)).cast("double") / k, 4)
          .as("est_jaccard"))
  }

  /** Exact Jaccard for every pair of documents sharing >= 1 shingle, from
    * the inverted index alone: |A∩B| is the pair's shingle-match count c,
    * |A∪B| = |A| + |B| - c. Shuffles only (id, id, count) triples — the
    * wide shingle arrays never cross an exchange, which is what makes this
    * shape survive a 100x corpus scale-up. Input must have distinct
    * shingles per document (shingles() guarantees that). */
  /** Hot-shingle document-frequency cap over any inverted-index frame
    * with a `shingle` column: a single boilerplate shingle ("all rights
    * reserved…") shared by m documents yields m^2/2 candidate pairs — at
    * 10^6 sharers that is 10^12 rows out of ONE join key, a task no
    * cluster finishes. Shingles above the cap are dropped from the index
    * before the self-join (standard near-dup practice; a pair at
    * jaccard >= threshold shares many shingles, so losing its few hottest
    * ones is recall-neutral). The df count itself is one narrow
    * aggregation on the shingle key; the cap also bounds the removed
    * intersection error: |A∩B| undercounts by at most the number of
    * capped shingles the pair shares. ONE shared implementation — the
    * cap's semantics must not drift between the pair operators. */
  /** bands must divide k with at least one row per band: bands > k makes
    * every band slice empty (every doc bucket-equal to every other — the
    * O(n^2) cross product banding exists to prevent), and a non-dividing
    * k silently discards the signature tail, changing recall below the
    * documented contract. */
  private[ops] def requireBanding(k: Int, bands: Int): Unit =
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k with k/bands >= 1, got k=$k bands=$bands")

  private def dfCapped(inverted: DataFrame, maxShingleDf: Long): DataFrame =
    if (maxShingleDf <= 0) inverted
    else {
      val hot = inverted.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .where(col("df") > maxShingleDf)
        .select(col("shingle"))
      inverted.join(hot, Seq("shingle"), "left_anti")
    }

  /** (id_a, id_b, c, sz_a, sz_b) for every pair sharing ≥ 1 (un-capped)
    * shingle: the intersection aggregation every set-similarity pair op
    * builds on. Each inverted-index row carries its document's shingle-set
    * size (one int), so the pair aggregation yields |A|, |B| AND c
    * together — no per-doc size join, which would mean broadcasting a
    * corpus-sized map.
    *
    * The self-join stays keyed on the shingle STRING deliberately. A
    * hashed-key variant (xxhash64 join key + lossless exact re-verify of
    * the survivor pairs) was built and measured in round 12: the bare
    * join+aggregation is ~40% cheaper on long keys (Probe textstages,
    * 3.02 → 1.76 s at sf0.1), but the verify machinery it forces (survivor
    * persist, ids semi-join, one extra corpus explode pass, a second
    * string-keyed mini join) cost more than the narrower key saved at BOTH
    * sf0.1 (x_dedup_audit 3.64 → 4.58 s median of 3 alternating runs) and
    * 10× data (Probe dedupscale containment k=10: 14.2 → 19.5 s) — word
    * n-gram shingles are short enough that the string key's overhead never
    * dominates the extra passes. Reverted; see OPTIMIZATION_r12.md. */
  private def pairIntersections(withSh: DataFrame, maxShingleDf: Long): DataFrame = {
    val inverted = dfCapped(
      withSh.select(col("id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("shingle")),
      maxShingleDf)
    inverted.alias("l")
      .join(inverted.alias("r"),
        col("l.shingle") === col("r.shingle") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("c"),
        first(col("l.sz")).as("sz_a"), first(col("r.sz")).as("sz_b"))
  }

  private def pairJaccard(withSh: DataFrame, maxShingleDf: Long): DataFrame =
    pairIntersections(withSh, maxShingleDf)
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") /
          (col("sz_a") + col("sz_b") - col("c")).cast("double"), 4).as("jaccard"))

  /** Directed shingle-containment pairs: C(src→dst) = |src ∩ dst| / |src|
    * ≥ threshold — the asymmetric signal symmetric Jaccard under-scores
    * when a short document is wholly embedded in a long one (quoted
    * reposts, boilerplate-wrapped copies). Same inverted-index candidate
    * shape and df-cap economics as [[ngramJaccardPairs]]: one undirected
    * intersection aggregation, then each surviving pair fans into its two
    * orientations (no second join). `minShingles` floors the src size so
    * trivially tiny shingle sets can't claim full containment. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       minShingles: Int = 3,
                       maxShingleDf: Long = 1000L): DataFrame = {
    val withSh = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .persistTracked() // feeds the inverted index once; Bench/Verify clearCache
    val pairs = pairIntersections(withSh, maxShingleDf)
      .persistTracked() // fans into BOTH orientations — without this the
                        // index self-join runs twice, once per union branch
    val ab = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
      round(col("c").cast("double") / col("sz_a").cast("double"), 4)
        .as("containment"), col("sz_a").as("n_shingles"))
    val ba = pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
      round(col("c").cast("double") / col("sz_b").cast("double"), 4)
        .as("containment"), col("sz_b").as("n_shingles"))
    ab.unionByName(ba)
      .where(col("containment") >= threshold && col("n_shingles") >= minShingles)
  }

  // ------------------------------------------------------------------
  // n-gram Jaccard (exact ground truth)
  // ------------------------------------------------------------------

  /** Exact n-gram Jaccard pairs ≥ threshold. Candidate generation blocks on
    * shared shingles (inverted-index join) rather than a cross join: only
    * documents sharing ≥1 shingle ever meet, and the Jaccard value comes
    * straight from the match-count aggregation ([[pairJaccard]]).
    *
    * `maxShingleDf` caps the document frequency of any index key (0 = off):
    * above the cap a shingle is boilerplate, not signal, and its bucket
    * would blow up quadratically — see [[pairJaccard]]. The default 1000 is
    * recall-neutral for near-dup thresholds and 40x above this corpus's
    * max df, so bench results are bit-identical to the uncapped plan. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Long = 1000L): DataFrame = {
    val withSh = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .persistTracked() // feeds the inverted index and the per-doc size map
    pairJaccard(withSh, maxShingleDf)
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Prefix-filtered exact shingle-Jaccard pairs — the PPJoin-family
    * alternative to [[ngramJaccardPairs]]'s df-cap. Shingles are globally
    * ordered rarest-first (document frequency asc, shingle asc) and each
    * document indexes only its first |d| - ceil(t*|d|) + 1 shingles: any
    * pair with J >= t must overlap by >= ceil(t*|d|) elements, so the two
    * prefixes provably share at least one shingle (Chaudhuri et al.'s
    * prefix-filter lemma). Unlike the df-cap this is LOSSLESS — boilerplate
    * shingles are common, so they sort to the END of the global order and
    * fall out of every prefix; the inverted index self-joins only on rare
    * keys and the hot-key quadratic blowup can't happen. Costs one extra
    * shuffle vs the cap (the df join + per-doc rank window) — the standard
    * trade: exact recall for ~2x candidate-stage cost. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withSh = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .persistTracked() // feeds the index build and both verify joins
    val ex = withSh.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // plain shuffle join — the df table is vocabulary-sized, never broadcast
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("shingle"))
    // the candidate self-join keys on xxhash64(shingle), not the string:
    // 8-byte join key, narrower persisted prefix table (guide §2.3). A
    // collision only ADDS a candidate pair, which the exact-Jaccard verify
    // below re-checks; every true pair is still found via its genuinely
    // shared prefix shingle (equal strings always hash equal), so the
    // prefix lemma's completeness is untouched. The rarity ORDER stays on
    // the true (df, shingle-string) key.
    val prefix = ex.join(dfreq, "shingle")
      .withColumn("pos", row_number().over(byRarity))
      .where(col("pos") <=
        col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select(col("id"), col("sz"), col("pos"),
        xxhash64(col("shingle")).as("hk"))
      .persistTracked() // both sides of the candidate self-join read it
    // length filter (lossless): J >= t forces t*|a| <= |b| <= |a|/t, so
    // size-incompatible matches drop BEFORE the array-verify join — the
    // shingle sets (the wide payload) are only shipped for pairs that can
    // still pass.
    // positional filter (PPJoin's second lossless guard, Xiao et al.):
    // J >= t needs overlap o >= ceil(t/(1+t) * (|a|+|b|)), and every
    // common shingle sits at-or-after the matching one in BOTH rarity
    // orders, so o <= 1 + min(|a|-pos_a, |b|-pos_b) for the FIRST common
    // shingle — which the prefix lemma proves lives in both prefixes.
    // Rows failing the bound drop; a true pair always keeps its
    // first-common-shingle row, so recall stays exact while candidates
    // whose shared shingles all sit too deep never reach the verify join.
    val cand = prefix.alias("l")
      .join(prefix.alias("r"),
        col("l.hk") === col("r.hk") && col("l.id") < col("r.id") &&
          col("r.sz") >= ceil(lit(threshold) * col("l.sz")) &&
          col("l.sz") >= ceil(lit(threshold) * col("r.sz")) &&
          (lit(1) + least(col("l.sz") - col("l.pos"),
            col("r.sz") - col("r.pos"))) >=
            // 1e-9 slack: t/(1+t) then * rounds twice in FP; an exactly-
            // integer requirement nudged one ulp UP would ceil to o*+1
            // and drop a true boundary pair. Slack only ever LOWERS the
            // bound, so the filter stays lossless (a few extra
            // candidates at worst, which the verify join re-checks).
            ceil(lit(threshold / (1.0 + threshold)) *
              (col("l.sz") + col("r.sz")) - lit(1e-9)))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    cand
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a bounded text
    * prefix — the order-SENSITIVE near-dup family (Jaccard/MinHash treat
    * a document as a bag of shingles; transposed or lightly-edited copies
    * that shuffle word order score high on edit distance checks instead).
    *
    * Scale shape: candidates come from the same df-capped inverted
    * word-n-gram index as [[ngramJaccardPairs]] (pairs sharing ≥1 rare
    * prefix shingle — recall-oriented blocking, the standard
    * edit-similarity-join compromise), narrowed by the LOSSLESS length
    * filter |len_a − len_b| ≤ maxDist before any text ships; the O(L²)
    * Levenshtein DP runs only on surviving candidate pairs and only over
    * `prefixLen`-char prefixes, so per-pair verify cost is a constant
    * independent of document size. Returns (id_a, id_b, edit_dist) with
    * id_a < id_b, once per pair. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int = 80, maxDist: Int = 20,
                        n: Int = 3, maxShingleDf: Long = 1000L): DataFrame = {
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        substring(col(textCol), 1, prefixLen).as("pref"))
      .withColumn("sh", shingles(col("pref"), n))
      .where(size(col("sh")) > 0)
      .persistTracked() // feeds the index build and both verify joins
    val inverted = dfCapped(
      base.select(col("id"), length(col("pref")).as("len"),
        explode(col("sh")).as("shingle")),
      maxShingleDf)
    val cand = inverted.alias("l")
      .join(inverted.alias("r"),
        col("l.shingle") === col("r.shingle") && col("l.id") < col("r.id") &&
          abs(col("l.len") - col("r.len")) <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("pref").as("pref_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("pref").as("pref_b")), "id_b")
      // THRESHOLD Levenshtein (Spark 3.5+): banded O(maxDist·L) DP with
      // early exit instead of the full O(L²) table — returns -1 past the
      // bound, and the exact distance (identical to the unbounded form)
      // for every pair the filter keeps, so results are unchanged.
      // Measured: the verify stage owned the suite's slowest row before
      // this (65k candidate pairs × 80×80 DP).
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pref_a"), col("pref_b"), maxDist).as("edit_dist"))
      .where(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 60-bit SimHash over the token multiset: bit j is set when more token
    * hashes have bit j set than clear. Sum-of-powers construction keeps the
    * whole signature one expression. */
  def simhash(text: Column): Column =
    // native expression: md5 each token once, accumulate 60 bit-counts,
    // threshold by strict majority — one loop per row
    graft.functions.GraftFunctions.simhash64(TextOps.tokens(text))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDistance.
    *
    * Scale path: the 60-bit signature splits into 4 bands of 15 bits; any
    * pair within distance ≤ 3 shares at least one exact band (pigeonhole),
    * so an equi-join on (band index, band value) finds EXACTLY the brute
    * force result for maxDistance ≤ 3 — no cross join, shuffle on a compact
    * 15-bit-band key.
    *
    * Skew guard: at ≥10^9 docs a degenerate band value (e.g. a template
    * page family collapsing one 15-bit band) can put m documents into one
    * bucket → m²/2 pairs in ONE task. Buckets above `bucketCap` members are
    * split by a secondary band over the OTHER 45 bits (4 sub-bands of ≤12
    * bits): a qualifying pair shares the primary band exactly, so all ≤3
    * flips live in those 45 bits and at least one sub-band matches
    * (pigeonhole again) — the split is exact, never lossy. Bucket sizes are
    * one narrow count aggregation; normal buckets take the plain join. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3, bucketCap: Long = 100000L): DataFrame = {
    require(maxDistance <= 3, "banded simhash join is exact only for distance <= 3 (4 bands)")
    val sigs = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .persistTracked() // both sides of the band self-join reuse the signatures
    simhashPairsFromSigs(sigs, maxDistance, bucketCap)
  }

  /** Banded pair join over precomputed (id, sig) rows — see [[simhashPairs]]
    * for the semantics and the bucket-cap skew guard. */
  private[ops] def simhashPairsFromSigs(sigs: DataFrame, maxDistance: Int,
                                        bucketCap: Long): DataFrame = {
    val banded = sigs.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band"),
          call_function("shiftright", col("sig"), b * 15).bitwiseAND(0x7fff).as("key")))).as("bucket"))
      .persistTracked() // feeds the hot-bucket count and both join sides
    // bucket population is a narrow count on the band key; only buckets
    // ABOVE the cap survive the filter, so the routing join broadcasts a
    // near-empty (usually empty) list — the healthy-corpus path keeps the
    // exact single-self-join plan it had without the guard. Both members
    // of any bucket see the same count, so a bucket never straddles paths.
    val hot = banded.groupBy(col("bucket")).agg(count(lit(1)).as("__n"))
      .where(col("__n") > bucketCap)
      .select(col("bucket"))

    def pairCols(j: DataFrame): DataFrame = j
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).as("hamming"))

    val small = banded.join(broadcast(hot), Seq("bucket"), "left_anti")
    val smallPairs = pairCols(small.alias("l")
      .join(small.alias("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id")))

    // oversized buckets: secondary banding of the 45 bits OUTSIDE the
    // primary band. rem = low bits below the band ++ high bits above it.
    val big = banded.join(broadcast(hot), Seq("bucket"), "left_semi")
    val bandBits = col("bucket.band") * 15
    val low = col("sig").bitwiseAND(
      call_function("shiftleft", lit(1L), bandBits) - 1)
    val high = call_function("shiftleft",
      call_function("shiftright", col("sig"), bandBits + 15), bandBits)
    val subBanded = big
      .withColumn("__rem", low.bitwiseOR(high))
      .select(col("id"), col("sig"), col("bucket"),
        explode(transform(sequence(lit(0), lit(3)),
          j => struct(j.as("sub"),
            call_function("shiftright", col("__rem"), j * 12)
              .bitwiseAND(0xfff).as("subkey")))).as("bucket2"))
    val bigPairs = pairCols(subBanded.alias("l")
      .join(subBanded.alias("r"),
        col("l.bucket") === col("r.bucket") &&
          col("l.bucket2") === col("r.bucket2") && col("l.id") < col("r.id")))

    smallPairs.union(bigPairs)
      .distinct()
      .where(col("hamming") <= maxDistance)
  }

  // ------------------------------------------------------------------
  // Cluster assignment (the actual dedup step)
  // ------------------------------------------------------------------

  /** Edge-count ceiling for the driver-side union-find fast path (~150 MB
    * of longs); larger graphs use distributed label propagation. */
  val MaxDriverEdges: Long = 5L * 1000 * 1000

  /** Connected components over a near-dup pair graph: every document gets a
    * `cluster_id` = the minimum doc id reachable through pair edges (its own
    * id when it has no near-dups). Keeping `id == cluster_id` rows IS the
    * deduplicated corpus.
    *
    * The edges are read with ONE bounded collect ([[driverEdges]]: at most
    * [[MaxDriverEdges]] + 1 rows, two jobs whatever the pair set's
    * partition count): within the bound, union-find on the driver labels
    * the paired nodes and the labels return as a local relation that the
    * corpus join broadcasts; past it, iterative min-label propagation
    * ([[propagateLabels]], the standard large-graph CC shape) runs
    * distributed and evaluates the pair set once more. Near-dup graphs are
    * overwhelmingly tiny disjoint cliques, and only documents that appear in
    * a pair get a label — the untouched corpus labels itself in the final
    * left join.
    */
  def dedupClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // both label paths operate on LONG node ids (the driver union-find
    // reads getLong; the distributed loop casts to long, where a
    // non-numeric id becomes null and every edge silently vanishes — the
    // dedup would ship the full duplicated corpus with no error). Fail
    // loudly instead; map string/UUID ids to a dense long surrogate first.
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(idType),
      s"dedupClusters needs an integral id column; $idCol is $idType — " +
        "assign a dense long surrogate id first")
    val edges = pairs.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
    // ONE bounded collect decides the path and feeds union-find; only a
    // graph past the bound pays for the distributed loop (which persists
    // its own edges)
    val labels = driverEdges(edges) match {
      case Some(es) => unionFindLabels(spark, es)
      case None => propagateLabels(edges)
    }
    // paired nodes are a small fraction of the corpus; unpaired docs label
    // themselves without touching the join's build side
    df.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** The edges as driver-side pairs, or None past [[MaxDriverEdges]].
    *
    * A root `limit(n).collect()` plans as `CollectLimit`, which scans one
    * partition, then 4x as many per round: 1 + log4(partitions) jobs (5 on
    * 200 partitions). The `coalesce(1)` above the limit plans it as a
    * global limit instead: every partition keeps at most n rows in parallel
    * (one shuffle map stage), one task takes n, so the collect is two jobs
    * on any partition count and holds at most n + 1 rows. Past the bound
    * the rows are dropped here, before the distributed fallback runs. */
  private def driverEdges(edges: DataFrame): Option[Array[(Long, Long)]] = {
    val rows = edges.limit(MaxDriverEdges.toInt + 1).coalesce(1).collect()
    if (rows.length > MaxDriverEdges) None
    else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Fast path: the pair list is bounded metadata (edge ≤ [[MaxDriverEdges]]),
    * so classic union-find with path compression on the driver beats an
    * iterative join loop by orders of magnitude at local scale and still
    * only collects the EDGES — never corpus rows. The labels come back as a
    * local relation, whose size Catalyst knows, so the corpus join plans as
    * a broadcast instead of a shuffle. */
  private def unionFindLabels(spark: org.apache.spark.sql.SparkSession,
                              es: Array[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct
    val rows = new java.util.ArrayList[Row](nodes.length)
    nodes.foreach(n => rows.add(Row(n, find(n))))
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.LongType))))
  }

  /** Scale path: iterative min-label propagation over the symmetric edge
    * list — each round joins labels to edges and takes the elementwise min
    * until a fixpoint. Rounds = longest chain length (near-dup graphs are
    * overwhelmingly tiny cliques). */
  private[ops] def propagateLabels(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.LongType)))
    // lineage TRUNCATION per round: each round's plan references the label
    // table TWICE, so a lazily-chained loop doubles the logical plan every
    // round — 2^rounds analyzer nodes, a driver OOM on a 30-step chain
    // long before any data is big. Rebasing each round's result onto its
    // computed RDD keeps every round's plan O(1); the persisted previous
    // round backs recompute on cache loss (GraphFrames-style checkpointed
    // iteration, without requiring a checkpoint dir).
    def rebase(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, schema)
    val edges = pairs
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .union(pairs.select(col("dst").cast("long").as("src"),
        col("src").cast("long").as("dst")))
      .persistTracked()
    var labels = rebase(edges.select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id"))).persist()
    labels.count()
    var changed = 1L
    while (changed > 0) {
      val step = labels.alias("l")
        .join(edges.alias("e"), col("l.id") === col("e.dst"), "left")
        .join(labels.select(col("id").as("nid"), col("label").as("nlabel")).alias("n"),
          col("e.src") === col("nid"), "left")
        .groupBy(col("l.id").as("id"))
        .agg(least(min(col("l.label")), coalesce(min(col("nlabel")),
          min(col("l.label")))).as("label"))
      val next = rebase(step).persist()
      changed = next.alias("a")
        .join(labels.alias("b"), col("a.id") === col("b.id"))
        .where(col("a.label") =!= col("b.label"))
        .count() // also materializes next's cache before the old one drops
      labels.unpersist()
      labels = next
    }
    Caches.track(labels) // final round outlives the call; caller releases
  }

  // ------------------------------------------------------------------
  // Embedding-cosine near-dup
  // ------------------------------------------------------------------

  /** Embedding near-dup pairs within a blocking key (e.g. a cluster/label
    * column): pairs are generated per block via equi-join — the standard
    * blocked-dedup shape; an unblocked variant at 100 TB would use the LSH
    * bucketer in [[Similarity]] instead. */
  /** Unblocked embedding near-dup: when no natural blocking column exists,
    * the random-hyperplane LSH bucket IS the blocking key — vectors only
    * pair within their signature bucket, so the corpus never cross-joins.
    * Recall is tunable by plane count (fewer planes → bigger buckets →
    * higher recall and cost); exact cosine verifies every candidate. */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        nPlanes: Int, threshold: Double): DataFrame = {
    val bucketed = df.select(col(idCol), col(vecCol),
      Similarity.lshBucket(col(vecCol), nPlanes).as("__bucket"))
    embeddingNearDupPairs(bucketed, idCol, vecCol, "__bucket", threshold)
  }

  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String, threshold: Double): DataFrame =
    // delegates to the triangle-blocked all-pairs join: a plain block
    // equi-join generates the whole O(m²) pair set of one block inside a
    // single task, and LSH/cluster blocks are exactly the kind of key
    // that skews (one hot bucket can hold a large corpus fraction). The
    // block decomposition keeps the same pair set and arithmetic (dot and
    // norm products commute, so the canonical orientation is bit-stable)
    // while spreading each block's pairs across the shuffle.
    Similarity.allPairsCosine(df, idCol, vecCol, Seq(blockCol), blocks = 8)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .where(col("cosine") >= threshold)

  // ------------------------------------------------------------------
  // Exact-substring duplicated spans (token-level)
  // ------------------------------------------------------------------

  /** Token-position-level exact-substring duplication (the distributed
    * shape of Lee et al. 2022's ExactSubstr suffix-array dedup): a token
    * position is DUPLICATED when it lies inside a repeated substring of
    * at least `k` tokens, and a repeated substring of length >= k is
    * exactly a run of repeated k-grams — so marking every position covered
    * by a sliding k-gram window whose (doc, pos) occurrence is not the
    * corpus-wide first (first copy wins, ordered by (id, pos); within-doc
    * repetition counts too) finds precisely the positions inside >= k
    * duplicated spans, with no suffix array and no global sort.
    *
    * Scale shape: the gram stream is map-generated ((id, pos, xxhash64)
    * triples — the 8-byte gram hash crosses the exchange, never the gram
    * text; a 64-bit collision merges two gram classes, odds ~n²/2⁶⁵,
    * acceptable for dedup and absent at oracle scale); first-occurrence
    * resolution is one `min(struct(id, pos))` window partitioned by that
    * hash, so the stream is built and shuffled once; covered-token counting is a
    * per-doc interval-union fold over the sorted duplicated-window start
    * positions (one integer per window crosses the shuffle — never the
    * k-fold position expansion). A boilerplate gram repeated across the
    * corpus concentrates
    * ONE window key, whose rows wait in the window's spillable buffer —
    * the output stays one row per occurrence, so there is no quadratic
    * pair blowup anywhere (unlike candidate-pair dedup, this op never
    * builds pairs).
    *
    * Returns one row per document: (idCol, n_tokens, dup_tokens,
    * dup_frac), zero-rows included. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String = "text",
                      k: Int = 8): DataFrame = {
    val (toks, grams) = gramStream(df, idCol, textCol, k)
    // union length of the per-doc interval set [pos, pos+k-1]: sort the
    // duplicated-window start positions (each ≤ the doc's own token count,
    // the same per-row bound the text column already imposes) and fold —
    // a window starting within k of its predecessor adds only the gap.
    // This replaces a k-fold position explode + countDistinct: the shuffle
    // now carries one integer per duplicated window instead of k rows.
    val dupCounts = nonFirstStarts(grams)
      .groupBy(col("id"))
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("id"),
        expr(s"""aggregate(ps,
               |  named_struct('tot', CAST(0 AS LONG), 'prev', CAST(${-k} AS LONG)),
               |  (acc, p) -> named_struct(
               |    'tot', acc.tot + LEAST(CAST($k AS LONG), CAST(p AS LONG) - acc.prev),
               |    'prev', CAST(p AS LONG)),
               |  acc -> acc.tot)""".stripMargin).as("dup_tokens"))
    toks.select(col("id"), size(col("toks")).as("n_tokens"))
      .join(dupCounts, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(round(coalesce(col("dup_tokens"), lit(0L)) /
            col("n_tokens").cast("double"), 6)).as("dup_frac"))
  }

  /** (tokens, k-gram stream) shared by [[duplicatedSpans]] and
    * [[exciseDuplicatedSpans]]: one (id, pos, hash) triple per sliding
    * window — the 8-byte gram hash crosses the exchange, never the text. */
  private def gramStream(df: DataFrame, idCol: String, textCol: String,
                         k: Int): (DataFrame, DataFrame) = {
    val toks = df.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val grams = toks.select(col("id"),
        explode(expr(
          s"""CASE WHEN size(toks) < $k THEN array()
             |ELSE transform(sequence(0, size(toks) - $k),
             |  i -> struct(i AS pos,
             |    xxhash64(concat_ws(' ', slice(toks, i + 1, $k))) AS g))
             |END""".stripMargin)).as("e"))
      .select(col("id"), col("e.pos").as("pos"), col("e.g").as("g"))
    (toks, grams)
  }

  /** Every (id, pos) k-gram window start whose corpus-wide occurrence is
    * not the first (first copy wins by (id, pos)). One row per duplicated
    * window — covered positions are derived per-doc by the callers, so the
    * exchange never carries the k-fold position expansion. */
  private def nonFirstStarts(grams: DataFrame): DataFrame = {
    // a window over the gram key reads the gram stream ONCE (an aggregate
    // joined back to the stream would build and shuffle it twice); each
    // key's rows sit in the window's spillable buffer, so a boilerplate
    // gram repeated across the corpus stays one hot key that can spill
    val first = min(struct(col("id"), col("pos")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(col("g")))
    grams.withColumn("first", first)
      .where(!(col("id") === col("first.id") && col("pos") === col("first.pos")))
      .select(col("id"), col("pos"))
  }

  /** ExactSubstr REMOVAL (the second half of Lee et al. 2022): rebuild
    * each document with every duplicated-span token position excised,
    * keeping the corpus-wide first copy of every span intact. Returns
    * (idCol, n_tokens, n_kept, fp_clean) — the md5 fingerprint stands in
    * for the cleaned text so result rows stay sketch-sized.
    *
    * Scale shape: identical gram/first-occurrence plan as
    * [[duplicatedSpans]] (no pair blowup): the k-gram stream is exploded
    * once per call and resolved by one window over the gram hash, then
    * joined back to the tokens by doc id; the per-doc covered-position
    * set rides one `collect_set` whose size is bounded by the document's
    * own token count — per-row state proportional to the row itself, the
    * same bound the text column already imposes — and the excision is a
    * pure per-row lambda over (token, index). */
  def exciseDuplicatedSpans(df: DataFrame, idCol: String,
                            textCol: String = "text", k: Int = 8): DataFrame = {
    val (toks, grams) = gramStream(df, idCol, textCol, k)
    // shuffle carries one start position per duplicated window; the k-fold
    // coverage expansion happens per-doc AFTER the aggregation, inside one
    // expression (bounded by the doc's own token count)
    val covered = nonFirstStarts(grams)
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
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Caches.TrackedPersist

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, and document
  * fingerprinting.
  *
  * Everything is a pure Catalyst expression (built-in functions +
  * higher-order array lambdas) — no UDFs, so the operators stay inside the
  * optimized expression pipeline, scale linearly per row, and never force a
  * shuffle by themselves. All hashing is md5-derived so results are
  * deterministic and engine-portable (the DuckDB oracles mirror the exact
  * arithmetic).
  */
object TextOps {

  /** Lowercased word tokens (whitespace/punctuation split, empties
    * dropped). Native [[graft.functions.LowerTokens]] — one byte scan on
    * ASCII input instead of lower + regex split + filter (each of which
    * converts to UTF-16 and re-allocates), with an exact built-in-semantics
    * fallback for non-ASCII rows. Equality proven in ExpressionsSpec over
    * unicode edge cases (İ, K, combining marks). */
  def tokens(text: Column): Column =
    graft.functions.GraftFunctions.lowerTokens(text)

  /** Whitespace token count — the cheap `wc -w` measure. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** BPE-ish subword count: letter runs, single digits, and isolated
    * punctuation each count as one token — a deterministic proxy for a BPE
    * tokenizer's piece count (the real vocab merge table is external). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** Gopher/MassiveText-style quality RULE gate: the named pass/fail
    * rules (word-count bounds, mean-word-length bounds, ≥80% alphabetic
    * words, symbol-to-word ratio, minimum stopword hits) as per-document
    * boolean flags plus the combined keep decision — the rule-set
    * formulation pipelines publish alongside the learned quality score.
    *
    * Map-only: every rule is a regexp/array count over the shared token
    * array, and every comparison is INTEGER (mean word length compares in
    * milli-chars via `div`, the alpha share as `5·alpha ≥ 4·words`), so
    * the gate replays bit-exactly cross-engine. Zero-word documents fail
    * every rule except the symbol cap. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val sw = typedLit(StopwordsEn)
    df.withColumn("__t", tokens(col(textCol)))
      .select(col(idCol),
        size(col("__t")).as("n_words"),
        expr("aggregate(__t, 0L, (a, w) -> a + length(w))").as("__wlen"),
        size(filter(col("__t"), w => w.rlike("[a-z]"))).as("__alpha"),
        size(filter(col("__t"), w => array_contains(sw, w))).as("__stop"),
        regexp_count(col(textCol), lit("[^A-Za-z0-9\\s]")).as("__punct"))
      .select(col(idCol), col("n_words"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .as("flag_word_count"),
        (col("n_words") > 0 &&
          expr("(__wlen * 1000) div n_words").between(3000L, 10000L))
          .as("flag_mean_word_len"),
        (col("__alpha") * 5 >= col("n_words") * 4 && col("n_words") > 0)
          .as("flag_alpha"),
        (col("__punct") * 10 <= col("n_words")).as("flag_symbol"),
        (col("__stop") >= 2).as("flag_stopwords"))
      .withColumn("keep",
        col("flag_word_count") && col("flag_mean_word_len") &&
          col("flag_alpha") && col("flag_symbol") && col("flag_stopwords"))
  }

  /** Flesch–Kincaid-style readability grade over cheap proxies: words =
    * whitespace tokens, sentences = terminal-punctuation runs (floored at
    * 1 so unpunctuated text still scores), syllables = vowel runs —
    * `0.39·(words/sentences) + 11.8·(syllables/words) − 15.59`, emitted
    * as an INTEGER milli-grade. Map-only regexp counts.
    *
    * Fixed-point discipline: a float formulation rounds at a decimal
    * boundary the two engines' double pipelines can straddle (observed:
    * 25.2263 vs 25.2262 at 4 dp). Instead the grade×1000 rational
    * `(390w² + 11800·y·s − 15590·s·w) / (s·w)` is evaluated in exact
    * 64-bit integers, with a +16000·s·w offset so the numerator stays
    * positive — where Spark's `div` (truncate) and DuckDB's `//` (floor)
    * agree. Token-less documents drop (no grade without words). */
  def readability(df: DataFrame, idCol: String,
                  textCol: String = "text"): DataFrame =
    df.select(col(idCol),
        tokenCount(col(textCol)).as("n_words"),
        greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
          .as("n_sentences"),
        regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
          .as("n_syllables"))
      .where(col("n_words") > 0)
      .withColumn("fk_milli",
        expr("(390 * CAST(n_words AS BIGINT) * n_words" +
          " + 11800 * CAST(n_syllables AS BIGINT) * n_sentences" +
          " + 410 * CAST(n_sentences AS BIGINT) * n_words)" +
          " div (CAST(n_sentences AS BIGINT) * n_words) - 16000"))

  /** Tokenizer fertility per language: characters per BPE-ish token — the
    * per-language tokenizer-efficiency audit (a language with high
    * fertility is under-served by the vocabulary and over-pays tokens per
    * character of text, which skews any token-denominated mixture). One
    * map-side-combined aggregation; sums stay integer, the single
    * division happens once per language at the end (guarded for the
    * all-empty-text group). */
  def tokenizerFertility(df: DataFrame, langCol: String,
                         textCol: String = "text"): DataFrame =
    df.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum(bpeTokenCount(col(textCol)).cast("long")).as("n_bpe_tokens"))
      .withColumn("fertility",
        when(col("n_bpe_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("n_chars").cast("double") / col("n_bpe_tokens"), 4)))

  /** Blocklist gate: per-document blocked-token tally against a word
    * blocklist (the UT1/"badwords" safety-filtering step every crawl
    * pipeline runs). Map-only at any corpus size — the blocklist is a
    * constant-size literal array inside the expression, never a join —
    * and the keep decision is INTEGER math (`n_blocked * 10000 <=
    * maxBp * n_tokens`, basis points), so the cut replays bit-exactly in
    * any engine with no ratio-rounding convention in play. */
  def blocklistGate(df: DataFrame, idCol: String, textCol: String,
                    blocklist: Seq[String], maxBp: Int): DataFrame = {
    val listed = array(blocklist.map(lit): _*)
    df.select(col(idCol),
        size(tokens(col(textCol))).as("n_tokens"),
        size(filter(tokens(col(textCol)),
          t => array_contains(listed, t))).as("n_blocked"))
      .withColumn("kept",
        col("n_blocked") * 10000 <= lit(maxBp) * col("n_tokens"))
  }

  /** Bigram novelty: the fraction of a document's distinct word bigrams
    * that appear in NO other document — an inter-document diversity /
    * boilerplate signal (low novelty = heavily templated text). Shuffles
    * carry 60-bit bigram digests + ids only; documents with fewer than
    * two tokens have no bigrams and drop out. */
  def bigramNovelty(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol),
        explode(Dedup.shingles(col(textCol), 2)).as("bg"))
      .select(col(idCol), Dedup.h60(col("bg")).as("bk"))
    // Novelty only needs CORPUS-SINGLETON bigrams, and a singleton (df=1)
    // has exactly one occurrence — so its owning doc rides along in the
    // frequency aggregation itself (min(id) over one row IS the owner)
    // and no occurrence-level join exists anywhere. The old shape joined
    // every bigram occurrence against the frequency table, which shuffles
    // the full occurrence stream onto bigram keys: the head bigram
    // ("of the") lands its entire corpus-wide occurrence list in ONE
    // partition. Here every shuffle is either doc-keyed or an aggregation
    // whose map-side combine collapses hot keys per task — skew-immune at
    // any corpus size.
    val counts = bg.groupBy(col(idCol)).agg(count(lit(1)).as("n_bigrams"))
    val singles = bg.groupBy(col("bk"))
      .agg(count(lit(1)).as("df"), min(col(idCol)).as("owner"))
      .where(col("df") === 1)
      .groupBy(col("owner")).agg(count(lit(1)).as("n_single"))
    counts.join(singles, counts(idCol) === singles("owner"), "left")
      .select(counts(idCol), col("n_bigrams"),
        round(coalesce(col("n_single"), lit(0L)).cast("double") /
          col("n_bigrams"), 4).as("novelty"))
  }

  /** Fixed-size token-window passages ("paragraphs" for corpora whose
    * documents carry no explicit boundary characters): non-overlapping
    * k-token windows exploded to (id, para_idx, para). Pure expression +
    * Generate — map-only, no shuffle. The passage table is the substrate
    * for passage-level dedup and the duplicated-passage quality signal. */
  def passages(df: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame =
    // exactly [[chunkWindows]] with stride == window (for n > 0 tokens,
    // ceil((n-k)/k) + 1 == ceil(n/k) window starts) — one Generate
    // pipeline to maintain instead of two
    chunkWindows(df, idCol, textCol, window = k, stride = k)
      .withColumnRenamed("chunk_idx", "para_idx")
      .withColumnRenamed("chunk", "para")

  /** Overlapping token-window chunks — the retrieval-indexing (RAG)
    * chunking step: a window of `window` tokens starts every `stride`
    * tokens, so consecutive chunks overlap by `window - stride` and no
    * boundary sentence is lost to a hard cut. Start positions run
    * through the last one that still begins new content
    * (ceil((len - window) / stride) + 1 windows; one window for docs
    * shorter than `window`). Pure expression + Generate like
    * [[passages]] — map-only at any scale, one output row per chunk. */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val toks = col("_toks")
    val lastStart =
      greatest(ceil((size(toks) - window).cast("double") / stride), lit(0.0))
        .cast("int")
    df.withColumn("_toks", tokens(col(textCol)))
      .where(size(toks) > 0)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), lastStart),
          i => array_join(slice(toks, i * stride + 1, lit(window)), " "))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * SIGMOD — the MOSS algorithm): hash every k-token gram, slide a
    * w-hash window over the sequence, and keep the MINIMUM hash of each
    * window. The selected set is position-robust — any shared substring
    * of at least w + k - 1 tokens is guaranteed to contribute one common
    * fingerprint — at ~1/w the density of full k-gram shingling, which
    * is what makes fingerprint-join dedup affordable at corpus scale.
    * Pure expressions (transform + array_min over HOF slices) — map-only;
    * one (id, fingerprint) row per distinct selected hash. Ties inside a
    * window need no tie-break here because equal hashes select the same
    * VALUE either way and the output is the distinct value set. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    val toks = col("_toks")
    val grams = col("_grams")
    df.withColumn("_toks", tokens(col(textCol)))
      .where(size(toks) >= k)
      // 60-bit md5 hash per k-gram (engine-portable, same as Dedup.h60)
      .withColumn("_grams",
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => Dedup.h60(array_join(slice(toks, i, lit(k)), " "))))
      .select(col(idCol),
        explode(array_distinct(
          transform(sequence(lit(1), greatest(size(grams) - (w - 1), lit(1))),
            j => array_min(slice(grams, j, lit(w)))))).as("fp"))
  }

  /** English-ish stopword list used by quality scoring and language ID. */
  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Quality features + composite score (length, punctuation density,
    * stopword ratio, mean word length) — the classic cheap heuristics used
    * to filter web corpora. Returns the input plus feature columns. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val sw = typedLit(StopwordsEn)
    // tokenize ONCE into a shared column: each feature referencing the
    // `tokens(t)` tree directly would re-run the regex split per feature
    // (CollapseProject refuses to inline a multiply-referenced alias, so a
    // real column is evaluated a single time per row)
    val toks = col("_toks")
    val nTok = size(toks)
    df.withColumn("_toks", tokens(t))
      .withColumn("n_tokens", nTok)
      .withColumn("punct_ratio",
        round(regexp_count(t, lit("[^A-Za-z0-9\\s]")).cast("double") /
          greatest(length(t), lit(1)), 4))
      .withColumn("stopword_ratio",
        round(size(filter(toks, w => array_contains(sw, w))).cast("double") /
          greatest(nTok, lit(1)), 4))
      .withColumn("mean_word_len",
        round(aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
          greatest(nTok, lit(1)), 4))
      .withColumn("quality_score",
        round(
          least(nTok.cast("double") / 100.0, lit(1.0)) * 0.4 +
            col("stopword_ratio") * 0.4 +
            (lit(1.0) - least(col("punct_ratio") * 10.0, lit(1.0))) * 0.2, 4))
      .drop("_toks")
  }

  /** Percentile-threshold quality gate: drop every document whose
    * [[qualityScore]] falls below the corpus's `quantile` score — the
    * standard "cut the worst X%" filtering step. The threshold is a
    * one-row `percentile_disc` aggregate broadcast back onto the scored
    * corpus, so the gate is two passes over the data and no driver-side
    * value handling; `percentile_disc` (not the interpolating
    * `percentile`) keeps the threshold an actual observed score. Both
    * Spark's `percentile_disc` and DuckDB's `quantile_disc` implement
    * the SQL-standard convention (least observed value whose cumulative
    * distribution >= q): Spark's side is property-pinned against a
    * reference implementation in TextOpsSpec, and cross-engine agreement
    * is oracle-verified at q in {0.1, 0.25, 0.5, 0.75, 0.9}
    * (x_text_quality_quantiles) beyond the 0.25 the filters use. */
  def qualityFilter(df: DataFrame, idCol: String,
                    quantile: Double): DataFrame = {
    // persisted because both the threshold aggregate and the gate read it:
    // one corpus scan + a cached re-read instead of scoring twice (lives
    // until the session clears its cache — Bench/Verify clearCache per
    // query; long-lived sessions should do the same between invocations)
    val scored = qualityScore(df)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = scored.agg(
      expr(s"percentile_disc($quantile) WITHIN GROUP (ORDER BY quality_score)")
        .as("_thr"))
    scored.crossJoin(broadcast(thr))
      .where(col("quality_score") >= col("_thr"))
      .select(col(idCol), col("quality_score"))
  }

  /** Per-SOURCE percentile quality gate: each source cuts its own worst
    * X% by [[qualityScore]]. A single global threshold lets one
    * high-quality source crowd out every document of a noisier domain —
    * per-domain gating is the standard fix. The threshold table is
    * source-count-sized (a `percentile_disc` per group, so the cut is an
    * observed score — same cross-engine quantile caveat as
    * [[qualityFilter]]) and broadcast back
    * onto the scored corpus: two passes, map-side filter, no windows —
    * unlike a percent_rank gate this never sorts a dominant source's
    * rows in one task. */
  def qualityFilterBySource(df: DataFrame, idCol: String, sourceCol: String,
                            quantile: Double): DataFrame = {
    // same cached-re-read shape as [[qualityFilter]]
    val scored = qualityScore(df)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = scored.groupBy(col(sourceCol)).agg(
      expr(s"percentile_disc($quantile) WITHIN GROUP (ORDER BY quality_score)")
        .as("_thr"))
    scored.join(broadcast(thr), sourceCol)
      .where(col("quality_score") >= col("_thr"))
      .select(col(idCol), col(sourceCol), col("quality_score"))
  }

  /** Top adjacent character-pair counts over the corpus vocabulary — ONE
    * BPE training iteration (the merge candidates a byte-pair-encoding
    * tokenizer trainer would fuse next), each adjacent occurrence inside a
    * word weighted by the word's corpus frequency.
    *
    * Scale shape: the corpus collapses to (word, count) FIRST — one
    * narrow aggregation — and the pair explode runs over the vocabulary,
    * not the corpus, so a 100 TB corpus costs one token-count shuffle
    * plus vocabulary-sized work. Top-k is (count desc, pair asc) — a
    * total order, so `TakeOrderedAndProject` ships k rows per task. */
  def bpePairCounts(df: DataFrame, textCol: String = "text",
                    k: Int = 20): DataFrame = {
    val wc = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    wc.select(explode(expr(
        "CASE WHEN length(w) < 2 THEN array()" +
          " ELSE transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) END"))
        .as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** In-engine BPE tokenizer TRAINING: `merges` greedy merge steps over
    * the corpus vocabulary, returning the learned merge table
    * (rank, sym_l, sym_r, n) — [[bpePairCounts]] is one step of this
    * loop; this runs the loop.
    *
    * The corpus collapses to (word, count) ONCE; every step after is
    * vocabulary-sized: one adjacent-pair aggregation, a 1-row
    * `TakeOrderedAndProject` winner (count desc, pair asc — total order,
    * deterministic at any layout), and a map-only merge apply. Words are
    * held in boundary-delimited form `<s1><s2>…` so the merge is a plain
    * left-to-right `replace("<l><r>" → "<lr>")` — delimiters make symbol
    * boundaries unambiguous (no symbol contains `<`), and because the
    * pattern shares no characters across occurrences, non-overlapping
    * string replace IS the greedy BPE merge (a run `a a a a` merges to
    * `aa aa`, exactly like pair-at-a-time scanning). The driver sees
    * `merges` winner rows total — the bounded-metadata loop pattern of
    * kmeans / trainHashedLogReg. */
  def bpeTrain(df: DataFrame, textCol: String = "text",
               merges: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    var vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(concat(lit("<"), concat_ws("><", split(col("w"), "")),
        lit(">")).as("s"), col("c"))
      .persistTracked() // vocabulary-sized; every step re-reads it
    val rules = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = vocab
        .select(col("c"),
          expr("split(substring(s, 2, length(s) - 2), '><')").as("y"))
        .select(col("c"), explode(expr(
          "CASE WHEN size(y) < 2 THEN array() ELSE" +
            " transform(sequence(1, size(y) - 1)," +
            " i -> struct(element_at(y, i) AS l, element_at(y, i + 1) AS r)) END"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        rules += ((step, l, r, n))
        vocab = vocab.select(
          replace(col("s"), lit(s"<$l><$r>"), lit(s"<$l$r>")).as("s"),
          col("c"))
        step += 1
      }
    }
    val schema = StructType(Seq(StructField("rank", IntegerType),
      StructField("sym_l", StringType), StructField("sym_r", StringType),
      StructField("n", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rules.toSeq.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4)), 1),
      schema)
  }

  /** Apply a [[bpeTrain]]ed merge table to the corpus — the ENCODE half
    * of the tokenizer loop: every word starts as its boundary-delimited
    * character sequence and the learned merges replay in rank order
    * (replace-all per rule, the same convention the trainer's vocabulary
    * update uses, so train→encode round-trips exactly). The merge table
    * is bounded metadata (≤ `merges` rows to the driver); encoding itself
    * is a map-only chain of `replace` literals over the exploded word
    * stream, then one per-document aggregation. Returns (idCol, n_words,
    * n_pieces, pieces_per_word); tokenless documents keep a zero row. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String = "text",
                merges: Int = 3): DataFrame = {
    val rules = bpeTrain(df, textCol, merges).orderBy("rank").collect()
    val words = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val s0: Column = concat(lit("<"), concat_ws("><", split(col("w"), "")),
      lit(">"))
    val enc = rules.foldLeft(s0) { (acc, r) =>
      val (l, rr) = (r.getString(1), r.getString(2))
      replace(acc, lit(s"<$l><$rr>"), lit(s"<$l$rr>"))
    }
    val agg = words
      .select(col(idCol), (length(enc) -
        length(replace(enc, lit("<"), lit("")))).cast("long").as("pieces"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("pieces")).as("n_pieces"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        when(coalesce(col("n_words"), lit(0L)) === 0, 0.0)
          .otherwise(round(col("n_pieces").cast("double") /
            col("n_words"), 4)).as("pieces_per_word"))
  }

  /** Per-source distribution drift: the two-sample Kolmogorov–Smirnov
    * statistic between each source's quality-score distribution and the
    * REST of the corpus, evaluated on a `buckets`-point quantized grid —
    * the monitoring signal that flags a domain whose quality profile
    * diverges (a broken crawler, a spammy feed) before it poisons a mix.
    *
    * Quantizing first makes the statistic exact-on-the-grid and
    * bit-deterministic: the only floating math is one division per grid
    * cell from exact integer cumulative counts (grid-KS lower-bounds true
    * KS, converging at grid resolution — the standard histogram-sketch
    * approximation). Scale shape: one (source, bucket) count aggregation
    * over the corpus, then EVERYTHING downstream is grid-sized — the
    * per-source windows see ≤ `buckets` rows, the global cumulative is a
    * grid-keyed aggregation of per-source cumulatives (no unpartitioned
    * window), and the corpus total is a one-row broadcast. */
  def qualityDrift(df: DataFrame, sourceCol: String,
                   buckets: Int = 256): DataFrame =
    ksFromCounts(qualityScore(df)
      .select(col(sourceCol).as("source"),
        scoreBucket(col("quality_score"), buckets).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("n")), buckets)

  /** Grid cell of a [0, 1] score — shared by the batch and streaming
    * drift paths so their histograms are identical. */
  def scoreBucket(score: Column, buckets: Int): Column =
    least(floor(score * buckets).cast("int"), lit(buckets - 1))

  /** [[qualityDrift]]'s statistic stage, starting from an already-built
    * (source, b, n) histogram — the entry point for INCREMENTAL drift
    * monitoring, where the histogram is maintained by a streaming
    * aggregation (constant-size state per source) and the KS evaluation
    * runs over grid-sized data only. */
  def ksFromCounts(counts: DataFrame, buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dense source × bucket grid so every cumulative sees every boundary
    val dense = counts.select(col("source")).distinct()
      .withColumn("b", explode(sequence(lit(0), lit(buckets - 1))))
      .join(counts, Seq("source", "b"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val w = Window.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense.withColumn("cum", sum(col("n")).over(w))
    val glob = cum.groupBy(col("b")).agg(sum(col("cum")).as("gcum"))
    val tot = counts.groupBy(col("source")).agg(sum(col("n")).as("ns"))
    val nAll = tot.agg(sum(col("ns")).as("ntot"))
    cum.join(glob, "b").join(tot, "source")
      .crossJoin(broadcast(nAll))
      // a single-source corpus has an empty "rest": guard the division
      // (ANSI mode makes /0 an error, not NaN) — d stays null and the max
      // below reports null for that source
      .withColumn("d", when(col("ntot") > col("ns"), abs(
        col("cum") / col("ns") -
          (col("gcum") - col("cum")) / (col("ntot") - col("ns")))))
      .groupBy(col("source"))
      .agg(first(col("ns")).as("n_docs"), max(col("d")).as("ks_stat"))
  }

  /** Per-language marker-word profiles for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast as literals into codegen. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "und", "die", "ist", "das"),
    "fr" -> Seq("le", "et", "la", "est", "les"),
    "es" -> Seq("el", "y", "la", "es", "los"),
    "zh" -> Seq("de", "shi", "zai", "le", "he"))

  /** Heuristic language ID: argmax over per-language marker-hit counts,
    * deterministic first-profile-wins tie-break, `und` when nothing hits.
    * One expression per row — embarrassingly parallel at any scale. */
  def langId(df: DataFrame, textCol: String = "text", outCol: String = "lang_pred"): DataFrame = {
    // token array and the argmax struct each live in a real column so they
    // evaluate once per row (the struct is referenced twice below; the
    // token array once per language profile)
    val toks = col("_toks")
    val scored: Column = LangProfiles.foldLeft(
      struct(lit(-1).as("hits"), lit("und").as("lang"))) { case (best, (lang, words)) =>
      val hits = size(filter(toks, w => array_contains(typedLit(words), w)))
      when(hits > best.getField("hits"),
        struct(hits.as("hits"), lit(lang).as("lang"))).otherwise(best)
    }
    df.withColumn("_toks", tokens(col(textCol)))
      .withColumn("_scored", scored)
      .withColumn(outCol,
        when(col("_scored.hits") > 0, col("_scored.lang")).otherwise(lit("und")))
      .drop("_toks", "_scored")
  }

  /** PII patterns shared by [[redactPii]] and its oracle: RE2-compatible
    * (no backrefs/lookaround) so DuckDB's regexp engine matches Java's. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII scrub for training corpora: counts and redacts email addresses and
    * phone-number-shaped digit runs. Returns (n_emails, n_phones, redacted)
    * columns appended to the input. Pure per-row regexp expressions —
    * map-only at any scale; emails are replaced first so phone matching
    * never sees digits inside addresses. */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(EmailRe)))
      .withColumn("n_phones",
        regexp_count(regexp_replace(t, EmailRe, "<EMAIL>"), lit(PhoneRe)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"))
  }

  /** Corpus vocabulary by document frequency: one row per token with the
    * number of distinct documents containing it. Tokens are de-duplicated
    * per document BEFORE the explode, so the shuffle carries each (doc,
    * token) once and the count needs no DISTINCT aggregation — the
    * standard vocab-building shape at corpus scale. */
  def docFrequency(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))

  /** Top-k bigram collocations by pointwise mutual information:
    * pmi(a b) = ln( (c(a b)/M) / ((c(a)/N) · (c(b)/N)) ) over adjacent
    * token pairs, with a count floor to kill the low-count PMI explosion
    * (a hapax pair maxes PMI by definition — the standard Church & Hanks
    * caveat). All inputs are exact integer counts, so PMI is a pure
    * per-row expression over them and the ranking is engine-portable.
    *
    * Scale shape: unigram and bigram counts are plain shuffle
    * aggregations on compact keys with map-side combine; the
    * bigram→unigram count joins go through token-keyed shuffle joins
    * (vocabulary-sized — never broadcast, same rule as [[tfidfTop]]);
    * the two one-row totals broadcast; final top-k is a
    * TakeOrderedAndProject. */
  def pmiTop(df: DataFrame, textCol: String = "text", minCount: Long = 5L,
             topK: Int = 20): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("toks"))
    val uni = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))
          |END""".stripMargin)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nTok = uni.agg(sum(col("c")).as("n"))
    val nBi = bi.agg(sum(col("c12")).as("m"))
    bi.where(col("c12") >= minCount)
      .join(uni.select(col("token").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("token").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12") / col("m")) /
          ((col("c1") / col("n")) * (col("c2") / col("n")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Unigram-LM document score: mean log probability of the document's
    * tokens under the corpus's own unigram distribution — the cheap,
    * exactly-computable stand-in for the KenLM-perplexity quality filter
    * (low scorers are gibberish/rare-token soup, abnormally high scorers
    * are boilerplate). Same scale shape as [[tfidfTop]]: the token-count
    * table is vocabulary-sized so it joins by a plain shuffle (never
    * broadcast); only the one-row total-token aggregate is broadcast. */
  def unigramLogProb(df: DataFrame, idCol: String,
                     textCol: String = "text"): DataFrame = {
    // persisted: tf feeds BOTH the vocabulary aggregation and the scoring
    // join — without it each branch re-pays the whole-corpus tokenize +
    // explode + per-doc aggregation
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persistTracked()
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("n_tok"))
    tf.join(counts, "token")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(
        round(sum(col("tf") * log(col("cnt").cast("double") / col("n_tok"))) /
          sum(col("tf")), 4).as("mean_logprob"),
        sum(col("tf")).as("n_tokens"))
  }

  /** CCNet-style perplexity bucketing: rank each document WITHIN its
    * language by [[unigramLogProb]] surprise (higher mean log-probability
    * = lower perplexity = cleaner text) and cut each language's ranking
    * into head / middle / tail thirds — the standard per-language quality
    * tiers a web-corpus pipeline trains its sampling weights on.
    *
    * Scale: a naive per-language NTILE is a global sort inside each
    * language partition — one task per language at 100 TB. Here the rank
    * is the two-level prefix sum from [[graft.ops.Curation.curriculumOrder]],
    * keyed per (language, score-bucket): `floor(−mean_logprob · 32)` is a
    * monotone coarsening of the descending-score order, so bucket offsets
    * (a languages × 256 count table through one small window) plus the
    * in-bucket row_number IS the exact per-language rank, and every
    * corpus-sized window stays keyed by (lang, bucket). Stage cut is
    * integer (`((rank−1)·3) div n` — no NTILE convention in play).
    * Documents with no tokens drop (no score), matching unigramLogProb.
    * Ranks tie-break on the ROUNDED score then id, so the order is
    * bit-portable across engines. */
  def perplexityBuckets(df: DataFrame, idCol: String, langCol: String,
                        textCol: String = "text",
                        buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = unigramLogProb(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
    // mean_logprob <= 0 always (token probabilities <= 1), so the bucket
    // index floor(-lp*32) is >= 0; the clamp only merges edge buckets.
    // Persisted because three subplans read it (offsets, per-lang counts,
    // the final rank join) — without persist each would re-score the
    // corpus against the unigram LM (lives until the caller clears the
    // cache — Bench/Verify clearCache per query, suites per suite).
    val withB = scored.withColumn("__b",
      least(greatest(floor(-col("mean_logprob") * 32), lit(0L)),
        lit(buckets - 1L)))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val off = withB.groupBy(col(langCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.partitionBy(col(langCol)).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(langCol), col("__b"), col("__off"))
    val nLang = withB.groupBy(col(langCol)).agg(count(lit(1)).as("__n"))
    val inB = Window.partitionBy(col(langCol), col("__b"))
      .orderBy(col("mean_logprob").desc, col(idCol))
    withB.join(off, Seq(langCol, "__b"))
      .withColumn("rank", col("__off") + row_number().over(inB))
      .join(broadcast(nLang), Seq(langCol))
      .withColumn("ppl_bucket",
        expr("CASE ((`rank` - 1) * 3) div __n WHEN 0 THEN 'head' " +
          "WHEN 1 THEN 'middle' ELSE 'tail' END"))
      .select(col(idCol), col(langCol), col("mean_logprob"), col("rank"),
        col("ppl_bucket"))
  }

  /** Exact phrase search over a positional inverted index: documents (and
    * hit counts) containing `phrase` as consecutive tokens. The retrieval
    * twin of [[bm25]]'s bag-of-words scoring — phrase queries are what
    * the bag model can't answer.
    *
    * Scale: postings are (id, position) pairs for the QUERY TERMS ONLY —
    * the `term IN (...)` filter runs before any exchange, so the joins
    * shuffle a few postings lists, never the corpus. Adjacency is an
    * equi-join: term_i's postings shifted by −i all meet on (id, p0), so
    * a k-word phrase is k−1 hash joins on compact integer keys (the
    * standard positional-index intersection, reference semantics of a
    * `WHERE text LIKE '%w1 w2%'` scan without the full-text rescan).
    * Positions are 1-based in the output. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val postings = df
      .select(col(idCol).as("__id"),
        posexplode(tokens(col(textCol))).as(Seq("__pos", "__term")))
      .where(col("__term").isin(phrase.distinct: _*))
    val first = postings.where(col("__term") === phrase.head)
      .select(col("__id"), col("__pos").as("__p0"))
    val matched = phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (w, i)) =>
        acc.join(
          postings.where(col("__term") === w)
            .select(col("__id"), (col("__pos") - i).as("__p0")),
          Seq("__id", "__p0"))
    }
    matched.groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_hits"),
        (min(col("__p0")) + 1).as("first_pos"))
  }

  /** Per-document mean BIGRAM log-probability under the corpus bigram
    * model with add-one smoothing — the step up from [[unigramLogProb]]'s
    * unigram surprise (the standard cheap stand-in for perplexity
    * filtering when no external LM is available):
    * `logP(w2|w1) = ln((c(w1 w2) + 1) / (c(w1) + V))`.
    *
    * Scale: bigram/unigram count joins are PLAIN shuffles on the gram key
    * (vocabulary-sized sides, deliberately not broadcast — O(corpus) at
    * web scale; AQE downgrades to broadcast when small); V reaches every
    * row as one aggregated scalar. Documents with < 2 tokens drop (no
    * bigrams — same convention as unigramLogProb's token-less docs). */
  def bigramLogProb(df: DataFrame, idCol: String,
                    textCol: String = "text"): DataFrame = {
    val t = df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
    // persisted: bg feeds the bigram-count aggregation AND the scoring
    // join; ug feeds the unigram counts AND the vocabulary scalar —
    // unpersisted, each branch re-tokenizes the full corpus.
    // The per-doc aggregation keys on (id, b) only — w1 is the bigram's
    // first word and tokens cannot contain spaces, so it re-derives
    // EXACTLY as substring_index(b, ' ', 1) AFTER the exchange instead of
    // riding through it as a third key column (guide §2.3: project before
    // the exchange / shuffle fewer bytes; also drops the per-position
    // struct build from the explode).
    val bg = t.select(col(idCol), explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2)))"))
        .as("b"))
      .groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .persistTracked()
    val bgCounts = bg.groupBy(col("b").as("bk")).agg(sum(col("tf")).as("cb"))
    val ug = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .persistTracked()
    val ugCounts = ug.select(col("w").as("wk"), col("cw"))
    val vocab = ug.agg(count(lit(1)).as("v"))
    bg.join(bgCounts, col("b") === col("bk"))
      .join(ugCounts, col("w1") === col("wk"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(
        round(sum(col("tf") * log((col("cb") + 1).cast("double") /
          (col("cw") + col("v")))) / sum(col("tf")), 4).as("mean_logprob"),
        sum(col("tf")).as("n_bigrams"))
  }

  /** RAKE-style keyphrase extraction: candidate phrases are maximal runs
    * of non-stopword tokens (stopwords and document boundaries delimit),
    * each word scores `degree/freq` over the phrase graph (degree = sum
    * of lengths of phrases containing the word, freq = occurrences), and
    * a phrase scores the sum of its words' scores — the classic
    * rapid-automatic-keyword-extraction shape.
    *
    * Determinism discipline: word ratios are FIXED-POINT
    * (`degree · 10^6 div freq`) and a phrase score is an integer sum of
    * them — no float summation order anywhere, so corpus-wide top-k
    * replays bit-exactly cross-engine. Scale: islands come from one
    * doc-keyed window over (pos, token) rows; word stats are one
    * token-keyed aggregation; the only unkeyed step is the final
    * TakeOrderedAndProject top-k. Returns (phrase, n_occurrences,
    * score_micro) — the top `k` by (score desc, phrase). */
  def rakeKeyphrases(df: DataFrame, idCol: String, textCol: String = "text",
                     k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sw = typedLit(StopwordsEn)
    val members = df
      .select(col(idCol).as("id"), posexplode(tokens(col(textCol))).as(Seq("i", "w")))
      .where(!array_contains(sw, col("w")))
      .withColumn("isl", col("i") -
        row_number().over(Window.partitionBy(col("id")).orderBy(col("i"))))
      .withColumn("plen",
        count(lit(1)).over(Window.partitionBy(col("id"), col("isl"))))
    val wstats = members.groupBy(col("w").as("wk"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("ratio_q", expr("deg * 1000000 DIV freq"))
    members.join(wstats, col("w") === col("wk"))
      .groupBy(col("id"), col("isl"))
      .agg(
        concat_ws(" ", transform(array_sort(collect_list(struct(col("i"), col("w")))),
          s => s.getField("w"))).as("phrase"),
        sum(col("ratio_q")).as("score_q"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), max(col("score_q")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(k)
  }

  /** Leakage-safe k-fold assignment: the fold is a pure function of the
    * CONTENT digest (byte-identical copies always land in the same fold,
    * so cross-validation rotation can never leak a duplicate across the
    * train/eval line — same unit rule as the split operator). Map-only.
    * Null units take a sentinel digest, matching the split convention. */
  def kFold(df: DataFrame, unitCol: String, folds: Int): DataFrame = {
    require(folds >= 2, "kFold needs at least 2 folds")
    df.withColumn("fold",
      pmod(Dedup.h32(coalesce(md5(col(unitCol).cast("binary")),
        lit("__null_unit__"))), lit(folds.toLong)).cast("int"))
  }

  /** Hashed-feature linear classifier scoring — the inference shape of a
    * fastText-style quality/domain classifier: each token hashes into one
    * of `dim` feature buckets, the bucket's weight comes from a broadcast
    * linear model, and the document score is the mean token weight. Here
    * the weight table is a deterministic hash-derived stand-in in
    * [-1, 1] (a real model would substitute its trained array as a
    * broadcast literal — the plan shape is identical). Map-only scoring:
    * integer milli-weights are summed exactly (no float summation-order
    * nondeterminism) and divided once per document. */
  def hashedLinearScore(df: DataFrame, idCol: String,
                        textCol: String = "text", dim: Int = 1024): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .withColumn("b", Dedup.h32(col("token")) % dim)
      .withColumn("w_milli",
        Dedup.h32(concat(lit("w:"), col("b").cast("string"))) % 2001L - 1000L)
      .groupBy(col(idCol))
      .agg(sum(col("w_milli")).as("wsum"), count(lit(1)).as("n_tokens"))
      .select(col(idCol),
        // floor-based fixed point, not round(): mean milli-weights hit
        // exact .5 ties at 4 dp (e.g. -2264/32), where Spark's HALF_UP
        // and DuckDB disagree on negatives — floor has no tie cases
        (floor(col("wsum") * 10.0 / col("n_tokens")).cast("double") / 10000.0)
          .as("score"),
        col("n_tokens"),
        (col("wsum") >= 0).as("keep"))

  /** In-engine training of the hashed-feature quality classifier
    * ([[hashedLinearScore]]'s shape, but with LEARNED weights): logistic
    * regression over hashed bag-of-words counts by full-batch gradient
    * descent, in integer micro-unit fixed point so every step is
    * deterministic and engine-portable — weights, per-doc scores, and
    * gradients are exact long sums (order-independent, unlike double
    * accumulation); the only float op per iteration is the sigmoid,
    * immediately re-quantized to micro units. Mean gradient, lr = 1/lrInv.
    *
    * Scale shape: the (doc, bucket, cnt) design matrix is one exploded
    * aggregation (compact keys); each iteration is one broadcast of the
    * ≤dim-row weight table, one per-doc integer dot product (shuffle on
    * doc id), one integer gradient aggregation (shuffle on bucket), and a
    * ≤dim-row collect — like [[Similarity.kmeans]], only k×1 longs ever
    * reach the driver, never the corpus. Gradient longs hold to ~10¹²
    * token occurrences per bucket; beyond that, widen to DECIMAL.
    *
    * Returns one row per touched bucket: (bucket, w_micro, w). */
  def trainHashedLogReg(df: DataFrame, idCol: String, labelPred: Column,
                        textCol: String = "text", dim: Int = 64,
                        iters: Int = 2, lrInv: Double = 100.0): DataFrame = {
    val spark = df.sparkSession
    // cached PRE-PARTITIONED BY id: every iteration runs one id-keyed
    // aggregation (the per-doc dot product) and one id-keyed join (docs ×
    // predictions) over x — with x hash-partitioned by id once, both
    // reuse the cached partitioning and neither re-exchanges the design
    // matrix, so the per-iteration shuffle drops to the (≤dim-row)
    // gradient aggregation (guide §2.4: operations keyed the same way
    // share one exchange). Costs one extra exchange at build time; saves
    // two corpus-sized exchanges PER ITERATION.
    val x = df.select(col(idCol).as("id"), labelPred.as("y"),
        explode(tokens(col(textCol))).as("token"))
      .withColumn("b", Dedup.h32(col("token")) % dim)
      .groupBy(col("id"), col("y"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("yfp", when(col("y"), 1000000L).otherwise(0L))
      .repartition(col("id"))
      .persistTracked()
    val nDocs = x.select(countDistinct(col("id"))).first().getLong(0)
    var wfp = Map.empty[Long, Long] // bucket -> weight in micro units
    for (_ <- 0 until iters) {
      val wDf = spark.createDataFrame(
        (0 until dim).map(b => (b.toLong, wfp.getOrElse(b.toLong, 0L))))
        .toDF("b", "wcur")
      val p = x.join(broadcast(wDf), Seq("b"), "left")
        .groupBy(col("id"))
        .agg(sum(col("cnt") * coalesce(col("wcur"), lit(0L))).as("sfp"))
        .select(col("id"),
          round(lit(1e6) / (lit(1.0) + exp(-(col("sfp") / 1e6))), 0)
            .cast("long").as("pfp"))
      val grad = x.join(p, Seq("id"))
        .groupBy(col("b"))
        .agg(sum(col("cnt") * (col("yfp") - col("pfp"))).as("gfp"))
        .collect()
      grad.foreach { r =>
        val (b, g) = (r.getLong(0), r.getLong(1))
        wfp = wfp.updated(b, wfp.getOrElse(b, 0L) +
          math.floor(g / (lrInv * nDocs)).toLong)
      }
    }
    x.unpersist()
    spark.createDataFrame(wfp.toSeq.sortBy(_._1)).toDF("bucket", "w_micro")
      .select(col("bucket").cast("int").as("bucket"), col("w_micro"),
        round(col("w_micro") / 1e6, 6).as("w"))
  }

  /** Score documents with a trained [[trainHashedLogReg]] weight table:
    * the integer dot product of each document's hashed bucket counts with
    * `weights.w_micro` — map-only but for one doc-keyed aggregation; the
    * weight table broadcasts (≤dim rows). `keep` = score >= 0, the binary
    * quality verdict. */
  def scoreWithWeights(df: DataFrame, idCol: String, weights: DataFrame,
                       textCol: String = "text", dim: Int = 64): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .withColumn("b", Dedup.h32(col("token")) % dim)
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(weights.select(col("bucket").cast("long").as("b"),
        col("w_micro"))), Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * coalesce(col("w_micro"), lit(0L))).as("s_micro"))
      .select(col(idCol), col("s_micro"), (col("s_micro") >= 0L).as("keep"))

  /** Okapi BM25 relevance of every document against a literal query-term
    * set (k1/b defaults 1.2/0.75; Robertson `+1` idf so scores stay
    * positive) — the lexical-retrieval ranking primitive.
    *
    * Scale shape: the exploded token stream is pruned to the query's
    * terms map-side BEFORE any aggregation (the term set is a literal IN
    * list, pushed into the scan's filter), so the only O(corpus) state is
    * the per-doc length table, joined by a plain shuffle on the doc id.
    * Per-term document frequency (≤ |q| rows) and the corpus scalars
    * (N, avgdl) broadcast. The per-doc score sum is ordered by token, so
    * the double summation is deterministic and the DuckDB oracle replays
    * it exactly; the final top-k is a TakeOrderedAndProject. */
  def bm25(df: DataFrame, idCol: String, queryTerms: Seq[String],
           textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 10): DataFrame = {
    // persisted: toks feeds the doc-length side AND the tf side — one
    // corpus tokenize, not two
    val toks = df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .persistTracked()
    val dl = toks.select(col(idCol), size(col("toks")).cast("double").as("dl"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val tf = toks.select(col(idCol), explode(col("toks")).as("token"))
      .where(col("token").isin(queryTerms: _*))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(avgdl))
      .crossJoin(broadcast(nDocs))
      .withColumn("s",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    scored.groupBy(col(idCol))
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("token"), col("s")))),
            x => x.getField("s")),
          lit(0.0), (acc, v) => acc + v).as("raw"))
      .select(col(idCol), round(col("raw"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(topK)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two bounded candidate
    * rankings — the standard hybrid-retrieval merge of a lexical ([[bm25]])
    * and a semantic (ANN) top-k: score(d) = Σ 1/(c + rank(d)) over the
    * rankings containing d, c = 60 the published default. Both inputs are
    * top-k lists, so the rank windows and the outer join operate on
    * k-sized frames — the corpus itself is never touched by the fusion
    * (the upstream retrievers already did the heavy lifting with their
    * own scale shapes). Ranks break ties by id; the fused score rounds to
    * 6 dp so ordering is engine-portable. */
  /** Batch BM25: [[bm25]] for a TABLE of queries at once — the production
    * retrieval shape (one query at a time re-scans the corpus; a batch
    * shares the token scan, the length table, and the corpus stats across
    * every query).
    *
    * Scale: the query batch is small by contract, so the (query, term)
    * table broadcasts twice — once to prune the corpus token stream to
    * the union of query vocabularies BEFORE any shuffle, once to fan
    * per-(doc, term) scores out to the queries containing the term. The
    * per-query top-k is a window PARTITIONED by query id (bounded fan-in
    * per query). Score summation is token-ordered like [[bm25]], so the
    * oracle replays it exactly. */
  def bm25Batch(df: DataFrame, idCol: String, queries: DataFrame,
                qidCol: String, qTermsCol: String, textCol: String = "text",
                k1: Double = 1.2, b: Double = 0.75,
                topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: toks feeds the doc-length side AND the tf side
    val toks = df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .persistTracked()
    val dl = toks.select(col(idCol), size(col("toks")).cast("double").as("dl"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val qt = queries
      .select(col(qidCol).as("qid"), explode(col(qTermsCol)).as("token"))
      .distinct()
    val tf = toks.select(col(idCol), explode(col("toks")).as("token"))
      .join(broadcast(qt.select(col("token")).distinct()), Seq("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(avgdl))
      .crossJoin(broadcast(nDocs))
      .withColumn("s",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .join(broadcast(qt), Seq("token"))
    val perQuery = scored.groupBy(col("qid"), col(idCol))
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("token"), col("s")))),
            x => x.getField("s")),
          lit(0.0), (acc, v) => acc + v).as("raw"))
      .select(col("qid"), col(idCol), round(col("raw"), 4).as("bm25"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("bm25").desc, col(idCol))
    perQuery.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              scoreA: String, scoreB: String, topK: Int,
              c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranked(df: DataFrame, scoreCol: String, rankName: String) =
      df.select(col(idCol), col(scoreCol))
        .withColumn(rankName, row_number().over(
          Window.orderBy(col(scoreCol).desc, col(idCol))))
        .drop(scoreCol)
    ranked(a, scoreA, "rank_a")
      .join(ranked(b, scoreB, "rank_b"), Seq(idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topK)
  }

  /** Per-document top TF-IDF term: term frequency from the token multiset,
    * document frequency from [[docFrequency]], idf = ln(N / df). N arrives
    * as a broadcast one-row aggregate (no driver-side action); the df table
    * joins by token through a plain shuffle join — the vocabulary is
    * O(corpus) on a web-scale crawl (billions of distinct tokens), so a
    * broadcast here would OOM every executor; AQE still downgrades the
    * exchange to a broadcast at runtime when the observed vocabulary is
    * actually small. `minDocFreq` > 1 prunes the long hapax tail before the
    * join (standard practice; hapaxes always win raw TF-IDF argmax, so the
    * floor changes results — default 1 keeps exact semantics). The top term
    * per document reduces through one window pass. */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String = "text",
               minDocFreq: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq0 = docFrequency(df, textCol)
    val dfreq = if (minDocFreq > 1L) dfreq0.where(col("doc_freq") >= minDocFreq) else dfreq0
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("doc_freq")), 4))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(idCol), col("token"), col("tf"), col("doc_freq"), col("tfidf"))
  }

  /** Gopher-style repetition signal: the fraction of a document's word
    * trigrams taken by its single most frequent trigram (non-distinct
    * counts — repetition is the point). High ratios mark boilerplate /
    * TEMPLATE spam for corpus filtering. A per-row projection, map-only:
    * the document is tokenized once and [[graft.functions.MaxTrigramCount]]
    * counts its trigrams in one hash-map pass, so there is no explode,
    * shuffle or join. Null text and docs with fewer than 3 tokens report
    * zero trigrams. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        coalesce(graft.functions.GraftFunctions.maxTrigramCount(toks), lit(0)).as("max_tri"),
        greatest(coalesce(size(toks), lit(0)) - 2, lit(0)).as("n_tri"))
      .select(col(idCol), col("max_tri"), col("n_tri"),
        round(col("max_tri").cast("double") / greatest(col("n_tri"), lit(1)), 4)
          .as("rep_ratio"))
  }

  /** Benchmark-contamination screen (the decontamination step run before
    * training): for each training document, how many of its word n-gram
    * shingles appear ANYWHERE in the eval/benchmark corpus, plus the
    * contaminated fraction. The shape is an inverted-index semi-join on a
    * 64-bit shingle hash — the training corpus shuffles (id, hash) pairs
    * only (never text), the eval side reduces to its distinct shingle
    * hashes (tiny next to a training corpus), and docs with zero overlap
    * survive via the final left join. A 64-bit hash collision can only
    * overcount one shingle in ~2^64 — standard practice at corpus scale. */
  def contaminationScreen(train: DataFrame, idCol: String,
                          eval: DataFrame, textCol: String = "text",
                          n: Int = 3): DataFrame = {
    val sh = graft.functions.GraftFunctions.wordShingles(tokens(col(textCol)), n)
    val base = train.select(col(idCol), sh.as("shs")).persistTracked()
    val evalSh = eval.select(explode(sh).as("s"))
      .select(xxhash64(col("s")).as("h")).distinct()
    val hits = base.select(col(idCol), explode(col("shs")).as("s"))
      .select(col(idCol), xxhash64(col("s")).as("h"))
      .join(evalSh, Seq("h"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"))
    base.select(col(idCol), size(col("shs")).as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          greatest(col("n_shingles"), lit(1)), 4).as("contamination"))
  }

  /** HTML/markup stripping — the crawl-to-text step: script and style
    * elements drop with their CONTENT, remaining tags drop keeping their
    * text, the handful of entities that survive real-world extraction are
    * decoded, and whitespace collapses. Pure per-row regex chain (every
    * pattern is RE2/Java-portable, no capture-group replacements) —
    * map-only at any scale. */
  def stripMarkup(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    // &amp; decodes LAST: doing it first turns an escaped '&amp;lt;'
    // (literal text "&lt;") into '&lt;' which the next pass would
    // wrongly decode to '<'
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** URL canonicalization — the web-dedup key derivation: fragments and
    * tracking parameters (utm_*, gclid, fbclid) drop, default ports
    * drop, scheme+host lowercase (path stays case-sensitive per RFC
    * 3986), and a trailing slash drops. Every rewrite is a literal or
    * group-free regex so the identical chain runs on any engine; pure
    * per-row expressions, map-only. */
  def canonicalizeUrl(url: Column): Column = {
    val track = "(utm_[^&=]*|gclid|fbclid)"
    val noFrag = regexp_replace(url, "#.*", "")
    // tracking params must be [?&]-anchored or 'xgclid=5' would be
    // mangled too. No capture-group replacements (Java $1 vs RE2 \1
    // dialect split), so three anchored passes instead: strip every
    // &-prefixed tracking param, then a leading '?track=v&' keeping the
    // '?' for the promoted successor, then a lone '?track=v' tail.
    val noMid = regexp_replace(noFrag, s"&$track=[^&]*", "")
    val noLead = regexp_replace(noMid, s"\\?$track=[^&]*&", "?")
    val noTrack = regexp_replace(noLead, s"\\?$track=[^&]*$$", "")
    // default ports are scheme-specific: 80 is NOT default for https.
    // The three positions a port ends at: before '/', before '?', or
    // end-of-string. (A scheme-relative caveat: the replace is global,
    // so a default port inside an embedded URL parameter would also be
    // rewritten — acceptable for a dedup key.)
    def stripPort(c: Column, port: String): Column =
      Seq(s":$port/" -> "/", s":$port\\?" -> "?", s":$port$$" -> "")
        .foldLeft(c) { case (cc, (p, r)) => regexp_replace(cc, p, r) }
    val isHttp = lower(url).startsWith("http://")
    val isHttps = lower(url).startsWith("https://")
    val noPort = when(isHttp, stripPort(noTrack, "80"))
      .when(isHttps, stripPort(noTrack, "443"))
      .otherwise(noTrack)
    val schemeHost =
      lower(regexp_extract(noPort, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0))
    val rebuilt =
      concat(schemeHost, noPort.substr(length(schemeHost) + 1, lit(1000000)))
    regexp_replace(rebuilt, "/$", "")
  }

  /** Registrable host of a canonicalized URL — the unit for domain-level
    * splits, caps, and per-site statistics. */
  def urlDomain(url: Column): Column =
    regexp_extract(url, "://([^/:?#]*)", 1)

  /** Canonical text normalization for web corpora: lowercase, collapse
    * every whitespace run to a single space, trim the ends. Pure per-row
    * expression — map-only at any scale. The `\s+` class is identical in
    * Java and RE2 regex dialects, so the oracle can mirror it exactly
    * (DuckDB needs the explicit 'g' flag for replace-all). */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact content fingerprint: md5 of the raw text. */
  def fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** zlib compression ratio (deflated/raw bytes) — the Gopher-style
    * boilerplate detector: templated or repetitive pages compress far
    * below natural prose. Native [[graft.functions.DeflateRatio]]
    * expression, one deflate per row, map-only. Not oracle-checkable
    * (no SQL zlib), so its query carries the weaker rows-only contract
    * and the signal properties are pinned in ExpressionsSpec. */
  def compressionRatio(text: Column): Column =
    graft.functions.GraftFunctions.deflateRatio(text)

  /** Canonical fingerprint: md5 over the sorted distinct token set —
    * invariant to word order and repetition, the standard cheap
    * near-dup-robust document key. */
  def canonicalFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))).cast("binary"))
}

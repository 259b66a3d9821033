package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.PlanProbe.CapturedRun

/** Structured-Streaming operators beyond the reference's trigger-once
  * ingestion (reference getl/blocks/load/entrypoint.py:239-262 and
  * write/entrypoint.py:296-321 only ever read and write with no
  * event-time logic): watermarked windowed aggregation and stateful
  * event-time sessionization.
  *
  * Scale notes: both operators shuffle once on the group key and keep
  * per-key state bounded — the watermark evicts window/session state as
  * event time advances, so state size is O(active keys), not O(stream
  * length). That is the property that lets the same code run continuously
  * on an unbounded 100 TB/day stream or as an incremental AvailableNow
  * batch over a backlog.
  */
object Streaming {


  /** Stable identity of a checkpointed stream: the streaming query id
    * Spark persists in the checkpoint's `metadata` file. Txn appIds key
    * on it rather than on a table path so that DELETING the checkpoint
    * (reprocess-from-scratch) rotates the appId with it — markers from
    * the previous incarnation can never suppress the new stream's
    * batches, whose batchIds restart at 0 (path-keyed markers silently
    * dropped every batch up to the old high-water mark). The file exists
    * by the time any foreachBatch body runs; an unreadable metadata
    * falls back to a fresh UUID, which disables cross-restart skipping
    * (safe: the content-level anti-joins still make appends idempotent)
    * rather than risking suppression. */
  private def checkpointId(ckpt: String,
                           spark: org.apache.spark.sql.SparkSession): String =
    try new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.common.FsUtils.readText(spark, s"$ckpt/metadata"))
      .get("id").asText()
    catch { case _: Exception => java.util.UUID.randomUUID().toString }

  /** Shared auto-compaction cadence for the table-building sinks: every
    * `compactEvery`-th batch (0 = never). One definition so the guard
    * can't drift between sinks. */
  private def compactionDue(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  /** At each [[compactionDue]] batch, fold each table's small per-batch
    * dirs via [[graft.table.ManagedTable.compactSmall]] (healthy dirs
    * carry by reference; a cadence point with nothing to fold commits
    * nothing). */
  private def maybeCompact(batchId: Long, compactEvery: Int,
                           tables: graft.table.ManagedTable*): Unit =
    if (compactionDue(batchId, compactEvery))
      tables.foreach(t => if (t.exists) t.compactSmall())

  /** Watermarked tumbling-window aggregation: per (window, key) row count
    * and value sum. Append mode emits a window exactly once, when the
    * watermark passes its end — the deterministic at-most-once-per-window
    * contract downstream sinks want. */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valueCol: String, windowLength: String,
                  watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum(col(valueCol)), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("total_value"))

  /** Streaming exact dedup: keep the first occurrence per key, with state
    * bounded by the watermark — late duplicates beyond `watermarkDelay`
    * age out of the state store instead of accumulating forever (the
    * property that matters on an unbounded ingest stream). */
  def streamDedup(events: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked stream-stream inner join: pairs a left event with every
    * right event of the same key whose timestamp falls in
    * `[leftTs - maxLag, leftTs]` (the "views preceding a purchase" shape).
    *
    * Both sides carry the same watermark delay and the join condition
    * bounds the event-time distance, which is exactly what lets the state
    * store evict: each side buffers only `maxLag + watermarkDelay` of
    * history per key instead of the whole stream. Inner matches emit as
    * soon as both rows have arrived, so the result set is independent of
    * micro-batch boundaries. Sides must not share non-key column names.
    */
  def lagJoin(left: DataFrame, leftTs: String, right: DataFrame,
              rightTs: String, keyCols: Seq[String], maxLag: String,
              watermarkDelay: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    val cond = keyCols.map(k => l(k) === r(k)).reduce(_ && _) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $maxLag") &&
      col(rightTs) <= col(leftTs)
    // left_outer: null-padded rows for unmatched left rows emit once the
    // watermark proves no in-range right row can still arrive — the
    // event-time bound on BOTH sides is what makes the state evictable
    l.join(r, cond, joinType)
  }

  /** Streaming upsert into a [[graft.table.ManagedTable]]: each micro-batch
    * merges on `mergeCondition` (alias `source` = table, `updates` = batch,
    * reference getl/common/delta_table.py:27-44), after an in-batch dedup
    * on `keyCols` keeping the LAST row per key in `orderCol` order — so
    * replays and within-batch duplicates can't double-apply.
    *
    * This is the reference's stream_delta sink upgraded from append-only to
    * merge semantics; with Trigger.AvailableNow it runs as an incremental
    * exactly-once-per-key batch over a backlog. Pass `partitionBy` to
    * activate the table's partition-pruned merge: each micro-batch then
    * rewrites only the partitions its keys touch (O(touched partitions)
    * per batch), instead of rewriting the whole snapshot.
    *
    * `vectorized = true` switches to deletion-vector merges: each batch
    * costs O(matched + batch) with ZERO data rewrites — independent of
    * table size AND of how many partitions the batch scatters across,
    * which is the steady-state cost model a high-rate CDC stream needs.
    * Sidecars and per-batch dirs accumulate, so every `compactEvery`
    * batches (0 = never) the sink compacts small dirs and materializes
    * the vectors — Delta's auto-compaction cadence.
    */
  def streamUpsert(events: DataFrame, table: graft.table.ManagedTable,
                   keyCols: Seq[String], orderCol: String,
                   mergeCondition: String, partitionBy: Seq[String] = Nil,
                   vectorized: Boolean = false, compactEvery: Int = 0): Unit = {
    import org.apache.spark.sql.expressions.Window
    events.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", s"${table.path}/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // empty micro-batches happen (sources advancing past control
        // records); without the guard the unpartitioned merge path would
        // rewrite the WHOLE snapshot as a no-op version
        if (!batch.isEmpty) {
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col(orderCol).desc)
          val deduped = batch
            .withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1).drop("__rn")
          if (vectorized) {
            table.mergeVectorized(deduped, mergeCondition, partitionBy)
            if (compactionDue(batchId, compactEvery))
              table.optimize(partitionBy = partitionBy)
          } else
            table.merge(deduped, mergeCondition, upsert = true,
              partitionBy = partitionBy)
        }
        ()
      }
      .start()
      .runCaptured()
  }

  /** Streaming corpus ingestion with dedup-against-index — the continuous
    * form of [[graft.ops.Dedup.incrementalExact]]: each micro-batch
    * collapses its own duplicates (first id wins per text digest),
    * anti-joins the persistent index's 16-byte digests (the batch never
    * sees index text), and appends only genuinely-new documents. The
    * table grows O(new data) per batch via [[graft.table.ManagedTable
    * .append]]'s manifest reference — nothing is rewritten. Replay-safe:
    * a re-delivered batch finds its digests already indexed and appends
    * nothing, so checkpoint recovery never duplicates. At larger index
    * sizes the anti-join's probe side is cut by a Bloom prefilter
    * ([[graft.ops.Dedup.bloomIncremental]]) — same contract. */
  def streamDedupIndex(docs: DataFrame, table: graft.table.ManagedTable,
                       idCol: String, textCol: String,
                       compactEvery: Int = 0): Unit = {
    import org.apache.spark.sql.expressions.Window
    docs.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", s"${table.path}/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val withDigest = batch
          .withColumn("digest", md5(col(textCol).cast("binary")))
        val w = Window.partitionBy(col("digest")).orderBy(col(idCol))
        val firstInBatch = withDigest
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
        // persisted: the anti-join against the whole index otherwise runs
        // twice (the emptiness probe AND the append), doubling batch cost
        val fresh = (
          if (table.exists)
            firstInBatch.join(table.read().select(col("digest")),
              Seq("digest"), "left_anti")
          else firstInBatch).persist()
        try { if (!fresh.isEmpty) table.append(fresh) }
        finally fresh.unpersist()
        // append-only ingest grows one dir + one manifest entry per batch:
        // reads stay one scan per layout, but at 10^5 micro-batches that
        // scan opens 10^5 small files and the manifest lists every dir —
        // Delta's auto-compaction cadence, same knob streamUpsert exposes.
        maybeCompact(batchId, compactEvery, table)
        ()
      }
      .start()
      .runCaptured()
  }

  /** Streaming NEAR-dup ingestion against a persistent MinHash-LSH index:
    * the fuzzy sibling of [[streamDedupIndex]]. Each micro-batch computes
    * per-doc shingle sets + banded MinHash buckets
    * ([[graft.ops.Dedup.minhashLshPairs]] machinery); candidate pairs come
    * from bucket equality — against the persistent `lsh` index AND within
    * the batch — and are verified with EXACT Jaccard ≥ `threshold` over
    * shingle sets recomputed only for candidate docs. A doc is dropped
    * when a SMALLER-id near-dup exists among everything processed so far
    * or earlier in its own batch; survivors append to `corpus`.
    *
    * Both tables record EVERY processed doc, kept or dropped: `lsh` holds
    * each doc's bands (it answers "was anything similar seen" — and a
    * dropped doc must keep blocking later copies of itself), and `corpus`
    * holds (id, text, kept) — the text of dropped docs stays available
    * for exact verification of later candidates, and the kept=false rows
    * double as the reject/provenance log a curation pipeline wants. The
    * live corpus is `corpus.read().where("kept")`. Recording dropped docs
    * keeps chains deterministic: A~B, B~C with ids 1<2<3 drops both B and
    * C in any batch split. With doc ids monotone across batches — the
    * natural shape for crawl/ingest ids, and the documented precondition —
    * the result equals the batch-global rule "keep iff no smaller-id
    * near-dup exists", independent of micro-batch boundaries.
    *
    * Scale: per batch, signatures are map-only over the batch; the index
    * probe is an equi-join on compact (band, slice-hash) longs; exact
    * verification touches only candidate texts (semi-joined out of the
    * corpus before shingling). The index grows `bands` longs per doc —
    * O(corpus) rows but tiny ones, the standard LSH memory trade.
    *
    * Replay after checkpoint recovery is exactly-once via Delta-style
    * (appId -> batchId) txn markers, appId keyed on the checkpoint's
    * query id: a fully-landed batch skips outright on the corpus marker;
    * a crash BETWEEN the lsh and corpus appends replays the batch —
    * freshDocs recompute identically from the corpus anti-join and the
    * lsh marker alone suppresses the duplicate band append (the lsh
    * append deliberately has NO id anti-join any more — that was an
    * O(index) shuffle per batch). Deleting the checkpoint rotates the
    * appId, so a reprocess-from-scratch is never suppressed by the old
    * incarnation's markers. */
  def streamNearDupIndex(docs: DataFrame, corpus: graft.table.ManagedTable,
                         lsh: graft.table.ManagedTable, idCol: String,
                         textCol: String, n: Int = 3, k: Int = 64,
                         bands: Int = 32, threshold: Double = 0.7,
                         compactEvery: Int = 0): Unit = {
    import graft.ops.Dedup
    // bands > k would make every band slice empty (every doc bucket-equal
    // to every other — an O(n^2) verify explosion); a non-dividing k would
    // silently discard the signature tail
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k with k/bands >= 1, got k=$k bands=$bands")
    val rows = k / bands
    docs.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", s"${corpus.path}/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay guard: the corpus marker is the LAST thing a fully-landed
        // batch commits, so seeing it at-or-above this batchId means a
        // checkpoint-crash replay — recomputing would be harmless (the
        // seen-id anti-join yields empty) but not free; skip outright
        val txnApp = s"graft.neardup:${checkpointId(s"${corpus.path}/_checkpoint", batch.sparkSession)}"
        if (!corpus.lastTxn(txnApp).exists(_ >= batchId)) {
        val base = batch
          .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
          .withColumn("sh", Dedup.shingles(col("text"), n))
          .persist()
        val banded = base.where(size(col("sh")) > 0)
          .withColumn("sig", Dedup.minhashSignature(col("sh"), k))
          .select(col("id"), explode(transform(
            sequence(lit(0), lit(bands - 1)),
            b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows)))))
            .as("bucket"))
          .persist()

        // candidates: bucket-equal prior docs with SMALLER id — from the
        // persistent index and from earlier-id rows of this batch
        val fromIndex =
          if (lsh.exists)
            banded.alias("b").join(lsh.read().alias("i"),
                expr("b.bucket = i.bucket AND i.id < b.id"))
              .select(col("b.id").as("id"), col("i.id").as("prior_id"))
          else base.limit(0).select(col("id"), col("id").as("prior_id"))
        val inBatch = banded.alias("l").join(banded.alias("r"),
            expr("l.bucket = r.bucket AND r.id < l.id"))
          .select(col("l.id").as("id"), col("r.id").as("prior_id"))
        // persisted: cand's plan embeds the O(index-scan) LSH join, and
        // without the cache it re-executes once per downstream consumer
        // (corpusPrior's semi-join, dropIds, and again through flagged's
        // two readers) — measured as the dominant per-batch cost growth
        val cand = fromIndex.unionByName(inBatch).distinct().persist()

        // exact-Jaccard verification, shingling ONLY candidate prior docs
        val corpusPrior =
          if (corpus.exists) corpus.read()
            .select(col(idCol).cast("long").as("prior_id"),
              col(textCol).as("ptext"))
            .join(cand.select("prior_id").distinct(), Seq("prior_id"), "left_semi")
            .select(col("prior_id"), Dedup.shingles(col("ptext"), n).as("psh"))
          else base.limit(0).select(col("id").as("prior_id"), col("sh").as("psh"))
        val priorSh = corpusPrior
          .unionByName(base.select(col("id").as("prior_id"), col("sh").as("psh")))
        val dropIds = cand
          .join(base.select(col("id"), col("sh")), Seq("id"))
          .join(priorSh, Seq("prior_id"))
          .where(Dedup.jaccard(col("sh"), col("psh")) >= threshold)
          .select("id").distinct()

        val flagged = base
          .join(dropIds.withColumn("__drop", lit(true)), Seq("id"), "left")
          .select(col("id").as(idCol), col("text").as(textCol),
            coalesce(!col("__drop"), lit(true)).as("kept"))
          .persist() // read twice: the seen-id semi-join and freshDocs
        // per-batch work stays bounded by BATCH size, not index size
        // (Probe neardupindex measured the old shape — whole-index
        // anti-joins — growing linearly with the index per batch): the
        // seen-id check scans the corpus once MAP-ONLY (the batch's id
        // set broadcasts into a semi-join, so the corpus never shuffles),
        // and fresh bands derive from fresh docs instead of anti-joining
        // the whole LSH table's id column. Both fresh frames persist so
        // the plans run once, not per emptiness probe plus per append.
        val seenIds =
          if (corpus.exists)
            corpus.read().select(col(idCol))
              .join(broadcast(flagged.select(col(idCol))), Seq(idCol), "left_semi")
          else flagged.limit(0).select(col(idCol))
        val freshDocs = flagged
          .join(broadcast(seenIds), Seq(idCol), "left_anti").persist()
        val freshBands = banded.join(
          broadcast(freshDocs.select(col(idCol).cast("long").as("id"))),
          Seq("id"), "left_semi").persist()
        val txn = Map(txnApp -> batchId)
        try {
          // lsh BEFORE corpus, each stamped with the batch marker: a
          // crash between the two appends replays the batch (no corpus
          // marker yet), freshDocs/freshBands recompute identically (the
          // corpus still lacks the ids), and the lsh marker skips the
          // duplicate band append. The old corpus-first order stranded a
          // crashed batch's docs in the corpus with their bands lost.
          if (!freshBands.isEmpty && !lsh.lastTxn(txnApp).exists(_ >= batchId))
            lsh.append(freshBands, txn = txn)
          if (!freshDocs.isEmpty) corpus.append(freshDocs, txn = txn)
        } finally {
          freshDocs.unpersist()
          freshBands.unpersist()
          cand.unpersist()
          flagged.unpersist()
          base.unpersist()
          banded.unpersist()
        }
        }
        // both tables grow one dir + manifest entry per batch; fold the
        // small dirs so file count and manifest size stay bounded at crawl
        // scale. OUTSIDE the replay-skip guard: a cadence
        // point coinciding with a crash-replayed batch must still compact
        // (the skip guard would silently defer it a whole cadence period).
        maybeCompact(batchId, compactEvery, corpus, lsh)
        ()
      }
      .start()
      .runCaptured()
  }

  /** Incremental materialized-view maintenance: keeps `target` equal to
    * `SELECT keyCols, aggs FROM <all events ever seen> GROUP BY keyCols`
    * without ever recomputing history. Each micro-batch partial-aggregates
    * ONLY its own rows, combines them with the target's current per-group
    * values (sum+sum / count+count / least / greatest — the distributive
    * and algebraic aggregates; express avg as sum & count and divide at
    * read time), and upserts the combined groups via a deletion-vector
    * merge: per batch the cost is one batch-sized aggregation, one
    * target-side join that AQE broadcasts the (small) partial against,
    * and an O(matched groups) vectorized write — independent of event
    * history length. This is the streaming analogue of an OLAP cube
    * refresh: the view stays queryable (and versioned, time-travelable)
    * between batches. Compact on your own cadence via `optimize()`.
    *
    * `aggSpecs` maps output column → ("sum"|"count"|"min"|"max", input
    * expression). `count` counts rows where the expression is non-null
    * (use `lit(1)` semantics via a non-null literal expression for
    * COUNT(*)).
    */
  def streamIncrementalAgg(events: DataFrame,
                           target: graft.table.ManagedTable,
                           keyCols: Seq[String],
                           aggSpecs: Seq[(String, String, String)],
                           checkpoint: String): Unit = {
    aggSpecs.map(_._2).find(k => !Set("sum", "count", "min", "max")(k))
      .foreach(other => throw new IllegalArgumentException(
        s"streamIncrementalAgg: non-decomposable aggregate '$other' — " +
          "only distributive sum/count/min/max combine incrementally; " +
          "express avg as sum+count"))
    def aggFor(kind: String, e: String) = kind match {
      case "sum"   => sum(expr(e))
      case "count" => count(expr(e))
      case "min"   => min(expr(e))
      case "max"   => max(expr(e))
    }
    def combineFor(kind: String, cur: org.apache.spark.sql.Column,
                   add: org.apache.spark.sql.Column) = kind match {
      case "sum" | "count" =>
        // null-safe: a group absent from one side contributes nothing
        coalesce(cur, lit(0L)) + coalesce(add, lit(0L))
      case "min" => least(cur, add)    // least/greatest skip nulls
      case "max" => greatest(cur, add)
    }
    // add-combine is NOT idempotent (every sibling sink here is): a batch
    // replayed after a crash between the merge commit and the checkpoint
    // commit would double-count forever. The (appId -> batchId) txn marker
    // rides IN the data commit (ManagedTable.lastTxn, Delta's txnVersion
    // pattern), so the guard survives exactly that crash window.
    // appId keys on the CHECKPOINT'S identity, not its path: resetting the
    // checkpoint restarts batchIds at 0, and a path-keyed marker would
    // silently skip every batch up to the previous incarnation's
    // high-water mark. With id-keying a reset means a clean reprocess —
    // the operator must reset the target table with the checkpoint, the
    // same contract Delta documents for txnAppId.
    lazy val txnAppByCkpt = s"graft.incr_agg:${checkpointId(checkpoint, events.sparkSession)}"
    events.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val txnApp = txnAppByCkpt
        if (!batch.isEmpty && !target.lastTxn(txnApp).exists(_ >= batchId)) {
          val txn = Map(txnApp -> batchId)
          val partial = batch.groupBy(keyCols.map(col): _*)
            .agg(aggFor(aggSpecs.head._2, aggSpecs.head._3).as(aggSpecs.head._1),
              aggSpecs.tail.map(s => aggFor(s._2, s._3).as(s._1)): _*)
          if (!target.exists) target.write(partial, txn = txn)
          else {
            val cur = target.read()
            // FULL OUTER on the keys: combined rows for matched groups,
            // pass-through for groups seen only on one side. The partial
            // is micro-batch-sized, so AQE broadcasts it; the target scan
            // is read-only (the DV merge below rewrites nothing).
            // presence marker (never-null) rather than key-null tests:
            // a legitimately-NULL grouping key must not look "absent"
            val marked = partial.withColumn("__in_batch", lit(1))
            val joinCond = keyCols.map(k => cur(k) <=> marked(k)).reduce(_ && _)
            val upserts = cur.join(marked, joinCond, "full_outer")
              // groups the batch never touched are already correct in the
              // target — only matched-or-new groups need to move
              .where(marked("__in_batch").isNotNull)
              .select(
                keyCols.map(k => coalesce(cur(k), marked(k)).as(k)) ++
                  aggSpecs.map { case (name, kind, _) =>
                    combineFor(kind, cur(name), marked(name)).as(name)
                  }: _*)
            val cond = keyCols
              .map(k => s"source.`$k` <=> updates.`$k`").mkString(" AND ")
            target.mergeVectorized(upserts, cond, txn = txn)
          }
        }
        ()
      }
      .start()
      .runCaptured()
  }

  /** Streaming CDC mirror: apply an I/U/D change stream onto a
    * [[graft.table.ManagedTable]] — each micro-batch goes through
    * [[graft.table.ManagedTable.applyChanges]], which collapses the batch
    * last-op-wins per key and mirrors deletes + upserts in one version.
    * The Delta `.writeStream` + CDC-merge recipe; with
    * Trigger.AvailableNow it drains a change-log backlog incrementally
    * with exactly-once-per-batch checkpointing (replays are no-ops). */
  def streamApplyChanges(changes: DataFrame, table: graft.table.ManagedTable,
                         mergeCondition: String, opCol: String,
                         orderCol: String,
                         partitionBy: Seq[String] = Nil): Unit = {
    changes.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", s"${table.path}/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          table.applyChanges(batch, mergeCondition, opCol, orderCol,
            partitionBy)
        ()
      }
      .start()
      .runCaptured()
  }

  /** One event inside a session group. */
  case class SessionEvent(user_id: Long, ts: Timestamp)

  /** Open-session state carried between micro-batches (epoch micros). */
  case class OpenSession(startUs: Long, endUs: Long, n: Long)

  /** A closed session. */
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long)

  private def micros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Event-time sessionization with a max-gap rule via
    * `flatMapGroupsWithState`: events of one user belong to the same
    * session while consecutive gaps stay ≤ `gapMinutes`. Sessions closed
    * by a later event emit immediately; the last open session per user
    * emits when the event-time watermark passes its gap horizon
    * (EventTimeTimeout), so state is always bounded by the number of
    * users with an in-flight session.
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[Session] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val stateEnc: Encoder[OpenSession] = Encoders.product[OpenSession]
    implicit val outEnc: Encoder[Session] = Encoders.product[Session]
    val gapUs = gapMinutes * 60L * 1000000L

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's gap horizon: close it
            val s = state.get
            state.remove()
            Iterator(Session(userId, toTs(s.startUs), toTs(s.endUs), s.n))
          } else {
            // groups are per-user and bounded (one user's events in the
            // batch), so an in-memory sort is safe; cross-batch order is
            // handled by merging with the open-session state
            val sorted = rows.map(e => micros(e.ts)).toArray.sorted
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { t =>
              open match {
                // in-window merge: extend the session's BOUNDS (a late
                // in-watermark arrival inside the window must never
                // regress endUs — that both mis-reports the session and
                // can set a timeout below the advanced watermark, which
                // kills the query)
                case Some(s) if t >= s.startUs - gapUs && t <= s.endUs + gapUs =>
                  open = Some(OpenSession(math.min(s.startUs, t),
                    math.max(s.endUs, t), s.n + 1))
                // ahead of the window: the open session is over
                case Some(s) if t > s.endUs + gapUs =>
                  closed += Session(userId, toTs(s.startUs), toTs(s.endUs), s.n)
                  open = Some(OpenSession(t, t, 1))
                // a straggler PREDATING the window by more than the gap:
                // it can never merge with the open session or anything
                // later, so it is its own completed session
                case Some(_) =>
                  closed += Session(userId, toTs(t), toTs(t), 1)
                case None =>
                  open = Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endUs / 1000 + gapMinutes * 60L * 1000)
            }
            closed.result().iterator
          }
      }
  }
}

package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSuite
import graft.table.ManagedTable

class StreamUpsertSpec extends SparkSuite {
  import spark.implicits._

  test("streamUpsert merges latest-per-key into a managed table") {
    val w = graft.common.Scratch.dir("test", "stream_upsert")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))

    // seed table: keys 1, 2
    val table = ManagedTable(spark, s"$w/table")
    table.write(Seq((1L, 0L, "seed1"), (2L, 0L, "seed2")).toDF("id", "ver", "payload"))

    // stream carries key 2 twice (versions 1 and 2) and a new key 3
    Seq((2L, 1L, "old2"), (2L, 2L, "new2"), (3L, 1L, "new3"))
      .toDF("id", "ver", "payload")
      .write.json(s"$w/in")
    val schema = StructType.fromDDL("id BIGINT, ver BIGINT, payload STRING")
    Streaming.streamUpsert(
      spark.readStream.schema(schema).json(s"$w/in"),
      table, keyCols = Seq("id"), orderCol = "ver",
      mergeCondition = "source.id == updates.id")

    val got = table.read().as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 0L, "seed1"),  // untouched
      (2L, 2L, "new2"),   // within-batch dedup kept the latest version
      (3L, 1L, "new3")))  // new key inserted
  }

  test("streamUpsert with partitionBy prunes each micro-batch merge") {
    val w = graft.common.Scratch.dir("test", "stream_upsert_pruned")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val table = ManagedTable(spark, s"$w/table")
    table.write(
      Seq(("a", 1L, 0L, "s1"), ("b", 2L, 0L, "s2")).toDF("part", "id", "ver", "payload"),
      partitionBy = Seq("part"))
    val beforeB = graft.common.FsUtils
      .listFiles(spark, s"${dataDirOf(s"$w/table", 0)}/part=b").sorted

    // batch touches ONLY partition a
    Seq(("a", 1L, 1L, "upd"), ("a", 3L, 1L, "ins"))
      .toDF("part", "id", "ver", "payload").write.json(s"$w/in")
    val schema = StructType.fromDDL("part STRING, id BIGINT, ver BIGINT, payload STRING")
    Streaming.streamUpsert(
      spark.readStream.schema(schema).json(s"$w/in"),
      table, Seq("id"), "ver", "source.id == updates.id",
      partitionBy = Seq("part"))

    val got = table.read().select("part", "id", "ver", "payload")
      .as[(String, Long, Long, String)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(
      ("a", 1L, 1L, "upd"), ("b", 2L, 0L, "s2"), ("a", 3L, 1L, "ins")))
    // the untouched partition's files were carried, not rewritten
    assert(graft.common.FsUtils
      .listFiles(spark, s"${dataDirOf(s"$w/table", 0)}/part=b").sorted == beforeB)
  }

  test("vectorized streamUpsert never rewrites seed files, matches merge") {
    val w = graft.common.Scratch.dir("test", "stream_upsert_dv")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val table = ManagedTable(spark, s"$w/table")
    table.write(Seq((1L, 0L, "seed1"), (2L, 0L, "seed2")).toDF("id", "ver", "payload"))
    val seedFiles = graft.common.FsUtils
      .listFiles(spark, dataDirOf(s"$w/table", 0)).sorted

    Seq((2L, 1L, "old2"), (2L, 2L, "new2"), (3L, 1L, "new3"))
      .toDF("id", "ver", "payload").write.json(s"$w/in")
    val schema = StructType.fromDDL("id BIGINT, ver BIGINT, payload STRING")
    Streaming.streamUpsert(
      spark.readStream.schema(schema).json(s"$w/in"),
      table, Seq("id"), "ver", "source.id == updates.id",
      vectorized = true)

    // identical result to the merge path...
    assert(table.read().as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      == Seq((1L, 0L, "seed1"), (2L, 2L, "new2"), (3L, 1L, "new3")))
    // ...but the seed data dir was only vectored, never rewritten
    assert(graft.common.FsUtils
      .listFiles(spark, dataDirOf(s"$w/table", 0)).sorted == seedFiles)
    assert(table.dvInfo()._2 === 1L) // the matched key-2 row
  }

  test("streamIncrementalAgg maintains the batch GROUP BY across waves") {
    val w = graft.common.Scratch.dir("test", "stream_mv")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val target = ManagedTable(spark, s"$w/mv")
    val schema = StructType.fromDDL("k STRING, v BIGINT")
    def drain(): Unit = Streaming.streamIncrementalAgg(
      spark.readStream.schema(schema).json(s"$w/in"), target,
      keyCols = Seq("k"),
      aggSpecs = Seq(("n", "count", "v"), ("s", "sum", "v"),
        ("lo", "min", "v"), ("hi", "max", "v")),
      checkpoint = s"$w/checkpoint")

    // wave 1: groups a, b and a NULL key group; one null value (count
    // skips it, sum ignores it)
    Seq(("a", Some(1L)), ("a", Some(5L)), ("b", Some(10L)),
      (null, Some(7L)), ("a", None))
      .toDF("k", "v").write.json(s"$w/in")
    drain()
    // wave 2: touches a (combine), c (new), NULL again; b untouched
    Seq(("a", Some(2L)), ("c", Some(100L)), (null, Some(3L)))
      .toDF("k", "v").write.mode("append").json(s"$w/in")
    drain()

    val got = target.read().as[(String, Long, Long, Long, Long)]
      .collect().map(r => Option(r._1).getOrElse("∅") -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === Map(
      "a" -> ((3L, 8L, 1L, 5L)),  // null v never counted; min over both waves
      "b" -> ((1L, 10L, 10L, 10L)),
      "c" -> ((1L, 100L, 100L, 100L)),
      "∅" -> ((2L, 10L, 3L, 7L)))) // NULL key is one group, combined across waves
    // a non-decomposable aggregate is rejected loudly
    val e = intercept[IllegalArgumentException] {
      Streaming.streamIncrementalAgg(
        spark.readStream.schema(schema).json(s"$w/in"), target,
        Seq("k"), Seq(("p50", "percentile", "v")), s"$w/cp2")
    }
    assert(e.getMessage.contains("non-decomposable"))
  }

  test("streamApplyChanges mirrors an I/U/D change stream onto the table") {
    val w = graft.common.Scratch.dir("test", "stream_cdc")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val table = ManagedTable(spark, s"$w/table")
    table.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    Seq((2L, "b2", "U", 1L), (3L, "x", "D", 2L), (4L, "d", "I", 3L),
      (5L, "e", "I", 4L), (5L, "e", "D", 5L))
      .toDF("id", "v", "op", "seq").write.json(s"$w/in")
    val schema = StructType.fromDDL("id BIGINT, v STRING, op STRING, seq BIGINT")
    def run(): Unit = Streaming.streamApplyChanges(
      spark.readStream.schema(schema).json(s"$w/in"),
      table, "source.id == updates.id", "op", "seq")
    run()
    assert(table.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2"), (4L, "d")))
    val v1 = table.currentVersion
    run() // replay: checkpoint marks the log drained, no new version
    assert(table.currentVersion === v1)
  }

  test("streamUpsert is idempotent across replays of the same input") {
    val w = graft.common.Scratch.dir("test", "stream_upsert_replay")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val table = ManagedTable(spark, s"$w/table")
    Seq((1L, 5L, "x")).toDF("id", "ver", "payload").write.json(s"$w/in")
    val schema = StructType.fromDDL("id BIGINT, ver BIGINT, payload STRING")
    def run(): Unit = Streaming.streamUpsert(
      spark.readStream.schema(schema).json(s"$w/in"),
      table, Seq("id"), "ver", "source.id == updates.id")
    run()
    val v1 = table.currentVersion
    run() // checkpoint marks the input processed: no new merge commits
    assert(table.currentVersion == v1)
    assert(table.read().count() == 1)
  }

  test("streamNearDupIndex drops chain members; dropped docs still block") {
    val w = graft.common.Scratch.dir("test", "stream_neardup")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val corpus = ManagedTable(spark, s"$w/corpus")
    val lsh = ManagedTable(spark, s"$w/lsh")
    // chain: j(a,b)=8/10=0.8, j(b,c)=10/12=0.83 (both >= 0.7), but
    // j(a,c)=8/12=0.67 < 0.7 — only a direct B link drops C
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = a + " b1 b2"
    val c = b + " c1 c2"
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    def drain(): Unit = Streaming.streamNearDupIndex(
      spark.readStream.schema(schema).json(s"$w/in"), corpus, lsh,
      "doc_id", "text")
    Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text").write.json(s"$w/in")
    drain()
    def kept() = corpus.read().where(col("kept"))
      .select("doc_id").as[Long].collect().toSet
    // b drops against a; c drops against b EVEN THOUGH b itself dropped
    assert(kept() === Set(1L))
    // wave 2: a copy of the DROPPED doc 3 is still rejected — the tables
    // record every processed doc (bands + text), kept or not
    Seq((4L, c)).toDF("doc_id", "text").write.mode("append").json(s"$w/in")
    drain()
    assert(kept() === Set(1L))
    // all four processed docs are recorded; three are the reject log
    assert(corpus.read().count() === 4)
    assert(corpus.read().where(!col("kept")).count() === 3)
    assert(lsh.read().select("id").distinct().count() === 4)
  }

  test("streamIncrementalAgg replays a crashed batch as a no-op via its txn marker") {
    // foreachBatch is at-least-once: a crash between the merge commit and
    // the checkpoint commit replays the batch. The (appId -> batchId)
    // marker rides IN the data commit, so the replay must be a no-op —
    // simulated here the way the crash actually happens: batch 0 lands,
    // then its checkpoint COMMIT marker is deleted, so the restart
    // re-delivers batch 0 (same batchId, same checkpoint identity).
    val w = graft.common.Scratch.dir("test", "stream_mv_txn")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val target = ManagedTable(spark, s"$w/mv")
    val schema = StructType.fromDDL("k STRING, v BIGINT")
    def drain(): Unit = Streaming.streamIncrementalAgg(
      spark.readStream.schema(schema).json(s"$w/in"), target,
      keyCols = Seq("k"), aggSpecs = Seq(("n", "count", "v"), ("s", "sum", "v")),
      checkpoint = s"$w/checkpoint")
    Seq(("a", 5L)).toDF("k", "v").write.json(s"$w/in")
    drain()
    assert(target.read().as[(String, Long, Long)].collect().toSeq
      === Seq(("a", 1L, 5L)))
    // crash window: the data commit survived, the checkpoint commit
    // didn't -> the next drain REPLAYS batch 0; the marker suppresses it
    graft.common.FsUtils.deleteFiles(spark, Seq(s"$w/checkpoint/commits/0"))
    drain()
    assert(target.read().as[(String, Long, Long)].collect().toSeq
      === Seq(("a", 1L, 5L)))
    // a later batch applies normally on top
    Seq(("a", 2L)).toDF("k", "v").write.mode("append").json(s"$w/in")
    drain()
    assert(target.read().as[(String, Long, Long)].collect().toSeq
      === Seq(("a", 2L, 7L)))
  }

  test("streamDedupIndex compactEvery folds per-batch dirs; results unchanged") {
    // append-only ingest leaves one dir + one manifest entry per batch —
    // 10^5 small files and manifest entries at crawl scale. compactEvery must fold
    // the small dirs without changing the indexed corpus.
    val w = graft.common.Scratch.dir("test", "stream_dedup_compact")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val table = ManagedTable(spark, s"$w/t")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    def drain(): Unit = Streaming.streamDedupIndex(
      spark.readStream.schema(schema).json(s"$w/in"),
      table, "doc_id", "text", compactEvery = 2)
    // MATERIALIZED head entry count via DESCRIBE HISTORY (the head log
    // FILE is a delta under the round-11 delta-encoded log — its raw
    // text no longer lists the snapshot)
    def entriesAtHead(): Int = {
      val v = table.currentVersion.get
      table.describeHistory().where(col("version") === v)
        .select("num_entries").collect().head.getLong(0).toInt
    }
    (0 until 5).foreach { i =>
      Seq((i.toLong, s"doc number $i"), (100L + i, s"doc number $i")) // dup text
        .toDF("doc_id", "text").write.mode("append").json(s"$w/in")
      drain()
    }
    // 5 appends; compaction ran at batches 2 and 4 — the head manifest
    // references fewer dirs than one-per-batch
    assert(entriesAtHead() < 5)
    assert(table.read().count() === 5) // one per distinct text, first id wins
    assert(table.read().select("doc_id").as[Long].collect().toSet
      === Set(0L, 1L, 2L, 3L, 4L))
  }

  test("streamNearDupIndex survives a checkpoint reset without suppressing new batches") {
    // deleting the checkpoint restarts batchIds at 0; a marker keyed on
    // the table PATH would then skip every batch up to the previous
    // incarnation's high-water mark, silently dropping NEW documents.
    // appIds key on the checkpoint's query id, which rotates with it.
    val w = graft.common.Scratch.dir("test", "stream_ndi_reset")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val corpus = ManagedTable(spark, s"$w/corpus")
    val lsh = ManagedTable(spark, s"$w/lsh")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    def drain(): Unit = Streaming.streamNearDupIndex(
      spark.readStream.schema(schema).json(s"$w/in"), corpus, lsh,
      "doc_id", "text")
    val a = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, a)).toDF("doc_id", "text").write.json(s"$w/in")
    drain()
    assert(corpus.read().count() === 1)
    // reset: reprocess-from-scratch. Old data replays (content anti-join
    // keeps it single-copy) and the NEW doc in the restarted batch-id
    // range must land, not be suppressed by the old incarnation's marker.
    graft.common.FsUtils.deleteFiles(spark, Seq(s"$w/corpus/_checkpoint"))
    val b = "a completely different document about spark shuffles and parquet"
    Seq((2L, b)).toDF("doc_id", "text").write.mode("append").json(s"$w/in")
    drain()
    assert(corpus.read().select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L))
    // and no duplicate band rows for the replayed doc
    assert(lsh.read().select("id").where(col("id") === 1L).count() === 32L)
  }

  test("sessionize handles late in-window and straggler events without regressing") {
    import org.apache.spark.sql.streaming.Trigger
    import java.sql.Timestamp
    val w = graft.common.Scratch.dir("test", "stream_sessions_late")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    def drain(): Unit = {
      val events = spark.readStream
        .schema(StructType.fromDDL("user_id BIGINT, ts TIMESTAMP"))
        .json(s"$w/in")
        .withWatermark("ts", "120 minutes")
        .as[Streaming.SessionEvent]
      Streaming.sessionize(events, gapMinutes = 10)
        .writeStream.trigger(Trigger.AvailableNow()).format("parquet")
        .option("checkpointLocation", s"$w/ckpt").option("path", s"$w/out")
        .start().awaitTermination()
    }
    // batch 1: open session [60, 65]
    Seq((7L, ts(60)), (7L, ts(65))).toDF("user_id", "ts")
      .write.json(s"$w/in")
    drain()
    // batch 2: a LATE in-window event (62) — must merge WITHOUT regressing
    // the session end (the old code set endUs=62 and could then place the
    // state timeout below the watermark, killing the query) — plus a
    // straggler (20) predating the window, which closes as its own session
    Seq((7L, ts(62)), (7L, ts(20))).toDF("user_id", "ts")
      .write.mode("append").json(s"$w/in")
    drain()
    // batch 3: far-future event closes the open session via gap
    Seq((7L, ts(300))).toDF("user_id", "ts").write.mode("append").json(s"$w/in")
    drain()
    val out = spark.read.parquet(s"$w/out")
      .select($"session_start".cast("long"), $"session_end".cast("long"),
        $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    def sec(min: Int) = 3600L + min * 60L
    assert(out.contains((sec(20), sec(20), 1L)), s"straggler session missing: $out")
    assert(out.contains((sec(60), sec(65), 3L)),
      s"merged session must keep end=65 with the late event counted: $out")
  }

  test("streamUpsert into a BUCKETED table rewrites only touched buckets per batch") {
    // no natural partition key needed: the table's bucket transform makes
    // every micro-batch merge O(touched buckets) automatically — the
    // streaming-ingest cost model that otherwise requires partitionBy
    val w = graft.common.Scratch.dir("test", "stream_upsert_bucketed")
    graft.common.FsUtils.deleteFiles(spark, Seq(w))
    val table = ManagedTable(spark, s"$w/table")
    table.setBucket("id", 16, org.apache.spark.sql.types.LongType)
    table.write(spark.range(200).selectExpr(
      "id", "CAST(0 AS LONG) AS ver", "CAST('seed' AS STRING) AS payload"))

    // one batch touching TWO keys (one update, one insert)
    Seq((7L, 1L, "upd"), (900L, 1L, "ins"))
      .toDF("id", "ver", "payload").write.json(s"$w/in")
    val schema = StructType.fromDDL("id BIGINT, ver BIGINT, payload STRING")
    Streaming.streamUpsert(
      spark.readStream.schema(schema).json(s"$w/in"),
      table, Seq("id"), "ver", "source.id == updates.id")

    assert(table.read().count() === 201L)
    assert(table.readWhere("id = 7").select("payload").as[String]
      .collect().toSeq === Seq("upd"))
    // the micro-batch's fresh dir holds <= 2 of 16 bucket dirs; the other
    // buckets carried by manifest reference
    val newest = dataDirOf(s"$w/table", 1)
    val touched = childDirs(newest)
      .filter(_.startsWith(ManagedTable.BucketCol + "="))
    assert(touched.nonEmpty && touched.size <= 2,
      s"expected <=2 touched bucket dirs, got ${touched.size}")
  }
}

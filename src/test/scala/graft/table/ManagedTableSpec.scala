package graft.table

import java.nio.file.Files

import graft.SparkSuite
import graft.common.FsUtils

class ManagedTableSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-mt").toString

  test("write / read / append round-trip with version history") {
    val t = ManagedTable(spark, tmp() + "/t")
    assert(!t.exists)
    assert(t.read().isEmpty)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(t.currentVersion.contains(0L))
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.currentVersion.contains(1L))
    assert(t.read().count() === 3)
    // previous snapshot unchanged — time travel
    assert(t.readVersion(0).count() === 2)
  }

  test("merge upsert = whenMatchedUpdateAll + whenNotMatchedInsertAll") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "old"), (2, "keep")).toDF("id", "v"))
    t.merge(Seq((1, "new"), (3, "ins")).toDF("id", "v"),
      "source.id == updates.id")
    val rows = t.read().as[(Int, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1, "new"), (2, "keep"), (3, "ins")))
  }

  test("merge insert-only leaves matched target rows untouched") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "old")).toDF("id", "v"))
    t.merge(Seq((1, "new"), (2, "ins")).toDF("id", "v"),
      "source.id == updates.id", upsert = false)
    val rows = t.read().as[(Int, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1, "old"), (2, "ins")))
  }

  test("updateWhere rewrites only matching rows") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.updateWhere("id = 1", Map("v" -> "'z'"))
    val rows = t.read().as[(Int, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1, "z"), (2, "b")))
  }

  test("delete removes matching rows and keeps them readable via time travel") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val v = t.delete("id % 2 = 1")
    assert(t.read().as[(Int, String)].collect().toSet === Set((2, "b")))
    assert(t.readVersion(0).count() === 3)
    assert(v === 1L)
  }

  test("partitioned delete rewrites only touched partitions") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(30)(i => (s"p${i % 3}", i, "base")).toDF("part", "id", "v"),
      partitionBy = Seq("part"))
    val d0 = dataDirOf(root, 0)
    val untouchedBefore = Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p"))
    // delete SOME rows of p0 only (never empties it → pruned path)
    t.delete("part = 'p0' AND id < 10", partitionBy = Seq("part"))
    val rows = t.read().select("part", "id").as[(String, Int)].collect()
    assert(rows.length === 30 - 4) // p0 ids 0,3,6,9
    assert(rows.filter(_._1 == "p0").forall(_._2 >= 10))
    // untouched partitions carried byte-identical in the OLD dir
    assert(Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p")) === untouchedBefore)
    val d1dirs = childDirs(dataDirOf(root, 1))
    assert(d1dirs === Seq("part=p0"))
  }

  test("partitioned updateWhere rewrites only touched partitions") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(30)(i => (s"p${i % 3}", i, 1.0)).toDF("part", "id", "v"),
      partitionBy = Seq("part"))
    val d0 = dataDirOf(root, 0)
    val untouchedBefore = Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p"))
    t.updateWhere("part = 'p0' AND id < 10", Map("v" -> "v + 10"),
      partitionBy = Seq("part"))
    val rows = t.read().select("part", "id", "v").as[(String, Int, Double)].collect()
    assert(rows.length === 30)
    assert(rows.filter(r => r._1 == "p0" && r._2 < 10).forall(_._3 === 11.0))
    assert(rows.filter(r => r._1 != "p0" || r._2 >= 10).forall(_._3 === 1.0))
    assert(Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p")) === untouchedBefore)
    val d1dirs = childDirs(dataDirOf(root, 1))
    assert(d1dirs === Seq("part=p0"))
  }

  test("replaceWhere swaps matching rows for the batch, partition-pruned") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(30)(i => (s"p${i % 3}", i, "old")).toDF("part", "id", "v"),
      partitionBy = Seq("part"))
    val d0 = dataDirOf(root, 0)
    val untouchedBefore = Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p"))
    // backfill p0 with a SMALLER recomputed batch (old p0 rows all leave)
    t.replaceWhere(Seq(("p0", 100, "new"), ("p0", 101, "new")).toDF("part", "id", "v"),
      "part = 'p0'", partitionBy = Seq("part"))
    val rows = t.read().select("part", "id", "v").as[(String, Int, String)].collect()
    assert(rows.count(_._1 == "p0") === 2)
    assert(rows.filter(_._1 == "p0").forall(_._3 == "new"))
    assert(rows.count(_._1 != "p0") === 20)
    assert(rows.filter(_._1 != "p0").forall(_._3 == "old"))
    // untouched partitions carried byte-identical; only p0 rewritten
    assert(Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p")) === untouchedBefore)
    val d1dirs = childDirs(dataDirOf(root, 1))
    assert(d1dirs === Seq("part=p0"))
    // a batch that reaches into a partition the predicate doesn't cover
    // is rejected before anything commits
    intercept[IllegalArgumentException] {
      t.replaceWhere(Seq(("p1", 7, "x")).toDF("part", "id", "v"),
        "part = 'p0'", partitionBy = Seq("part"))
    }
    assert(t.currentVersion === Some(1L))
  }

  test("replaceWhere into a batch-only partition keeps its existing rows") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq(("p0", 1, "old"), ("p1", 2, "old")).toDF("part", "id", "v"),
      partitionBy = Seq("part"))
    // predicate matches nothing in p1, but the batch writes there: p1's
    // existing rows must survive next to the new row (touched-set must
    // include the batch's partitions, not just the predicate's)
    t.replaceWhere(Seq(("p1", 3, "new")).toDF("part", "id", "v"),
      "id >= 3", partitionBy = Seq("part"))
    val rows = t.read().select("part", "id", "v").as[(String, Int, String)]
      .collect().toSet
    assert(rows === Set(("p0", 1, "old"), ("p1", 2, "old"), ("p1", 3, "new")))
  }

  test("replaceWhere that empties a partition falls back and stays correct") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq(("p0", 1), ("p0", 2), ("p1", 3)).toDF("part", "id"),
      partitionBy = Seq("part"))
    // wipe p0, refill nothing there (empty batch) → full-rewrite fallback
    t.replaceWhere(Seq.empty[(String, Int)].toDF("part", "id"),
      "part = 'p0'", partitionBy = Seq("part"))
    assert(t.read().select("part", "id").as[(String, Int)].collect().toSet
      === Set(("p1", 3)))
  }

  test("updateWhere assigning the partition column takes the full rewrite") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq(("p0", 1), ("p1", 2)).toDF("part", "id"),
      partitionBy = Seq("part"))
    t.updateWhere("id = 1", Map("part" -> "'p9'"), partitionBy = Seq("part"))
    assert(t.read().select("part", "id").as[(String, Int)].collect().toSet ===
      Set(("p9", 1), ("p1", 2)))
    assert(t.read().where($"part" === "p9").count() === 1)
  }

  test("applyChanges applies an I/U/D CDC batch with last-op-wins collapse") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val cdc = Seq(
      (2, "b2", "U", 10L),  // update
      (3, "x", "D", 11L),   // delete
      (4, "d", "I", 12L),   // insert
      (5, "e", "I", 13L),   // insert then delete in the SAME batch...
      (5, "e", "D", 14L)    // ...later op wins → never lands
    ).toDF("id", "v", "op", "seq")
    t.applyChanges(cdc, "source.id == updates.id", "op", "seq")
    assert(t.read().as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b2"), (4, "d")))
  }

  test("partitioned applyChanges prunes to the batch's partitions") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(30)(i => (s"p${i % 3}", i, "base")).toDF("part", "id", "v"),
      partitionBy = Seq("part"))
    val d0 = dataDirOf(root, 0)
    val untouchedBefore = Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p"))
    val cdc = Seq(("p0", 0, "upd", "U", 1L), ("p0", 3, "x", "D", 2L),
      ("p0", 300, "new", "I", 3L)).toDF("part", "id", "v", "op", "seq")
    t.applyChanges(cdc, "source.id == updates.id", "op", "seq",
      partitionBy = Seq("part"))
    val rows = t.read().select("part", "id", "v").as[(String, Int, String)].collect()
    assert(rows.length === 30)                       // -1 delete +1 insert
    assert(rows.find(_._2 == 0).get._3 === "upd")
    assert(!rows.exists(_._2 == 3))
    assert(rows.find(_._2 == 300).get._3 === "new")
    assert(Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p")) === untouchedBefore)
    val d1dirs = childDirs(dataDirOf(root, 1))
    assert(d1dirs === Seq("part=p0"))
  }

  test("pruned applyChanges lands inserts for a partition the table has never seen") {
    // touched-partition discovery must come from the BATCH: discovering
    // from the table finds nothing for a new partition and used to commit
    // a no-op version, silently discarding the whole insert batch
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq(("p0", 1, "a")).toDF("part", "id", "v"), partitionBy = Seq("part"))
    val cdc = Seq(("pNEW", 100, "fresh", "I", 1L), ("pNEW", 101, "fresh2", "I", 2L))
      .toDF("part", "id", "v", "op", "seq")
    t.applyChanges(cdc, "source.id == updates.id", "op", "seq",
      partitionBy = Seq("part"))
    assert(t.read().count() === 3)
    assert(t.read().where($"part" === "pNEW").count() === 2)
  }

  test("pruned applyChanges emptying one partition while inserting another resurrects nothing") {
    // a count-based all-rewritten guard passes here (1 emptied + 1 new =
    // counts match) and used to carry the emptied partition's old dir,
    // resurrecting its deleted rows
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq(("pA", 1, "a1"), ("pA", 2, "a2"), ("pB", 3, "b1"))
      .toDF("part", "id", "v"), partitionBy = Seq("part"))
    val cdc = Seq(
      ("pA", 1, "x", "D", 1L), ("pA", 2, "x", "D", 2L), // empties pA
      ("pC", 9, "c1", "I", 3L)                          // new partition
    ).toDF("part", "id", "v", "op", "seq")
    t.applyChanges(cdc, "source.id == updates.id", "op", "seq",
      partitionBy = Seq("part"))
    assert(t.read().select("part", "id", "v").as[(String, Int, String)]
      .collect().toSet === Set(("pB", 3, "b1"), ("pC", 9, "c1")))
  }

  test("applyChanges key inference matches whole identifiers, not prefixes") {
    // columns id and identifier: a condition on identifier alone must
    // window by identifier ONLY (substring matching would also claim id,
    // letting two ops for one identifier both survive the dedup)
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, 100L, "a"), (2, 200L, "b")).toDF("id", "identifier", "v"))
    val cdc = Seq(
      (7, 100L, "first", "U", 1L),  // same identifier, different id —
      (8, 100L, "last", "U", 2L)    // last op must WIN, not coexist
    ).toDF("id", "identifier", "v", "op", "seq")
    t.applyChanges(cdc, "source.identifier == updates.identifier", "op", "seq")
    val got = t.read().as[(Int, Long, String)].collect().toSet
    assert(got === Set((8, 100L, "last"), (2, 200L, "b")))
  }

  test("applyChanges resolves backticked keys with non-word chars exactly") {
    // `updates.`order id`` must capture through the CLOSING backtick;
    // truncating at the space would fail the require (no column "order")
    // or, with a column named by the prefix, dedup-window by the wrong key
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a"), (2, "b")).toDF("order id", "v"))
    val cdc = Seq((1, "first", "U", 1L), (1, "last", "U", 2L))
      .toDF("order id", "v", "op", "seq")
    t.applyChanges(cdc, "source.`order id` == updates.`order id`", "op", "seq")
    assert(t.read().as[(Int, String)].collect().toSet ===
      Set((1, "last"), (2, "b")))
  }

  test("pruned applyChanges bails to full rewrite when a widened key re-encodes dirs") {
    // the table's dirs are p=5 / p=6 (int); a batch whose key column is
    // DOUBLE widens the touched-value frame, so Spark re-encodes the
    // touched partition as "p=5.0" — a name matching no existing dir.
    // Dropping by that name would silently CARRY the real p=5 dir and
    // resurrect its deleted rows; the round-trip guard must detect the
    // mismatch and take the full rewrite instead.
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((5, 1, "a1"), (5, 2, "a2"), (6, 3, "b1"))
      .toDF("p", "id", "v"), partitionBy = Seq("p"))
    val cdc = Seq((5.0, 1, "x", "D", 1L), (5.0, 2, "x", "D", 2L)) // empties p=5
      .toDF("p", "id", "v", "op", "seq")
    t.applyChanges(cdc, "source.id == updates.id", "op", "seq",
      partitionBy = Seq("p"))
    // the rewrite's unionByName widens p to double — cast back for decode
    assert(t.read().select($"p".cast("int"), $"id", $"v").as[(Int, Int, String)]
      .collect().toSet === Set((6, 3, "b1")))
  }

  test("pruned applyChanges with a widened key never duplicates a surviving partition") {
    // the NON-emptying variant of the widened-key hazard: the rewrite
    // output CONTAINS the re-encoded dir (p=5.0), so a guard that accepts
    // "touched name appears in the rewrite output" would carry the real
    // p=5 dir alongside it — surviving rows duplicate, updated rows
    // coexist with their pre-images. The presence-based guard must bail
    // to the full rewrite instead.
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((5, 1, "a1"), (5, 2, "a2"), (6, 3, "b1"))
      .toDF("p", "id", "v"), partitionBy = Seq("p"))
    val cdc = Seq((5.0, 1, "a1x", "U", 1L)) // updates ONE row of p=5
      .toDF("p", "id", "v", "op", "seq")
    t.applyChanges(cdc, "source.id == updates.id", "op", "seq",
      partitionBy = Seq("p"))
    assert(t.read().select($"p".cast("int"), $"id", $"v").as[(Int, Int, String)]
      .collect().toSet === Set((5, 1, "a1x"), (5, 2, "a2"), (6, 3, "b1")))
  }

  test("date-partitioned pruned applyChanges handles typed partition keys") {
    // date keys have no valid unquoted SQL literal form; discovery and
    // dir-name encoding must never round-trip values through SQL text
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq(("2026-08-14", 1, "a"), ("2026-08-15", 2, "b"))
      .toDF("ds", "id", "v").select($"ds".cast("date").as("dt"), $"id", $"v"),
      partitionBy = Seq("dt"))
    val cdc = Seq(("2026-08-15", 2, "b2", "U", 1L), ("2026-08-16", 3, "c", "I", 2L))
      .toDF("ds", "id", "v", "op", "seq")
      .select($"ds".cast("date").as("dt"), $"id", $"v", $"op", $"seq")
    t.applyChanges(cdc, "source.id == updates.id", "op", "seq",
      partitionBy = Seq("dt"))
    val got = t.read().select($"dt".cast("string"), $"id", $"v")
      .as[(String, Int, String)].collect().toSet
    assert(got === Set(("2026-08-14", 1, "a"), ("2026-08-15", 2, "b2"),
      ("2026-08-16", 3, "c")))
  }

  test("pruned delete drops an emptied partition's dir without a full rewrite") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(20)(i => (s"p${i % 2}", i)).toDF("part", "id"),
      partitionBy = Seq("part"))
    val d0 = dataDirOf(root, 0)
    val p1Before = fileMap(s"$d0/part=p1")
    t.delete("part = 'p0'", partitionBy = Seq("part"))
    assert(t.read().select("part").distinct().as[String].collect().toSeq
      === Seq("p1"))
    // the untouched partition carried by reference — pruned, not rewritten
    assert(fileMap(s"$d0/part=p1") === p1Before)
  }

  test("delete that empties a partition falls back and stays correct") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq(("p0", 1), ("p0", 2), ("p1", 3)).toDF("part", "id"),
      partitionBy = Seq("part"))
    t.delete("part = 'p0'", partitionBy = Seq("part"))
    assert(t.read().select("part", "id").as[(String, Int)].collect().toSet ===
      Set(("p1", 3)))
    // no stale p0 rows through any read path
    assert(t.read().where($"part" === "p0").count() === 0)
  }

  test("hint-path reads touch O(1) log files on a many-version log") {
    // a year of per-micro-batch streaming commits leaves 10^5-10^6
    // manifests; current-version resolution must not LIST that directory
    // per read. 1500 synthetic versions stand in for the deep log.
    import graft.common.FsUtils
    val dir = tmp() + "/t"
    val t = ManagedTable(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v")) // v1
    val log = s"$dir/_graft_log"
    // synthesize the deep log from the FULL v0 manifest (v1 is a delta
    // under the round-11 delta-encoded log; a copied delta would chain
    // to a parent that repeats the same add 1500 times) — each synthetic
    // version is self-contained, like a checkpoint-cadence commit
    val m0 = FsUtils.readText(spark, s"$log/0.json")
    (2 to 1501).foreach { v =>
      FsUtils.writeText(spark, s"$log/$v.json",
        m0.replace("\"version\":0,", s"\"version\":$v,"))
    }
    // the hint still names v1: the next op probes forward across the
    // synthetic gap ONCE (existence checks, not a listing) and its
    // commit re-points the hint at the head
    t.append(Seq((3, "c")).toDF("id", "v")) // v1502, delta onto full v1501
    assert(t.currentVersion.contains(1502L))
    val before = FsUtils.listingOps.get()
    // snapshot = v1501's (the synthetic full manifest: d0's one row) plus
    // the appended dir — delta resolution walks ≤ checkpointInterval
    // files by EXISTENCE+READ, never a listing
    assert(t.read().count() === 2)
    assert(t.currentVersion.contains(1502L))
    assert(FsUtils.listingOps.get() === before,
      "hint-path version resolution must not LIST the log directory")
    // hint gone -> full-listing fallback still resolves the same head
    FsUtils.deleteFiles(spark, Seq(s"$log/_last_checkpoint"))
    assert(t.currentVersion.contains(1502L))
    // and the next commit restores the O(1) path
    t.append(Seq((4, "d")).toDF("id", "v"))
    val again = FsUtils.listingOps.get()
    assert(t.read().count() === 3)
    assert(FsUtils.listingOps.get() === again)
  }

  // ---- resolved data dirs: each dir is listed once per process

  private def headEntries(t: ManagedTable): Int =
    t.manifestAt(t.currentVersion.get).get.entries.size

  /** `body`'s result, asserting it listed nothing through [[FsUtils]]. */
  private def listsNothing[T](body: => T): T = {
    val before = FsUtils.listingOps.get()
    val out = body
    assert(FsUtils.listingOps.get() === before)
    out
  }

  test("repeated reads of an unchanged head resolve no data dir again") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    listsNothing {
      assert(t.read().count() === 3)
      assert(t.read().count() === 3)
      assert(t.readWhere("id = 3").count() === 1)
      // a new handle on the same path reads the same resolved dirs
      assert(ManagedTable(spark, root).read().count() === 3)
    }
    // an append lists only its own new dir, when it writes it; the
    // carried ones are reused and the read lists nothing
    val before = FsUtils.listingOps.get()
    t.append(Seq((4, "d")).toDF("id", "v"))
    assert(FsUtils.listingOps.get() === before + 1)
    listsNothing(assert(t.read().count() === 4))
    // once an overwrite retires them, time travel to the old version
    // reads its three dirs from the same facts, with no listing or job
    t.write(Seq((9, "z")).toDF("id", "v"))
    assert(t.read().count() === 1)
    listsNothing {
      assert(t.readVersion(2).count() === 4)
      assert(jobsDuring(t.readVersion(2))._2 === 0)
    }
  }

  test("merge, optimize, restore and vacuum: the next read sees exactly the new head") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    def rows: Seq[(Int, String)] =
      listsNothing(t.read().as[(Int, String)].collect().sortBy(_._1).toSeq)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))             // v0
    t.append(Seq((3, "c")).toDF("id", "v"))                      // v1
    val v1 = Seq((1, "a"), (2, "b"), (3, "c"))
    assert(rows === v1)
    t.merge(Seq((1, "A"), (4, "d")).toDF("id", "v"),
      "source.id == updates.id")                                  // v2
    val v2 = Seq((1, "A"), (2, "b"), (3, "c"), (4, "d"))
    assert(rows === v2)
    assert(t.readWhere("id = 1").as[(Int, String)].collect().toSeq === Seq((1, "A")))
    t.optimize()                                                  // v3
    assert(rows === v2)
    assert(headEntries(t) === 1)
    t.restore(1)                                                  // v4
    assert(rows === v1)
    assert(t.readWhere("id = 1").as[(Int, String)].collect().toSeq === Seq((1, "a")))
    t.vacuum(0, enforceRetention = false)
    assert(rows === v1)
  }

  test("a table deleted and recreated at the same path reads the new rows") {
    val root = tmp() + "/t"
    ManagedTable(spark, root).write(Seq((1, "old")).toDF("id", "v"))
    assert(ManagedTable(spark, root).read().count() === 1)
    graft.common.FsUtils.deleteFiles(spark, Seq(root))
    val t = ManagedTable(spark, root)
    assert(!t.exists)
    assert(t.read().isEmpty)
    t.write(Seq((2, "new"), (3, "new")).toDF("id", "v"))
    assert(t.read().as[(Int, String)].collect().sortBy(_._1).toSeq ===
      Seq((2, "new"), (3, "new")))
  }

  test("an evicted resolved dir re-resolves and reads the same rows") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    def rows = t.read().as[(Int, String)].collect().sortBy(_._1).toSeq
    listsNothing(assert(rows === Seq((1, "a"), (2, "b"))))
    // a dir of MaxResolvedFiles files, resolved last, pushes every other
    // dir out, least recently used first
    val file = FsUtils.listDataFiles(spark, dataDirOf(t.path, 0)).head
    ManagedTable.keep(ManagedTable.DirFacts(new org.apache.hadoop.fs.Path("file:/filler"),
      Seq.fill(ManagedTable.MaxResolvedFiles)(file), None))
    // the table's two dirs resolve again on the next read, which is correct
    val before = FsUtils.listingOps.get()
    assert(rows === Seq((1, "a"), (2, "b")))
    assert(FsUtils.listingOps.get() === before + 2)
    // and they are kept again: the filler left to make room for them
    listsNothing(assert(rows === Seq((1, "a"), (2, "b"))))
  }

  test("a freshly committed dir reads with no inference job and the inferred schema") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    val typed = spark.sql("""SELECT id,
        TIMESTAMP '2024-05-01 12:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
        CAST(id AS DECIMAL(12, 3)) AS amount,
        CAST(concat('b', id) AS BINARY) AS raw,
        array(id, id + 1) AS xs,
        map(concat('k', id), id) AS kv,
        named_struct('a', id, 'b', named_struct('c', array(concat('s', id)))) AS st
      FROM range(3)""")
    def inferred(v: Int) = spark.read.parquet(dataDirOf(root, v)).schema
    // every read of a fresh head below runs 0 jobs; the parent code ran
    // one footer-inference job per new dir
    t.write(typed)
    val (r0, j0) = jobsDuring(t.read())
    assert(j0 === 0)
    assert(r0.schema === inferred(0))
    assert(r0.count() === 3)
    t.append(typed.where("id = 2"))
    val (r1, j1) = jobsDuring(t.read())
    assert(j1 === 0)
    assert(inferred(1) === inferred(0))
    assert(r1.schema === inferred(0))
    assert(r1.where("id = 2").count() === 2)
    // a renamed column: the dir written after the rename carries the new
    // physical name, and the union of both dirs reads with no job either
    t.renameColumn("amount", "price")
    t.append(typed.withColumnRenamed("amount", "price").where("id = 1"))
    val (r3, j3) = jobsDuring(t.read())
    assert(j3 === 0)
    assert(inferred(3).fieldNames.contains("price"))
    assert(r3.schema === inferred(3))
    assert(r3.where("price = 1").count() === 2)
    // a partitioned dir too: its partition column is typed from the dir
    // names in process
    t.append(typed.withColumnRenamed("amount", "price").where("id = 0"),
      partitionBy = Seq("id"))
    val (r4, j4) = jobsDuring(t.read())
    assert(j4 === 0)
    assert(r4.count() === 6)
  }

  test("two reads of one head self-join like two separate scans") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    val l = t.read()
    val r = t.read()
    val joined = l.as("l").join(r.as("r"), $"l.id" === $"r.id" + 1)
      .select($"l.id", $"r.id").as[(Int, Int)].collect().sortBy(_._1).toSeq
    assert(joined === Seq((2, 1), (3, 2)))
    // the same relation on both sides still diffs to nothing
    assert(l.exceptAll(r).isEmpty)
    assert(l.union(r).count() === 6)
  }

  test("txn markers carry forward cumulatively; lastTxn answers from the head") {
    import graft.common.FsUtils
    val dir = tmp() + "/t"
    val t = ManagedTable(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "v"), txn = Map("app1" -> 1L))
    t.append(Seq((2, "b")).toDF("id", "v")) // marker-less commit between
    t.append(Seq((3, "c")).toDF("id", "v"), txn = Map("app2" -> 7L))
    assert(t.lastTxn("app1") === Some(1L))
    assert(t.lastTxn("app2") === Some(7L))
    assert(t.lastTxn("never") === None)
    // the materialized HEAD manifest alone carries both markers (the
    // delta fold keeps txn cumulative) — the bounded-read property a
    // per-micro-batch replay guard relies on at deep log sizes; the head
    // DELTA file itself carries only ITS commit's marker (O(changed))
    val head = FsUtils.readText(spark, s"$dir/_graft_log/2.json")
    assert(head.contains("\"app2\":7") && !head.contains("\"app1\""))
    assert(t.describeHistory().where("version = 2")
      .select("num_txn").collect().head.getLong(0) === 2L)
    // a newer marker for the same app supersedes in place
    t.append(Seq((4, "d")).toDF("id", "v"), txn = Map("app2" -> 9L))
    assert(t.lastTxn("app2") === Some(9L))
  }

  test("concurrent appends all land as consecutive versions — no lost update") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((0, "seed")).toDF("id", "v"))
    val dfs = (1 to 8).map(i => Seq((i, s"r$i")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = dfs.map { df =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.append(df)
        })
      }
      val versions = futures.map(_.get())
      // every append won SOME version; the set is exactly 1..8
      assert(versions.toSet === (1L to 8L).toSet)
    } finally pool.shutdown()
    assert(t.currentVersion.contains(8L))
    assert(t.read().select("id").as[Int].collect().toSet === (0 to 8).toSet)
  }

  test("concurrent merges re-run on conflict — no lost update") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((0, "base")).toDF("id", "v"))
    val dfs = (1 to 4).map(i => Seq((i, s"m$i")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = dfs.map { df =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.merge(df, "source.id == updates.id")
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    // without the CAS commit, later full-rewrite merges computed against a
    // stale snapshot would silently drop earlier merges' rows
    assert(t.read().select("id").as[Int].collect().toSet === (0 to 4).toSet)
    assert(t.currentVersion.contains(4L))
  }

  test("vacuum reaps unreferenced race-orphan dirs but never live data") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq((1, "a")).toDF("id", "v"))
    // fabricate the residue of a commit that lost its race: a data dir no
    // manifest references
    Seq((9, "zz")).toDF("id", "v").write.parquet(s"$root/d9-deadbeef")
    Thread.sleep(20)
    t.vacuum(0, enforceRetention = false)
    assert(!graft.common.FsUtils.exists(spark, s"$root/d9-deadbeef"))
    assert(t.read().count() === 1)
  }

  test("CHECK constraints validate every ingest batch before commit") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, 10)).toDF("id", "qty"))
    t.setCheck("qty_pos", "qty > 0")
    // violating append fails BEFORE commit; table unchanged
    intercept[IllegalArgumentException](t.append(Seq((2, -5)).toDF("id", "qty")))
    assert(t.currentVersion.contains(0L))
    t.append(Seq((2, 5)).toDF("id", "qty"))
    // NULL check result counts as a violation (Delta semantics)
    intercept[IllegalArgumentException](
      t.merge(Seq((3, None: Option[Int])).toDF("id", "qty"), "source.id == updates.id"))
    // updateWhere validates the post-update image of changed rows
    intercept[IllegalArgumentException](t.updateWhere("id = 1", Map("qty" -> "-1")))
    // a constraint the existing data violates cannot be added
    intercept[IllegalArgumentException](t.setCheck("qty_big", "qty > 100"))
    t.dropCheck("qty_pos")
    t.append(Seq((4, -1)).toDF("id", "qty"))
    assert(t.read().count() === 3)
  }

  test("schema enforcement rejects drifted batches; merge-by-name default") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b", 1.5)).toDF("id", "v", "extra")) // default: drift OK
    assert(t.read().columns.toSet === Set("id", "v", "extra"))
    t.setSchemaEnforced(true)
    intercept[org.apache.spark.sql.AnalysisException](
      t.append(Seq((3, "c", "boom")).toDF("id", "v", "nope")))     // new column
    intercept[org.apache.spark.sql.AnalysisException](
      t.append(Seq(("3", "c")).toDF("id", "v")))                   // type change
    t.append(Seq(4).toDF("id"))                 // subset of columns still fine
    assert(t.read().count() === 3)
  }

  test("streamAppends ships each appended batch downstream exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    def drain(): Unit = t.streamAppends().writeStream
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("checkpointLocation", s"$root-cp")
      .outputMode("append")
      .start(s"$root-out").awaitTermination()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    drain()
    t.append(Seq((3, "c")).toDF("id", "v"))
    drain()
    val out = spark.read.parquet(s"$root-out")
    assert(out.select("id").as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
  }

  test("restore rolls back as a new commit; history stays time-travelable") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "good"), (2, "good")).toDF("id", "v"))          // v0
    t.write(Seq((1, "bad")).toDF("id", "v"))                        // v1
    val v = t.restore(0)                                            // v2 = v0
    assert(v === 2L)
    assert(t.read().count() === 2)
    assert(t.read().where($"v" === "good").count() === 2)
    // the bad version is still readable until VACUUM retires it
    assert(t.readVersion(1).count() === 1)
    intercept[org.apache.spark.sql.AnalysisException](t.restore(99))
  }

  test("shallow clone is zero-copy; divergent writes never cross paths") {
    val src = ManagedTable(spark, tmp() + "/src")
    src.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val clone = src.cloneTo(src.path + "-clone")
    // zero-copy: the clone's manifest references the source's data dir
    assert(clone.read().count() === 2)
    assert(graft.common.FsUtils.listFiles(spark, clone.path)
      .forall(_.contains("_graft_log")), "clone must hold no data files")
    // divergence: clone upsert doesn't touch the source, and vice versa
    clone.merge(Seq((3, "c")).toDF("id", "v"), "source.id == updates.id")
    src.merge(Seq((4, "d")).toDF("id", "v"), "source.id == updates.id")
    assert(clone.read().select("id").as[Int].collect().toSet === Set(1, 2, 3))
    assert(src.read().select("id").as[Int].collect().toSet === Set(1, 2, 4))
    // vacuuming the clone never deletes source dirs it still references
    clone.vacuum(0, enforceRetention = false)
    assert(src.read().count() === 3)
    intercept[IllegalArgumentException](src.cloneTo(clone.path))
  }

  test("versionAt picks the latest snapshot at or before a timestamp") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq(1).toDF("id"))
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(5)
    t.write(Seq(1, 2).toDF("id"))
    assert(t.versionAt(afterV0).contains(0L))
    assert(t.versionAt(System.currentTimeMillis()).contains(1L))
    assert(t.versionAt(0L).isEmpty)
  }

  test("changesSince returns rows added after the starting timestamp") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.changesSince(mid).as[(Int, String)].collect().toSeq === Seq((3, "c")))
    // start before the first commit → full feed
    assert(t.changesSince(0L).count() === 3)
  }

  test("changesWithType marks inserts and deletes with multiplicity") {
    val t = ManagedTable(spark, tmp() + "/t")
    // base holds TWO copies of (1, a) — count-aware diff must see the
    // third copy as one insert, and the removed (2, b) as a delete
    t.write(Seq((1, "a"), (1, "a"), (2, "b")).toDF("id", "v"))
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.write(Seq((1, "a"), (1, "a"), (1, "a"), (3, "c")).toDF("id", "v"))
    val got = t.changesWithType(mid)
      .select("id", "v", "_change_type").as[(Int, String, String)]
      .collect().sortBy(r => (r._3, r._1))
    assert(got.toSeq === Seq(
      (2, "b", "delete"), (1, "a", "insert"), (3, "c", "insert")))
  }

  test("optimize compacts and zorder sorts; vacuum guards retention") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq.tabulate(100)(i => (i % 7, i)).toDF("k", "id").repartition(8))
    t.optimize(zorderBy = Seq("k"), targetPartitions = 2)
    assert(t.read().count() === 100)
    assertThrows[IllegalArgumentException](t.vacuum(1))
    t.vacuum(0, enforceRetention = false)
    // current snapshot survives GC
    assert(t.read().count() === 100)
    assert(t.history().size === 1)
  }

  test("optimize with partitionBy keeps the hive layout") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(40)(i => (s"p${i % 2}", i)).toDF("part", "id").repartition(8),
      partitionBy = Seq("part"))
    t.optimize(targetPartitions = 1, partitionBy = Seq("part"))
    val dirs = childDirs(dataDirOf(root, 1))
    assert(dirs.sorted === Seq("part=p0", "part=p1"))
    assert(t.read().count() === 40)
  }

  test("partitioned snapshots prune partitions on filtered reads") {
    import org.apache.spark.sql.functions.col
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq.tabulate(60)(i => (s"p${i % 3}", i)).toDF("part", "id"),
      partitionBy = Seq("part"))
    val filtered = t.read().where(col("part") === "p1")
    assert(filtered.count() === 20)
    val scan = filtered.queryExecution.executedPlan.toString
    // the partition filter must reach the scan's directory pruning, not
    // run as a post-scan row filter over all partitions
    assert(scan.contains("PartitionFilters: [isnotnull(part"),
      s"expected partition pruning in:\n$scan")
  }

  test("registerAs exposes a catalog view over the current snapshot") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.registerAs("graft_test_db", "reg_spec")
    assert(spark.sql("SELECT count(*) FROM graft_test_db.reg_spec").head().getLong(0) === 1L)
  }

  test("registerAs survives schema drift and live renames, like the read path") {
    // the view must union BY NAME (a positional UNION ALL across
    // different-width dirs either fails or silently mis-maps columns),
    // apply renames, and hide tombstoned columns
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b", 9.5)).toDF("id", "v", "extra")) // drift: +extra
    t.renameColumn("v", "val")
    t.registerAs("graft_test_db", "reg_drift")
    val got = spark.sql(
      "SELECT id, val, extra FROM graft_test_db.reg_drift ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq === Seq((1, "a", None), (2, "b", Some(9.5))))
    // tombstoned physical names never leak into the view
    t.dropColumn("extra")
    t.registerAs("graft_test_db", "reg_drift")
    assert(spark.sql("SELECT * FROM graft_test_db.reg_drift").columns.toSet
      === Set("id", "val"))
  }

  test("a quoted partition value registers and reads without breaking the view") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq(("O'Brien", 1), ("plain", 2)).toDF("name", "id"),
      partitionBy = Seq("name"))
    // force a carried-subdir entry so the view goes through the
    // decoded-predicate branch
    t.merge(Seq(("plain", 2, 0)).toDF("name", "id", "x").drop("x")
      .withColumnRenamed("id", "id"),
      "source.id == updates.id", partitionBy = Seq("name"))
    t.registerAs("graft_test_db", "reg_quote")
    assert(spark.sql(
      "SELECT id FROM graft_test_db.reg_quote WHERE name = \"O'Brien\"")
      .head().getInt(0) === 1)
  }

  test("manifest JSON escapes hostile rename targets") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.renameColumn("v", "v\"q\\w") // quote and backslash in the new name
    assert(t.read().columns.toSet === Set("id", "v\"q\\w"))
    t.append(Seq((2, "b")).toDF("id", "v\"q\\w"))
    assert(t.read().count() === 2) // later manifests still parse
  }

  /** Recursive (relative path → size) listing of a data dir. */
  private def fileMap(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
      .toMap
  }

  test("partitioned merge rewrites only touched partitions") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(30)(i => (s"p${i % 3}", i, "base")).toDF("part", "id", "v"),
      partitionBy = Seq("part"))

    val d0 = dataDirOf(root, 0)
    val untouchedBefore = Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p"))
    // updates touch ONLY partition p0
    t.merge(Seq(("p0", 0, "upd"), ("p0", 300, "ins")).toDF("part", "id", "v"),
      "source.id == updates.id", partitionBy = Seq("part"))

    // merge semantics hold across the carried + rewritten union
    val rows = t.read().select("part", "id", "v").as[(String, Int, String)].collect()
    assert(rows.length === 31)
    assert(rows.count(_._3 == "upd") === 1)
    assert(rows.count(_._3 == "ins") === 1)
    assert(rows.filter(r => r._1 != "p0").forall(_._3 == "base"))
    // carried partitions: byte-identical files, still in the OLD dir
    val untouchedAfter = Seq("p1", "p2").map(p => fileMap(s"$d0/part=$p"))
    assert(untouchedAfter === untouchedBefore)
    // the manifest carries d0 subdirs by reference and adds only d1
    val manifest = graft.common.FsUtils.readText(spark, s"$root/_graft_log/1.json")
    assert(manifest.contains("\"base\""))
    assert(manifest.contains("part=p1") && manifest.contains("part=p2"))
    assert(!manifest.contains("part=p0\"") || manifest.contains("d1"))
    // the rewritten dir holds ONLY the touched partition
    val d1dirs = childDirs(dataDirOf(root, 1))
    assert(d1dirs === Seq("part=p0"))
    // the partition column survives the carried subdir reads
    assert(t.read().where($"part" === "p2").count() === 10)
  }

  test("repeated pruned merges chain carried references and stay correct") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(20)(i => (s"p${i % 2}", i, 0)).toDF("part", "id", "n"),
      partitionBy = Seq("part"))
    // three merges alternating partitions; each must see all prior state
    t.merge(Seq(("p0", 0, 1)).toDF("part", "id", "n"), "source.id == updates.id",
      partitionBy = Seq("part"))
    t.merge(Seq(("p1", 1, 2)).toDF("part", "id", "n"), "source.id == updates.id",
      partitionBy = Seq("part"))
    t.merge(Seq(("p0", 0, 3), ("p1", 101, 4)).toDF("part", "id", "n"),
      "source.id == updates.id", partitionBy = Seq("part"))
    val got = t.read().select("part", "id", "n").as[(String, Int, Int)].collect().toSet
    val expected = (Seq.tabulate(20)(i => (s"p${i % 2}", i, 0))
      .filterNot(r => r._2 == 0 || r._2 == 1) ++
      Seq(("p0", 0, 3), ("p1", 1, 2), ("p1", 101, 4))).toSet
    assert(got === expected)
    // time travel still reads every intermediate version
    assert(t.readVersion(0).count() === 20)
    assert(t.readVersion(2).select("part", "id", "n").as[(String, Int, Int)].collect().toSet
      === (Seq.tabulate(20)(i => (s"p${i % 2}", i, 0))
        .filterNot(r => r._2 == 0 || r._2 == 1) ++
        Seq(("p0", 0, 1), ("p1", 1, 2))).toSet)
  }

  test("vacuum never deletes a dir whose subdir is still referenced") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq.tabulate(10)(i => (s"p${i % 2}", i)).toDF("part", "id"),
      partitionBy = Seq("part"))
    Thread.sleep(5)
    t.merge(Seq(("p0", 100)).toDF("part", "id"), "source.id == updates.id",
      partitionBy = Seq("part"))
    // v0 references d0 (whole); v1 references d0/part=p1 (carried) + d1.
    // Dropping v0 must NOT delete d0 — a retained subdir lives inside it.
    t.vacuum(0, enforceRetention = false)
    assert(t.history().map(_._1) === Seq(1L))
    assert(t.read().count() === 11)
    assert(t.read().where($"part" === "p1").count() === 5)
  }

  test("vacuum reaps stats/bloom sidecars of retired data dirs, keeps live ones") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.collectStats()
    t.collectBlooms(Seq("id"), itemsPerFile = 100)
    val statsRoot = s"$root/_graft_stats"
    assert(graft.common.FsUtils.listChildDirsWithModTime(spark, statsRoot).nonEmpty)
    Thread.sleep(5)
    t.write(Seq((9L, "z")).toDF("id", "v").coalesce(1)) // clean write retires d0
    t.collectStats()
    val liveStats = graft.common.FsUtils
      .listChildDirsWithModTime(spark, statsRoot).map(_._1).toSet
    t.vacuum(0, enforceRetention = false)
    val after = graft.common.FsUtils
      .listChildDirsWithModTime(spark, statsRoot).map(_._1).toSet
    assert(after.size === 1 && after.subsetOf(liveStats),
      s"retired sidecars must be reaped: $after")
    // live stats still drive pruning after the vacuum
    assert(t.pruneInfo("id = 9")._2 === 1L)
  }

  test("merge falls back to full rewrite when updates lack the partition column") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq(("p0", 1, "a")).toDF("part", "id", "v"), partitionBy = Seq("part"))
    // updates without `part` can't prune; the full path must still work
    t.merge(Seq((2, "b")).toDF("id", "v"),
      "source.id == updates.id", partitionBy = Seq("part"))
    assert(t.read().count() === 2)
  }

  test("renameColumn is manifest-only: old dirs byte-identical, mixed-age read") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq((1, 10.0), (2, 20.0)).toDF("id", "price"))
    val before = fileMap(dataDirOf(root, 0))
    t.renameColumn("price", "amount")
    // zero data movement, and the logical schema maps per-dir
    assert(fileMap(dataDirOf(root, 0)) === before)
    assert(t.read().columns.toSeq === Seq("id", "amount"))
    // a post-rename append writes the NEW physical name; both generations read as one
    t.append(Seq((3, 30.0)).toDF("id", "amount"))
    assert(t.read().orderBy("id").as[(Int, Double)].collect().toSeq ===
      Seq((1, 10.0), (2, 20.0), (3, 30.0)))
    // time travel BEFORE the rename keeps the old name (per-manifest mapping)
    assert(t.readVersion(0).columns.toSeq === Seq("id", "price"))
    // readWhere on the renamed column: stats keyed by the old physical
    // name can't prune pre-rename files, but rows stay correct
    t.collectStats()
    assert(t.readWhere("amount >= 20.0").orderBy("id")
      .as[(Int, Double)].collect().toSeq === Seq((2, 20.0), (3, 30.0)))
    // validation
    intercept[IllegalArgumentException](t.renameColumn("ghost", "x"))
    intercept[IllegalArgumentException](t.renameColumn("id", "amount"))
    // the reserved internal namespace: a rename onto __gbucket would be
    // silently dropped by every read (and optimize would then destroy the
    // data); __dv_* would collide with deletion-vector provenance
    intercept[IllegalArgumentException](t.renameColumn("id", "__gbucket"))
    intercept[IllegalArgumentException](t.renameColumn("id", "__dv_file"))
  }

  test("dropColumn tombstones without rewrites; optimize frees the name") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "tag", "score"))
    val before = fileMap(dataDirOf(root, 0))
    t.dropColumn("tag")
    assert(fileMap(dataDirOf(root, 0)) === before)
    assert(t.read().columns.toSeq === Seq("id", "score"))
    // re-using the dropped name is refused while old files still carry it
    val e = intercept[IllegalArgumentException](
      t.append(Seq((3, "c", 3.0)).toDF("id", "tag", "score")))
    assert(e.getMessage.contains("optimize"))
    // OPTIMIZE materializes the mapping → the name is free again
    t.optimize()
    t.append(Seq((3, "z", 3.0)).toDF("id", "tag", "score"))
    val rows = t.read().orderBy("id").collect()
    assert(t.read().columns.sorted.toSeq === Seq("id", "score", "tag"))
    // pre-optimize rows surface NULL for the re-added column, never "a"/"b"
    assert(rows.map(r => Option(r.getAs[String]("tag"))).toSeq ===
      Seq(None, None, Some("z")))
  }

  test("rename chains apply in order; restore and clone carry the mapping") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(Seq((1, 5.0)).toDF("id", "a"))
    t.renameColumn("a", "b")   // v1
    t.append(Seq((2, 6.0)).toDF("id", "b"))  // v2: physical name b
    t.renameColumn("b", "c")   // v3
    assert(t.read().columns.toSeq === Seq("id", "c"))
    assert(t.read().orderBy("id").as[(Int, Double)].collect().toSeq ===
      Seq((1, 5.0), (2, 6.0)))
    // restore to v1 brings back that snapshot's mapping (a→b, name = b)
    t.restore(1)
    assert(t.read().columns.toSeq === Seq("id", "b"))
    // a clone of the CURRENT snapshot keeps reading the mapped schema
    t.restore(3)
    val c = t.cloneTo(root + "_clone")
    assert(c.read().columns.toSeq === Seq("id", "c"))
    assert(c.read().count() === 2)
  }

  test("describeHistory reports every commit's operation and footprint") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.merge(Seq((1L, "z")).toDF("id", "v"), "source.id == updates.id")
    t.delete("id = 3")
    t.restore(1)
    val c = t.cloneTo(tmp() + "/clone")
    val h = t.describeHistory()
      .select("version", "operation", "num_entries")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(h === Seq(
      (0L, "write", 1L), (1L, "append", 2L), (2L, "merge", 1L),
      (3L, "delete", 1L), (4L, "restore", 2L)))
    assert(c.describeHistory().select("operation").as[String].collect()
      .toSeq === Seq("clone"))
    // timestamps are commit times, monotone non-decreasing
    val ts = t.describeHistory().select("timestamp")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    assert(ts === ts.sorted)
  }

  test("incremental optimize rewrites only post-watermark dirs") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(spark.range(300).selectExpr("id", "id % 7 AS v"))
    t.optimize(zorderBy = Seq("v", "id")) // v1: the watermark baseline
    def entriesAt(v: Long): Seq[String] =
      t.manifestAt(v).get.entries.map(_.dir)
    // the baseline's single optimized dir, from its materialized manifest
    val baseDir = entriesAt(1).head
    t.append(spark.range(300, 500).selectExpr("id", "id % 7 AS v"))
    t.append(spark.range(500, 650).selectExpr("id", "id % 7 AS v"))
    val v = t.optimizeIncremental(zorderBy = Seq("v", "id"))
    assert(v === 4L)
    // content ≡ the full-optimize result (clustering never changes rows)
    assert(t.read().collect().map(_.toString).sorted.toSeq ===
      spark.range(650).selectExpr("id", "id % 7 AS v")
        .collect().map(_.toString).sorted.toSeq)
    // the baseline dir is carried BY REFERENCE (same path string in the
    // materialized snapshot) and exactly one fresh dir joins it — the two
    // append dirs left the snapshot
    val m4 = entriesAt(4)
    assert(m4.contains(baseDir), s"baseline $baseDir not carried in $m4")
    assert(m4.length === 2, s"expected 2 entries in $m4")
    // delta-encoded log: the commit FILE carries only the actions — the
    // carried baseline dir's path is NOT rewritten into it (O(changed
    // dirs) commit bytes, round-11)
    val m4Text = graft.common.FsUtils.readText(spark, s"$root/_graft_log/4.json")
    assert(m4Text.contains("\"parent\":3") && !m4Text.contains(baseDir))
    // nothing new since the watermark → no-op, no fresh commit
    assert(t.optimizeIncremental(zorderBy = Seq("v", "id")) === 4L)
    // a further append then incremental again: baseline now BOTH dirs
    t.append(spark.range(650, 700).selectExpr("id", "id % 7 AS v"))
    val v2 = t.optimizeIncremental(zorderBy = Seq("v", "id"))
    val m6 = entriesAt(v2)
    assert(m6.contains(baseDir) && m6.length === 3)
    assert(t.read().count() === 700L)
    // DESCRIBE HISTORY stamps the op
    assert(t.describeHistory().where("operation = 'optimizeIncremental'")
      .count() === 2L)
  }

  test("incremental optimize composes with the bucket transform") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t.write(spark.range(400).selectExpr("id AS k", "CAST(1 AS LONG) AS v"))
    t.optimize() // bucketed compaction → watermark baseline
    t.append(spark.range(400, 500).selectExpr("id AS k", "CAST(2 AS LONG) AS v"))
    t.optimizeIncremental()
    // the fresh dir re-clustered BY BUCKET with canonical names: a merge
    // after the incremental pass must still take the bucket-pruned path
    // (the canonical-int guard sees only layer-written dirs)
    t.merge(Seq((3L, 9L), (450L, 9L)).toDF("k", "v"), "source.k == updates.k")
    assert(t.read().count() === 500L)
    assert(t.read().where($"v" === 9L).count() === 2L)
    assert(t.readWhere("k = 450").collect().map(_.toString).toSeq === Seq("[450,9]"))
    // point lookup still bucket-prunes after the maintenance chain
    assert(t.readWhere("k = 7").count() === 1L)
  }

  test("incremental optimize materializes DVs only for the rewritten slice") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(100).selectExpr("id", "id % 3 AS v"))
    t.optimize() // baseline
    t.deleteVectorized("id = 5") // vector against the CARRIED baseline dir
    t.append(spark.range(100, 200).selectExpr("id", "id % 3 AS v"))
    t.deleteVectorized("id = 150") // vector against the FRESH append dir
    val v = t.optimizeIncremental()
    // both deletions hold: the fresh slice rewrote WITH its vector applied,
    // the baseline dir still subtracts its carried vector at read time
    assert(t.read().count() === 198L)
    assert(t.read().where("id IN (5, 150)").count() === 0L)
    assert(t.readVersion(v).where("id = 99").count() === 1L)
    // DV fold (round-10 advice): the fresh dir's vector (id=150) was
    // materialized by the rewrite and SHED; only the baseline dir's live
    // vector (id=5) survives — incremental-only maintenance can't
    // accumulate dead vectors
    assert(t.dvInfo() === ((1, 1L)))
    // repeated incremental maintenance keeps the DV set sized by LIVE
    // deletions, not by maintenance history
    t.append(spark.range(200, 250).selectExpr("id", "id % 3 AS v"))
    t.deleteVectorized("id = 220")
    t.optimizeIncremental()
    assert(t.dvInfo() === ((1, 1L)))
    assert(t.read().count() === 247L)
    assert(t.read().where("id IN (5, 150, 220)").count() === 0L)
    // a full optimize afterwards purges all vectors
    t.optimize()
    assert(t.dvInfo() === ((0, 0L)))
    assert(t.read().count() === 247L)
  }

  test("delta-encoded log: append commit bytes are O(changed dirs), not O(snapshot)") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(spark.range(10).selectExpr("id", "id % 3 AS v"))
    (1 to 40).foreach { i =>
      t.append(spark.range(10L * i, 10L * i + 10).selectExpr("id", "id % 3 AS v"))
    }
    def logBytes(v: Long): Long =
      new java.io.File(s"$root/_graft_log/$v.json").length()
    val interval = ManagedTable.checkpointInterval(spark)
    val deltas = (1L to 40L).filterNot(_ % interval == 0)
    val checkpoints = (1L to 40L).filter(_ % interval == 0)
    assert(checkpoints.nonEmpty, "test needs at least one checkpoint commit")
    // delta commits stay FLAT while the snapshot grows to 41 dirs: the
    // late deltas may not exceed the early ones by more than trivial
    // growth (version digits), and every delta is far below the full
    // snapshot bytes its version's checkpoint form would cost
    val early = deltas.filter(_ <= 5).map(logBytes).max
    val late = deltas.filter(_ >= 35).map(logBytes).max
    assert(late <= early + 64,
      s"delta commit bytes grew with snapshot size: early<=$early late=$late")
    // checkpoint commits DO carry the snapshot (the replay bound)
    assert(checkpoints.map(logBytes).min > late,
      "checkpoint manifests must be full snapshots")
    // correctness across the delta/checkpoint mix: head, time travel
    // before/at/after a checkpoint, restore onto a delta-encoded head
    assert(t.read().count() === 410)
    assert(t.readVersion(interval - 1).count() === 10L * interval)
    assert(t.readVersion(interval).count() === 10L * (interval + 1))
    assert(t.readVersion(interval + 1).count() === 10L * (interval + 2))
    t.restore(3)
    assert(t.read().count() === 40)
    // history sees every commit materialized (fold-forward path)
    assert(t.history().map(_._1) === (0L to 41L))
  }

  test("vacuum checkpoints the earliest retained delta; reaped versions fail loudly") {
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(spark.range(5).toDF("id"))                       // v0 (full)
    (1 to 6).foreach(i => t.append(Seq(100L * i).toDF("id"))) // v1..v6 deltas
    val headBefore = t.read().count()
    Thread.sleep(20)
    t.vacuum(0, enforceRetention = false) // drops v0..v5, retains head v6
    // the head was a DELTA whose whole parent chain dropped: vacuum must
    // have written its checkpoint shadow, so the head stays readable
    assert(graft.common.FsUtils.exists(spark, s"$root/_graft_log/6.checkpoint.json"))
    assert(t.read().count() === headBefore)
    assert(t.currentVersion.contains(6L))
    // reading or restoring a reaped version fails LOUDLY naming vacuum —
    // never a partial/empty frame
    val e1 = intercept[IllegalStateException](t.readVersion(3))
    assert(e1.getMessage.contains("VACUUM") && e1.getMessage.contains("6"))
    val e2 = intercept[IllegalStateException](t.restore(2))
    assert(e2.getMessage.contains("VACUUM"))
    // a version beyond the head stays a plain not-found, not a vacuum claim
    intercept[org.apache.spark.sql.AnalysisException](t.readVersion(99))
    // life goes on: appends after the repair keep delta-encoding against
    // the checkpointed head
    t.append(Seq(999L).toDF("id"))
    assert(t.read().count() === headBefore + 1)
    assert(t.readVersion(6).count() === headBefore)
  }

  test("delta-encoded log survives racing writers (OCC rebase onto delta heads)") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((0, "seed")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val futures = (1 to 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            if (i % 2 == 0) t.append(Seq((i, s"a$i")).toDF("id", "v"))
            else t.merge(Seq((i, s"m$i")).toDF("id", "v"), "source.id == updates.id")
        })
      }
      assert(futures.map(_.get()).toSet === (1L to 6L).toSet)
    } finally pool.shutdown()
    // every delta folded onto the version it actually landed on
    assert(t.read().select("id").as[Int].collect().toSet === (0 to 6).toSet)
    assert(t.history().map(_._1) === (0L to 6L))
  }

  test("chain walk crossing a live vacuum's repair-then-reap window recovers via the shadow") {
    // Deterministic replay of the narrow race the concurrent spec below
    // can only hit by luck: a reader resolves the head DELTA file while
    // no shadow exists, and a vacuum then repairs (writes the boundary's
    // .checkpoint.json) and reaps the parents BEFORE the walk reads
    // them. The one-retry resolution in manifestAt must recover through
    // the shadow — the reader/committer lands, nothing fails.
    val root = tmp() + "/t"
    val t = ManagedTable(spark, root)
    t.write(spark.range(3).toDF("id"))                        // v0 (full)
    (1 to 6).foreach(i => t.append(Seq(100L * i).toDF("id"))) // v1..v6 deltas
    val expect = t.read().count()
    Thread.sleep(20)
    val fired = new java.util.concurrent.atomic.AtomicInteger
    ManagedTable.chainWalkHook.set { _ =>
      if (fired.incrementAndGet() == 1) {
        // one-shot: the vacuum's own log reads must not re-enter
        ManagedTable.chainWalkHook.set(_ => ())
        t.vacuum(0, enforceRetention = false) // shadow v6, reap v0..v5
      }
    }
    try {
      // this walk read 6.json (a delta) BEFORE the vacuum ran; by the
      // time it asks for the parent, v5..v0 are reaped and only the
      // fresh 6.checkpoint.json shadow can resolve it
      assert(t.readVersion(6).count() === expect)
    } finally ManagedTable.chainWalkHook.set(_ => ())
    assert(fired.get() >= 1, "the injected vacuum never ran — race not exercised")
    assert(graft.common.FsUtils.exists(spark, s"$root/_graft_log/6.checkpoint.json"))
    // and a committer folding forward from the repaired head still lands
    t.append(Seq(999L).toDF("id"))
    assert(t.read().count() === expect + 1)
  }

  test("vacuum racing live OCC writers: no lost commit, loud-only failures") {
    // VERDICT r11 #1: vacuum reaps parent chains and writes checkpoint
    // shadows WHILE committers fold forward from those chains. Contract:
    // every acknowledged write is in the final head (no lost commit, no
    // phantom), every surviving version stays readable, and any writer
    // failure is LOUD and names VACUUM — never a delta whose parent is
    // silently gone.
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((0, "seed")).toDF("id", "v"))
    val landed = scala.collection.mutable.Set[Int](0)
    val failures = scala.collection.mutable.ArrayBuffer[Throwable]()
    for (round <- 1 to 4) {
      val ids = (1 to 6).map(i => round * 10 + i)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(7)
      try {
        val wfs = ids.map { i =>
          i -> pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long =
              if (i % 2 == 0) t.append(Seq((i, s"a$i")).toDF("id", "v"))
              else t.merge(Seq((i, s"m$i")).toDF("id", "v"),
                "source.id == updates.id")
          })
        }
        // vacuum(0) mid-flight: everything below the head at listing time
        // drops, so racing walkers cross the repair-then-reap window
        val vf = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { Thread.sleep(5); t.vacuum(0, enforceRetention = false) }
        })
        wfs.foreach { case (i, f) =>
          try { f.get(); landed += i }
          catch { case e: java.util.concurrent.ExecutionException =>
            failures += e.getCause }
        }
        vf.get() // the vacuum itself must never corrupt or crash
      } finally pool.shutdown()
    }
    // loud-only: any writer failure must name VACUUM somewhere in its
    // cause chain (spurious quiet losses would show up below instead)
    failures.foreach { root =>
      val chain = Iterator.iterate(root)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("VACUUM"),
        s"writer failed without naming VACUUM: $chain")
    }
    info(s"landed=${landed.size - 1}/24 writers, loud-vacuum failures=${failures.size}")
    // no lost commit, no phantom: head content == acknowledged writes
    val got = t.read().select("id").as[Int].collect().toSet
    assert(got === landed.toSet)
    // every surviving version stays readable (vacuum repaired each chain
    // before reaping it)
    t.history().map(_._1).foreach(v => t.readVersion(v).count())
  }
}

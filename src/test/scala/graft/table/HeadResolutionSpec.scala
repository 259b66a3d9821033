package graft.table

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.SparkSuite

/** Each table operation resolves its head once per commit attempt, and
  * validates, reads and commits against that one head. The delta-chain
  * walk hook ([[ManagedTable.chainWalkHook]]) sees every resolution. */
class HeadResolutionSpec extends SparkSuite {
  import spark.implicits._

  private def table(): ManagedTable =
    ManagedTable(spark, Files.createTempDirectory("graft-head").toString + "/t")

  /** Delta-chain steps this thread walks while `body` runs. */
  private def walkSteps(body: => Any): Int = {
    val steps = new AtomicInteger
    val me = Thread.currentThread
    ManagedTable.chainWalkHook.set(_ => if (Thread.currentThread eq me) steps.incrementAndGet())
    try body finally ManagedTable.chainWalkHook.set(_ => ())
    steps.get
  }

  test("each op walks the delta chain once: k steps with the head k deltas past its full manifest") {
    val t = table()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))              // v0, full
    (3 to 5).foreach(i => t.append(Seq((i, s"x$i")).toDF("id", "v"))) // v1..v3 deltas
    // every version below the checkpoint interval is a delta on v0, so
    // the head is `currentVersion` deltas past its full manifest
    val ops: Seq[(String, () => Any)] = Seq(
      "read" -> (() => t.read()),
      "readWhere" -> (() => t.readWhere("id = 3")),
      "merge upsert" -> (() =>
        t.merge(Seq((1, "new"), (9, "ins")).toDF("id", "v"), "source.id = updates.id")),
      "insert-only merge" -> (() => t.merge(Seq((2, "dup"), (10, "ins")).toDF("id", "v"),
        "source.id = updates.id", upsert = false)),
      "updateWhere" -> (() => t.updateWhere("id = 4", Map("v" -> "'upd'"))),
      "append" -> (() => t.append(Seq((11, "app")).toDF("id", "v"))),
      "read again" -> (() => t.read()))
    val walked = ops.map { case (op, run) =>
      val k = t.currentVersion.get.toInt
      (op, k, walkSteps(run()))
    }
    assert(walked.map(_._2) === Seq(3, 3, 3, 4, 5, 6, 7))
    walked.foreach { case (op, k, steps) =>
      assert(steps === k, s"$op walked $steps steps with the head $k deltas out")
    }
    assert(t.read().as[(Int, String)].collect().sortBy(_._1).toSeq === Seq(
      (1, "new"), (2, "b"), (3, "x3"), (4, "upd"), (5, "x5"), (9, "ins"),
      (10, "ins"), (11, "app")))
  }

  test("a rename committed while merge resolves its head fails the merge instead of corrupting it") {
    val t = table()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v")) // head v1 is a delta
    val fired = new AtomicBoolean
    ManagedTable.chainWalkHook.set { _ =>
      if (fired.compareAndSet(false, true)) {
        ManagedTable.chainWalkHook.set(_ => ()) // one-shot
        t.renameColumn("v", "w")
      }
    }
    val e = try intercept[IllegalArgumentException] {
      t.merge(Seq((1, "new"), (4, "ins")).toDF("id", "v"), "source.id = updates.id")
    } finally ManagedTable.chainWalkHook.set(_ => ())
    assert(fired.get, "the injected rename never ran — race not exercised")
    assert(e.getMessage.contains("batch column 'v' matches a renamed/dropped column's old name"))
    assert(t.read().columns.toSeq === Seq("id", "w"))
    assert(t.read().as[(Int, String)].collect().sortBy(_._1).toSeq ===
      Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("an append that loses every commit race gives up after 10 and leaves an orphan vacuum reaps") {
    val t = table()
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v")) // head v1 is a delta
    val racer = ManagedTable(spark, t.path)
    val racing = new AtomicBoolean
    val raced = new AtomicInteger
    // one racing append per head walk: the walk's first step reads the
    // parent of the head it resolves; the racer's own walks do not race
    ManagedTable.chainWalkHook.set { pv =>
      if (!racing.get && racer.currentVersion.contains(pv + 1) &&
          racing.compareAndSet(false, true)) {
        try racer.append(Seq((100 + raced.incrementAndGet(), "racer")).toDF("id", "v"))
        finally racing.set(false)
      }
    }
    val e = try intercept[java.io.IOException] {
      t.append(Seq((-1, "loser")).toDF("id", "v"))
    } finally ManagedTable.chainWalkHook.set(_ => ())
    assert(e.getMessage.contains(s"lost ${ManagedTable.MaxCommitAttempts} optimistic-commit races"))
    assert(e.getCause.isInstanceOf[ManagedTable.ConcurrentWriteException])
    assert(raced.get === ManagedTable.MaxCommitAttempts)
    val last = 1L + ManagedTable.MaxCommitAttempts
    assert(t.currentVersion.contains(last))
    val expected = Seq((1, "a"), (2, "b")) ++ (101 to 110).map(i => (i, "racer"))
    def rows = t.read().as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(rows === expected)
    // the loser's data dir is on disk, referenced by no manifest
    val referenced = t.manifestAt(last).get.entries
      .map(e => new org.apache.hadoop.fs.Path(e.dir).getName).toSet
    def dataDirs = childDirs(t.path).filter(_.startsWith("d")).toSet
    assert((dataDirs -- referenced).size === 1)
    t.vacuum(0, enforceRetention = false)
    assert(dataDirs === referenced)
    assert(rows === expected)
  }
}

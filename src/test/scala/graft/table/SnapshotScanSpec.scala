package graft.table

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.SparkSuite
import graft.common.FsUtils

/** A snapshot reads as one file relation per layout (equal data and
  * partition schemas), not one scan per data dir: each case counts the
  * relations in the optimized plan and checks the rows against a
  * plain-collection model. */
class SnapshotScanSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-scan").toString

  private def relations(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r }.size

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "v").as[(Long, String)].collect().toSeq.sorted

  /** `n` single-row appends, id i with value "v<i>". */
  private def appended(n: Int): (ManagedTable, Seq[(Long, String)]) = {
    val t = ManagedTable(spark, tmp() + "/t")
    val model = (0 until n).map(i => (i.toLong, s"v$i"))
    model.foreach(r => t.append(Seq(r).toDF("id", "v")))
    (t, model)
  }

  test("50 same-schema appends read as one relation, filtered or not") {
    val (t, model) = appended(50)
    assert(relations(t.read()) === 1)
    assert(rows(t.read()) === model)
    val seven = t.readWhere("id = 7")
    assert(relations(seven) === 1)
    assert(rows(seven) === model.filter(_._1 == 7))
  }

  test("a drifted append adds one relation and reads null for the columns it lacks") {
    val (t, model) = appended(3)
    t.append(Seq((3L, "v3", 30)).toDF("id", "v", "extra"))
    val df = t.read()
    assert(relations(df) === 2)
    assert(df.columns.toSeq === Seq("id", "v", "extra"))
    assert(df.select("id", "v", "extra").as[(Long, String, Option[Int])]
      .collect().toSeq.sorted ===
      model.map(r => (r._1, r._2, None)) :+ ((3L, "v3", Some(30))))
  }

  test("a partitioned table with carried partition dirs reads as one relation") {
    val t = ManagedTable(spark, tmp() + "/t")
    val base = (0L until 12L).map(i => (i, s"v$i", Seq("a", "b", "c", "d")((i % 4).toInt)))
    t.write(base.toDF("id", "v", "k"), Seq("k"))
    t.merge(Seq((0L, "new", "a"), (20L, "ins", "a")).toDF("id", "v", "k"),
      "source.id = updates.id", partitionBy = Seq("k"))
    val entries = t.manifestAt(t.currentVersion.get).get.entries
    assert(entries.count(_.base.nonEmpty) === 3)
    val model = base.filterNot(_._1 == 0L) ++ Seq((0L, "new", "a"), (20L, "ins", "a"))
    val df = t.read()
    assert(relations(df) === 1)
    assert(df.select("id", "v", "k").as[(Long, String, String)].collect().toSeq.sorted ===
      model.sorted)
    val onA = df.where("k = 'a'")
    val scans = onA.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1 && scans.head.partitionFilters.nonEmpty)
    assert(rows(onA) === model.filter(_._3 == "a").map(r => (r._1, r._2)).sorted)
  }

  test("a stats-pruned read lists exactly the files pruneInfo keeps") {
    val (t, model) = appended(6)
    t.collectStats()
    val cond = "id >= 2 AND id < 4"
    val (kept, total) = t.pruneInfo(cond)
    assert(kept === 2 && total === 6)
    val df = t.readWhere(cond)
    assert(relations(df) === 1)
    assert(df.inputFiles.length === kept)
    assert(rows(df) === model.filter(r => r._1 >= 2 && r._1 < 4))
  }

  test("a column renamed over dirs of mixed age reads under its new name") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    t.renameColumn("v", "w")
    t.append(Seq((3L, "c")).toDF("id", "w"))
    val df = t.read()
    assert(df.columns.toSeq === Seq("id", "w"))
    assert(relations(df) === 2)
    assert(df.as[(Long, String)].collect().toSeq.sorted ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("a self-join and an exceptAll of two reads plan two scans") {
    val (t, model) = appended(4)
    val joined = t.read().as("l").join(t.read().as("r"), "id")
    assert(relations(joined) === 2)
    assert(joined.count() === model.size)
    val diff = t.read().exceptAll(t.read())
    assert(relations(diff) === 2)
    assert(diff.isEmpty)
  }

  test("pruneInfo and a no-op compactSmall list nothing on a cached head") {
    val (t, _) = appended(4)
    t.read()
    val before = FsUtils.listingOps.get()
    assert(t.pruneInfo("id = 1") === ((4L, 4L)))
    val v = t.currentVersion.get
    assert(t.compactSmall(targetBytes = 1) === v)
    assert(FsUtils.listingOps.get() === before)
  }
}

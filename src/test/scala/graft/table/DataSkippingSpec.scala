package graft.table

import java.nio.file.Files

import graft.SparkSuite

class DataSkippingSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-skip").toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("stats-pruned read equals the plain filtered read and opens fewer files") {
    val t = ManagedTable(spark, tmp() + "/t")
    // range-clustered layout: 10 files, each holding one contiguous id slice
    t.write(spark.range(1000).selectExpr("id", "CAST(id % 7 AS STRING) AS tag")
      .repartitionByRange(10, $"id"))
    t.collectStats()
    val cond = "id >= 100 AND id < 200"
    val (kept, total) = t.pruneInfo(cond)
    assert(total === 10)
    assert(kept <= 3, s"expected <=3 surviving files, got $kept") // slice spans at most 2 boundaries
    assert(sortedRows(t.readWhere(cond)) === sortedRows(t.read().where(cond)))
  }

  test("IN, OR and equality predicates prune; unsupported predicates never skip") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(400).selectExpr("id", "id * 2 AS v").repartitionByRange(8, $"id"))
    t.collectStats()
    val inCond = "id IN (5, 350)"
    val (keptIn, total) = t.pruneInfo(inCond)
    assert(total === 8 && keptIn <= 2)
    assert(sortedRows(t.readWhere(inCond)) === sortedRows(t.read().where(inCond)))
    val orCond = "id < 50 OR id >= 390"
    val (keptOr, _) = t.pruneInfo(orCond)
    assert(keptOr <= 2)
    assert(sortedRows(t.readWhere(orCond)) === sortedRows(t.read().where(orCond)))
    // arithmetic over the column is not a supported stats shape → all files
    val (keptUnk, _) = t.pruneInfo("id % 97 = 3")
    assert(keptUnk === total)
    assert(sortedRows(t.readWhere("id % 97 = 3")) ===
      sortedRows(t.read().where("id % 97 = 3")))
  }

  test("null-count stats drive IS NULL; comparisons skip all-null files") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1L, Some("a")), (2L, Some("b"))).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, None: Option[String]), (4L, None: Option[String]))
      .toDF("id", "v").coalesce(1))
    t.collectStats()
    val (keptNull, total) = t.pruneInfo("v IS NULL")
    assert(total === 2 && keptNull === 1)
    assert(t.readWhere("v IS NULL").count() === 2)
    // a comparison can never match the all-null file
    val (keptCmp, _) = t.pruneInfo("v = 'a'")
    assert(keptCmp === 1)
    assert(sortedRows(t.readWhere("v = 'a'")) === sortedRows(t.read().where("v = 'a'")))
    val (keptNotNull, _) = t.pruneInfo("v IS NOT NULL")
    assert(keptNotNull === 1)
  }

  test("string prefix and equality skipping on string stats") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq("apple", "avocado", "banana", "cherry").toDF("w")
      .repartitionByRange(4, $"w"))
    t.collectStats()
    val (kept, total) = t.pruneInfo("w = 'banana'")
    assert(kept < total)
    assert(t.readWhere("w = 'banana'").count() === 1)
    val (keptPre, _) = t.pruneInfo("w LIKE 'a%'")
    // LIKE parses to a Like expression (unsupported) → conservative keep-all
    assert(keptPre === total)
    assert(sortedRows(t.readWhere("startswith(w, 'a')")) ===
      sortedRows(t.read().where("startswith(w, 'a')")))
  }

  test("no collected stats → no pruning, reads stay correct") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(100).toDF("id").repartitionByRange(5, $"id"))
    val (kept, total) = t.pruneInfo("id < 10")
    assert(kept === total)
    assert(t.readWhere("id < 10").count() === 10)
  }

  test("fully-pruned predicate returns empty with the right schema") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s"))
    t.collectStats()
    val out = t.readWhere("id > 1000000")
    assert(out.columns.toSeq === Seq("id", "s"))
    assert(out.count() === 0)
  }

  test("carried partition subdirs after a pruned merge reuse base-dir stats") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "p", "v"), partitionBy = Seq("p"))
    // pruned merge touches only p=a; p=b and p=c carry as subdir references
    t.merge(Seq((1L, "a", 99.0)).toDF("id", "p", "v"),
      "source.id == updates.id", partitionBy = Seq("p"))
    t.collectStats()
    // post-merge values: p=a → 99, p=b → 20, p=c → 30; only b fails v>=25
    val (kept, total) = t.pruneInfo("v >= 25.0")
    assert(kept === 2 && total === 3,
      s"expected pruning across carried entries, kept=$kept total=$total")
    assert(sortedRows(t.readWhere("v >= 25.0")) ===
      sortedRows(t.read().where("v >= 25.0")))
    // partition-column predicate prunes through the same stats
    val (keptP, _) = t.pruneInfo("p = 'c'")
    assert(keptP === 1)
    assert(t.readWhere("p = 'c'").select("id").as[Long].collect().toSeq === Seq(3L))
  }

  test("compactSmall rewrites only small-file entries; healthy dirs carry untouched") {
    val t = ManagedTable(spark, tmp() + "/t")
    // healthy dir: one well-sized file (incompressible md5 payload)
    t.write(spark.range(10000)
      .selectExpr("id", "md5(CAST(id AS STRING)) AS pad").coalesce(1))
    // five tiny appended batches (streaming-shaped small-file tail)
    (1 to 5).foreach { i =>
      t.append(spark.range(100000 + i * 10, 100000 + i * 10 + 5)
        .selectExpr("id", "md5(CAST(id AS STRING)) AS pad").coalesce(1))
    }
    val before = t.read().collect().map(_.toString).sorted.toSeq
    def files(dir: String) = graft.common.FsUtils.listDataFiles(spark, dir)
      .map(f => (f.getPath.toString, f.getLen)).sortBy(_._1)
    val healthyFiles = files(dataDirOf(t.path, 0))
    val v = t.compactSmall(targetBytes = 64 * 1024)
    assert(t.currentVersion.contains(v))
    // data unchanged
    assert(t.read().collect().map(_.toString).sorted.toSeq === before)
    // healthy dir untouched, byte-identical, still referenced
    assert(files(dataDirOf(t.path, 0)) === healthyFiles)
    // the five tiny dirs collapsed into one entry: total data files shrink
    val (_, total) = t.pruneInfo("id >= 0")
    assert(total === 2, s"expected healthy + 1 compacted entry, got $total files")
    // a second compaction is a no-op commit: the compacted dir is still
    // below target but already a single file — no churn
    val before2 = t.read().count()
    t.compactSmall(targetBytes = 64 * 1024)
    assert(t.read().count() === before2)
    val (_, total2) = t.pruneInfo("id >= 0")
    assert(total2 === 2)
  }

  test("schema drift across appends: stats prune per dir, missing columns stay null") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(100).selectExpr("id").coalesce(1))
    // later append carries an extra column the first dir lacks
    t.append(spark.range(100, 200).selectExpr("id", "id * 1.5 AS extra").coalesce(1))
    t.collectStats()
    // predicate on the drifted column: dir 1 has no `extra` stats column →
    // conservatively kept; dir 2 prunes by range
    val (kept, total) = t.pruneInfo("extra > 1000.0")
    assert(total === 2 && kept <= 2)
    assert(t.readWhere("extra > 1000.0").count() === 0)
    val out = t.readWhere("extra >= 150.0 AND extra < 160.0")
    assert(out.columns.toSet === Set("id", "extra"))
    assert(out.count() === t.read().where("extra >= 150.0 AND extra < 160.0").count())
    // predicate on the shared column prunes across BOTH dirs
    val (keptId, _) = t.pruneInfo("id < 50")
    assert(keptId === 1)
  }

  test("timestamp range predicates prune a time-clustered table") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(365)
      .selectExpr("id", "timestampadd(DAY, CAST(id AS INT), TIMESTAMP '2024-01-01 00:00:00') AS ts")
      .repartitionByRange(12, $"ts"))
    t.collectStats()
    val cond = "ts >= TIMESTAMP '2024-06-01 00:00:00' AND ts < TIMESTAMP '2024-07-01 00:00:00'"
    val (kept, total) = t.pruneInfo(cond)
    assert(total === 12 && kept <= 3)
    assert(sortedRows(t.readWhere(cond)) === sortedRows(t.read().where(cond)))
  }

  test("null-safe equality prunes identically in both literal orders") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(Seq((1L, Some("a")), (2L, Some("b"))).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, None: Option[String])).toDF("id", "v").coalesce(1))
    t.collectStats()
    // `NULL <=> v` used to fall through to the EqualTo rewrite, emit
    // min <= NULL (always null), and wrongly prune EVERY file
    assert(t.readWhere("NULL <=> v").count() === 1)
    assert(t.readWhere("v <=> NULL").count() === 1)
    assert(t.pruneInfo("NULL <=> v") === t.pruneInfo("v <=> NULL"))
  }

  test("kept lists over graft.prune.maxFiles skip pruning, results unchanged") {
    // the driver never collects an unbounded path list: when more files
    // than the cap survive the stats filter, the entry reads unpruned
    // (Spark enumerates the dir itself) and pruneInfo reports kept=total
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(1000).selectExpr("id", "id * 3 AS v")
      .repartitionByRange(10, $"id"))
    t.collectStats()
    val cond = "id >= 100" // survives in 9 of 10 files
    val expected = sortedRows(t.read().where(cond))
    spark.conf.set("graft.prune.maxFiles", "4")
    try {
      val (kept, total) = t.pruneInfo(cond)
      assert(total === 10 && kept === 10, "over-cap selection must not prune")
      assert(sortedRows(t.readWhere(cond)) === expected)
      // a selective predicate under the cap still prunes
      val (keptSel, _) = t.pruneInfo("id < 100")
      assert(keptSel <= 2)
      assert(sortedRows(t.readWhere("id < 100")) ===
        sortedRows(t.read().where("id < 100")))
    } finally spark.conf.unset("graft.prune.maxFiles")
    // cap lifted: the same predicate prunes the one dead file again
    assert(t.pruneInfo(cond)._1 === 9)
  }
}

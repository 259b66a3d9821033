package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Iceberg-style bucket transform on [[ManagedTable]] (`setBucket`):
  * hidden `__gbucket = pmod(hash(key), n)` hive partition, structural
  * point-lookup pruning, bucket-pruned merges, bucket-aware compaction. */
class BucketTransformSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-bucket").toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def bucketDirs(dir: String): Seq[String] =
    childDirs(dir)
      .filter(_.startsWith(ManagedTable.BucketCol + "="))

  private def dataDirs(path: String): Seq[String] =
    childDirs(path)
      .filter(_.startsWith("d")).map(d => s"$path/$d")

  test("bucketed point lookup matches the plain read and plans a partition filter") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t.write(spark.range(4000).selectExpr("id AS k", "id * 3 AS v").repartition(4))
    // the write laid out hidden bucket dirs...
    assert(bucketDirs(dataDirs(t.path).head).size === 8)
    // ...that public reads never surface
    assert(t.read().columns.toSeq === Seq("k", "v"))
    val q = t.readWhere("k = 1234")
    assert(q.columns.toSeq === Seq("k", "v"))
    assert(sortedRows(q) === sortedRows(t.read().where($"k" === 1234)))
    // evidence the isin reached the scan as a PARTITION filter (pruned at
    // planning time, not per-row)
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.contains(ManagedTable.BucketCol),
      s"expected a ${ManagedTable.BucketCol} partition filter in:\n$plan")
    // IN and reversed-equality shapes prune too; range predicates read all
    assert(sortedRows(t.readWhere("k IN (7, 9)")) ===
      sortedRows(t.read().where($"k".isin(7, 9))))
    assert(sortedRows(t.readWhere("10 = k")) ===
      sortedRows(t.read().where($"k" === 10)))
    assert(sortedRows(t.readWhere("k < 5")) ===
      sortedRows(t.read().where($"k" < 5)))
  }

  test("bucket ids computed for literals match the write-side hash exactly") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 16, org.apache.spark.sql.types.LongType)
    val df = spark.range(500).selectExpr("id * 17 AS k", "id AS v")
    t.write(df)
    // every key must be found by its point lookup (a literal hashed into
    // the wrong bucket would prune away the real row — silent wrong
    // results, the worst failure mode of this feature)
    val keys = df.select("k").as[Long].collect()
    for (k <- keys.take(50))
      assert(t.readWhere(s"k = $k").count() === 1L, s"lost key $k")
    // string keys: cast/coercion path differs from longs
    val s = ManagedTable(spark, tmp() + "/s")
    s.setBucket("name", 8, org.apache.spark.sql.types.StringType)
    s.write(Seq(("alpha", 1), ("beta", 2), ("gamma", 3), ("delta", 4))
      .toDF("name", "v"))
    for (n <- Seq("alpha", "beta", "gamma", "delta"))
      assert(s.readWhere(s"name = '$n'").count() === 1L, s"lost key $n")
  }

  test("merge on the bucket key rewrites only touched buckets") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t.write(spark.range(1000).selectExpr("id AS k", "CAST(0 AS LONG) AS v"))
    val updates = Seq((3L, 100L), (700L, 100L), (2000L, 100L)).toDF("k", "v")
    t.merge(updates, "source.k == updates.k")
    // correctness: two updates landed, one insert, everything else intact
    assert(t.read().count() === 1001L)
    assert(t.read().where($"v" === 100L).count() === 3L)
    assert(sortedRows(t.readWhere("k = 3")) === Seq("[3,100]"))
    assert(sortedRows(t.readWhere("k = 500")) === Seq("[500,0]"))
    // evidence of pruning: the merge's fresh dir holds only the buckets
    // the three keys hash into (<= 3 of 8), not a full rewrite
    val newest = dataDirs(t.path).maxBy(d => new org.apache.hadoop.fs.Path(d)
      .getName.stripPrefix("d").takeWhile(_.isDigit).toLong)
    val touched = bucketDirs(newest)
    assert(touched.nonEmpty && touched.size <= 3,
      s"expected <=3 touched bucket dirs, got ${touched.size} in $newest")
    // a non-key-equality merge falls back to the full rewrite, correctly
    val t2 = ManagedTable(spark, tmp() + "/t2")
    t2.setBucket("k", 4, org.apache.spark.sql.types.LongType)
    t2.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    t2.merge(Seq((1L, "z")).toDF("k", "s"), "source.s == updates.s")
    assert(t2.read().count() === 3L) // no s-match: the row appends
  }

  test("applyChanges on the bucket key rewrites only touched buckets") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t.write(spark.range(400).selectExpr("id AS k", "CAST(0 AS LONG) AS v"))
    val changes = Seq(
      (7L, 99L, "U", 1L),   // update an existing key
      (900L, 5L, "I", 1L),  // insert a fresh key
      (13L, 0L, "D", 1L)    // delete an existing key
    ).toDF("k", "v", "op", "seq")
    t.applyChanges(changes, "source.k == updates.k", "op", "seq")
    assert(t.read().count() === 400L) // +1 insert, -1 delete
    assert(sortedRows(t.readWhere("k = 7")) === Seq("[7,99]"))
    assert(t.readWhere("k = 13").count() === 0L)
    assert(sortedRows(t.readWhere("k = 900")) === Seq("[900,5]"))
    val newest = dataDirs(t.path).maxBy(d => new org.apache.hadoop.fs.Path(d)
      .getName.stripPrefix("d").takeWhile(_.isDigit).toLong)
    val touched = bucketDirs(newest)
    assert(touched.nonEmpty && touched.size <= 3,
      s"expected <=3 touched bucket dirs, got ${touched.size}")
  }

  test("a merge keyed on a PREFIX-named column never bucket-prunes") {
    // bucket key is "k"; the merge keys on "kid", whose matches can cross
    // buckets — a naive substring check would claim partition stability
    // and strand the old row (duplicate rows after merge)
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t.write(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "kid", "s"))
    t.merge(Seq((3L, 10L, "z")).toDF("k", "kid", "s"),
      "source.kid == updates.kid")
    // kid=10 matched: old (1,10,a) leaves, (3,10,z) lands — 2 rows total
    assert(t.read().count() === 2L)
    assert(sortedRows(t.read().where($"kid" === 10L)) === Seq("[3,10,z]"))
  }

  test("a type-drifted batch buckets at the spec's canonical type") {
    // table keyed INT; the merge batch arrives with a LONG key column.
    // Without the canonical-type cast, hash(5L) != hash(5: Int) would
    // compute the wrong touched buckets: the old row survives in a
    // carried dir while the update inserts elsewhere — silent duplicates.
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 8, org.apache.spark.sql.types.IntegerType)
    t.write(spark.range(100).selectExpr("CAST(id AS INT) AS k", "CAST(0 AS LONG) AS v"))
    t.merge(Seq((5L, 99L)).toDF("k", "v"), "source.k == updates.k")
    assert(t.read().count() === 100L) // updated, NOT duplicated
    assert(t.read().where($"k" === 5).collect().map(_.getLong(1)).toSeq === Seq(99L))
    // and the lookup literal hashes to the same canonical bucket
    assert(t.readWhere("k = 5").count() === 1L)
  }

  test("an equality under OR never claims partition stability") {
    // source.k == updates.k OR source.j == updates.j: the j-arm can match
    // rows in OTHER buckets than the update key's — bucket pruning here
    // would strand the j-matched row in a carried dir (stale + duplicate)
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t.write(Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("k", "j", "s"))
    t.merge(Seq((1L, 200L, "z")).toDF("k", "j", "s"),
      "source.k == updates.k OR source.j == updates.j")
    // both old rows match (k=1 via k-arm, k=2 via j=200) → exactly 1 row
    assert(sortedRows(t.read()) === Seq("[1,200,z]"))
    // a top-level AND with extra arms still prunes and stays correct
    val t3 = ManagedTable(spark, tmp() + "/t3")
    t3.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t3.write(Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("k", "j", "s"))
    t3.merge(Seq((1L, 100L, "z")).toDF("k", "j", "s"),
      "source.k == updates.k AND source.j == updates.j")
    assert(sortedRows(t3.read()).toSet === Set("[1,100,z]", "[2,200,b]"))
  }

  test("re-bucketing a laid-out table is refused until the layout is cleared") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 4, org.apache.spark.sql.types.LongType)
    t.write(spark.range(50).selectExpr("id AS k", "id AS v"))
    t.setBucket("k", 4, org.apache.spark.sql.types.LongType) // idempotent: ok
    // a different n (or column/type) would mis-prune the stored values
    intercept[IllegalArgumentException] {
      t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    }
    // the documented migration recipe
    t.dropBucket()
    t.optimize() // materializes an unbucketed layout
    t.setBucket("k", 8, org.apache.spark.sql.types.LongType)
    t.append(spark.range(50, 60).selectExpr("id AS k", "id AS v"))
    assert(t.read().count() === 60L)
    assert(t.readWhere("k = 7").count() === 1L)
    assert(t.readWhere("k = 55").count() === 1L)
  }

  test("pre-bucket dirs stay readable; optimize materializes the layout") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.write(spark.range(100).selectExpr("id AS k", "id AS v")) // unbucketed
    t.setBucket("k", 4, org.apache.spark.sql.types.LongType)
    t.append(spark.range(100, 200).selectExpr("id AS k", "id AS v"))
    // mixed-age snapshot: lookups on both sides correct
    assert(t.readWhere("k = 50").count() === 1L)  // legacy dir, unpruned
    assert(t.readWhere("k = 150").count() === 1L) // bucketed dir, pruned
    assert(t.read().count() === 200L)
    t.optimize()
    assert(bucketDirs(dataDirs(t.path)
      .maxBy(d => new org.apache.hadoop.fs.Path(d).getName
        .stripPrefix("d").takeWhile(_.isDigit).toLong)).size === 4)
    assert(t.readWhere("k = 50").count() === 1L)
    assert(t.read().count() === 200L)
  }

  test("compactSmall folds bucketed appends into one file per bucket") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 4, org.apache.spark.sql.types.LongType)
    for (i <- 0 until 5)
      t.append(spark.range(i * 50, (i + 1) * 50).selectExpr("id AS k", "id AS v")
        .repartition(2))
    val before = t.read().count()
    t.compactSmall()
    assert(t.read().count() === before)
    assert(t.readWhere("k = 123").count() === 1L)
    val newest = dataDirs(t.path).maxBy(d => new org.apache.hadoop.fs.Path(d)
      .getName.stripPrefix("d").takeWhile(_.isDigit).toLong)
    val files = bucketDirs(newest).flatMap(b =>
      graft.common.FsUtils.listFiles(spark, s"$newest/$b")
        .filter(_.endsWith(".parquet")))
    assert(files.size <= 4, s"expected <=1 file per bucket, got ${files.size}")
  }

  test("reserved column, clone carries the spec, dropBucket ends the layout") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 4, org.apache.spark.sql.types.LongType)
    intercept[IllegalArgumentException] {
      t.write(Seq((1L, 2)).toDF("k", ManagedTable.BucketCol))
    }
    t.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    t.setCheck("k_pos", "k > 0")
    val c = t.cloneTo(tmp() + "/clone")
    assert(c.bucketSpec === Some(ManagedTable.BucketSpec("k", 4, org.apache.spark.sql.types.LongType)))
    assert(c.checks.keySet === Set("k_pos"))
    c.append(Seq((3L, "c")).toDF("k", "s"))
    assert(c.readWhere("k = 3").count() === 1L)
    // dropBucket: future writes unbucketed, existing bucketed dirs fine
    t.dropBucket()
    assert(t.bucketSpec.isEmpty)
    t.append(Seq((9L, "z")).toDF("k", "s"))
    assert(t.read().count() === 3L)
    assert(t.readWhere("k = 1").count() === 1L)
    // a bucketed table refuses to be a raw file-glob stream source
    val b = ManagedTable(spark, tmp() + "/b")
    b.setBucket("k", 2, org.apache.spark.sql.types.LongType)
    b.write(Seq((1L, "a")).toDF("k", "s"))
    intercept[IllegalArgumentException] { b.streamAppends() }
  }

  test("renaming or dropping the bucket key is refused while the spec is set") {
    val t = ManagedTable(spark, tmp() + "/t")
    t.setBucket("k", 4, org.apache.spark.sql.types.LongType)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // silently un-bucketing new data (batches would stop carrying the key
    // under its spec name) must be loud — dropBucket() first
    intercept[IllegalArgumentException] { t.renameColumn("k", "kk") }
    intercept[IllegalArgumentException] { t.dropColumn("K") } // case-blind
    // non-key columns rename/drop freely
    t.renameColumn("s", "s2")
    assert(t.read().schema.fieldNames.toSeq.sorted === Seq("k", "s2"))
    // after dropBucket the key is an ordinary column again
    t.dropBucket()
    t.renameColumn("k", "kk")
    assert(t.readWhere("kk = 1").count() === 1L)
  }
}

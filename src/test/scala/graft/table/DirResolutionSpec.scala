package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_date}

import graft.SparkSuite

/** A data dir resolves in process: its files from one listing, its schema
  * from one footer, its partition values parsed from its paths. No read
  * runs a schema-inference job, in a fresh process or a warm one, and a
  * read's schema and rows are those Spark's own parquet inference gives. */
class DirResolutionSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-resolve").toString + "/t"

  /** A table over `n` parquet dirs written outside the engine — so no dir
    * of it has been resolved in this JVM — and one hand-written full log
    * record, the form pre-delta logs hold. */
  private def coldTable(n: Int, partitioned: Boolean): ManagedTable = {
    val root = tmp()
    val dirs = (0 until n).map { i =>
      val d = s"$root/d$i-cold"
      val df = spark.range(i * 6, i * 6 + 6).coalesce(1)
        .selectExpr("id", "CAST(id % 3 AS STRING) AS k")
      (if (partitioned) df.write.partitionBy("k") else df.write).parquet(d)
      d
    }
    Files.createDirectories(Paths.get(root, "_graft_log"))
    Files.writeString(Paths.get(root, "_graft_log", "0.json"),
      s"""{"version":0,"timestamp":0,"dirs":[${dirs.map(d => s""""$d"""").mkString(",")}]}""")
    ManagedTable(spark, root)
  }

  Seq(40 -> false, 10 -> true).foreach { case (n, partitioned) =>
    val shape = if (partitioned) "partitionBy" else "plain"
    test(s"a cold read of $n $shape dirs runs no inference job") {
      val cold1 = coldTable(n, partitioned)
      val (schema, schemaJobs) = jobsDuring(cold1.read().schema)
      assert(schemaJobs === 0)
      val t = coldTable(n, partitioned)
      val (cold, coldJobs) = jobsDuring(t.read().count())
      val (warm, warmJobs) = jobsDuring(t.read().count())
      assert(coldJobs === warmJobs)
      assert(cold === 6L * n && warm === cold)
      val dir = t.manifestAt(0).get.entries.head.dir
      assert(schema === spark.read.parquet(dir).schema)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  /** `df` written as a one-dir table: the read plans with no job and gives
    * the schema and rows `spark.read.parquet` infers from that dir. */
  private def assertInferred(df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val t = ManagedTable(spark, tmp())
    t.write(df, partitionBy)
    val (read, jobs) = jobsDuring(t.read())
    assert(jobs === 0)
    val inferred = spark.read.parquet(t.manifestAt(0).get.entries.head.dir)
    assert(read.schema === inferred.schema)
    assert(rows(read) === rows(inferred))
  }

  test("a read's schema is the one parquet inference gives, for every type") {
    assertInferred(spark.sql("""SELECT id,
        TIMESTAMP '2024-05-01 12:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
        CAST(id AS DECIMAL(12, 3)) AS amount,
        CAST(concat('b', id) AS BINARY) AS raw,
        array(id, id + 1) AS xs,
        map(concat('k', id), id) AS kv,
        named_struct('a', id, 'b', named_struct('c', array(concat('s', id)))) AS st
      FROM range(3)"""))
  }

  test("partition columns are typed and valued as parquet inference types them") {
    // int-looking strings read back as ints
    assertInferred(Seq(("1", 1), ("02", 2), ("30", 3)).toDF("k", "x"), Seq("k"))
    // the default (null) partition next to a string one
    assertInferred(Seq((Some("a"), 1), (None, 2)).toDF("k", "x"), Seq("k"))
    assertInferred(Seq(("2024-02-29", 1), ("1970-01-01", 2)).toDF("s", "x")
      .select(to_date(col("s")).as("k"), col("x")), Seq("k"))
    assertInferred(Seq(("é", 1), ("日本語", 2), ("a😀b", 3)).toDF("k", "x"), Seq("k"))
    // two levels, the inner one the hidden bucket column's shape
    assertInferred(Seq(("a", 1, 7), ("b", 2, 8)).toDF("k", "x", "__gb"), Seq("k", "__gb"))
  }

  test("read() of a table with deletion vectors plans with no Spark job") {
    val t = ManagedTable(spark, tmp())
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    t.deleteVectorized("id = 2")
    t.updateVectorized("id = 3", Map("v" -> "'C'"))
    val (df, jobs) = jobsDuring(t.read())
    assert(jobs === 0)
    assert(df.as[(Int, String)].collect().sortBy(_._1).toSeq === Seq((1, "a"), (3, "C")))
  }
}

package graft.table

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** [[ManagedTable.partitionDirNames]] names partition dirs in process; a
  * real `partitionBy` write is the oracle: for every value set, the names
  * it computes from the collected values equal the dirs the write made. */
class PartitionDirNameSpec extends SparkSuite {
  import spark.implicits._

  /** The dir names a `partitionBy("k")` write of `df` makes, and the
    * names computed from `df`'s collected `k` values. */
  private def bothNames(df: DataFrame): (Set[String], Set[String]) = {
    val dir = Files.createTempDirectory("graft-pname").toString + "/w"
    df.withColumn("one", org.apache.spark.sql.functions.lit(1))
      .write.partitionBy("k").parquet(dir)
    val written = childDirs(dir).filter(_.startsWith("k=")).toSet
    val computed = ManagedTable.partitionDirNames(spark, "k",
      df.schema("k").dataType, df.select(col("k")).collect().toSeq.map(_.get(0)))
    (written, computed)
  }

  private def assertSame(df: DataFrame): Unit = {
    val (written, computed) = bothNames(df)
    assert(computed === written)
  }

  // the characters Spark escapes, hex digits (escaped-looking values),
  // control characters, plain ASCII and non-ASCII letters, CJK and emoji
  // (outside the BMP), which `escapePathName` leaves as they are
  private val cpGen: Gen[Int] = Gen.frequency(
    4 -> Gen.oneOf("%'=/:#".map(_.toInt)),
    2 -> Gen.oneOf("0123456789ABCDEFabcdef".map(_.toInt)),
    3 -> Gen.choose(0x20, 0x7E),
    1 -> Gen.choose(0x01, 0x1F),
    2 -> Gen.choose(0xA0, 0x24F),
    1 -> Gen.choose(0x4E00, 0x4FFF),
    1 -> Gen.choose(0x1F600, 0x1F64F))

  private val strGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    cps <- Gen.listOfN(n, cpGen)
  } yield new String(cps.toArray, 0, cps.length)

  test("strings with escaped characters, empty strings and nulls") {
    val values = (0 until 300).flatMap(i =>
      strGen.apply(Gen.Parameters.default, Seed(11L + i))).map(Option(_)) ++
      Seq(Some(""), None, Some("%"), Some("%25"), Some("O'Brien"),
        Some("a=b/c:d#e"), Some(" lead"), Some("del" + 0x7f.toChar),
        Some("é"), Some("日本語"), Some("a😀b"))
    assertSame(values.toDF("k"))
  }

  test("longs and decimals, nulls included") {
    assertSame(Seq(Some(0L), Some(-1L), Some(Long.MinValue), Some(Long.MaxValue),
      Some(42L), None).toDF("k"))
    assertSame(Seq("1.50", "-0.01", "0", "12345678.99", null).toDF("s")
      .select(col("s").cast("decimal(10,2)").as("k")))
  }

  test("dates, and timestamps under a non-UTC session time zone") {
    assertSame(Seq("2024-02-29", "1970-01-01", "0001-01-01", "9999-12-31", null)
      .toDF("s").select(col("s").cast("date").as("k")))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val ts = Seq("2024-03-10 02:30:00", "2024-11-03 01:30:00.123456",
        "1969-12-31 23:59:59.5", "2000-01-01 00:00:00", null).toDF("s")
        .select(col("s").cast("timestamp").as("k"))
      val (written, computed) = bothNames(ts)
      assert(computed === written)
      // the names are local times of the session zone, not UTC
      assert(written.exists(_.startsWith("k=2000-01-01 00%3A00%3A00")))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }
}

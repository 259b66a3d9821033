package graft.table

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}

import org.scalatest.funsuite.AnyFunSuite

/** Partition values are read back from `pcol=value` dir names (catalog
  * view predicates in [[ManagedTable.registerAs]], partition-column stats
  * in [[DataSkipping]]) with Spark's `unescapePathName`, which must invert
  * the `escapePathName` Spark wrote the dir names with. Plain ScalaCheck
  * generators with fixed seeds, like [[StringBoundsPropertySpec]]. */
class PartitionPathEscapePropertySpec extends AnyFunSuite {

  // the characters Spark escapes, a stray `%` followed by hex digits (an
  // already-escaped-looking value), plain ASCII and non-ASCII code points
  private val cpGen: Gen[Int] = Gen.frequency(
    4 -> Gen.oneOf("%'=/:#".map(_.toInt)),
    2 -> Gen.oneOf("0123456789ABCDEFabcdef".map(_.toInt)),
    3 -> Gen.choose(0x20, 0x7E),
    1 -> Gen.choose(0x01, 0x1F),
    2 -> Gen.choose(0x80, 0x7FF),
    2 -> Gen.choose(0x800, 0xD7FF),
    1 -> Gen.choose(0x10000, 0x10FFFF))

  private val strGen: Gen[String] = for {
    n <- Gen.choose(0, 16)
    cps <- Gen.listOfN(n, cpGen)
  } yield new String(cps.toArray, 0, cps.length)

  test("unescapePathName inverts escapePathName over hostile partition values") {
    val values = (0 until 2000).flatMap(i =>
      strGen.apply(Gen.Parameters.default, Seed(7L + i))) ++
      Seq("", "%", "%%", "%2", "%25", "O'Brien", "a=b/c:d#e", "é%2F中")
    assert(values.size > 2000)
    values.foreach { s =>
      assert(unescapePathName(escapePathName(s)) === s, s"value: $s")
    }
  }
}

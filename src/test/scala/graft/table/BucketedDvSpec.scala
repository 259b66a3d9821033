package graft.table

import java.nio.file.Files

import org.apache.spark.sql.types.IntegerType

import graft.SparkSuite

/** Deletion-vector DML on a bucketed table: the matched rows are read
  * without the hidden bucket column, which [[ManagedTable.writeData]]
  * recomputes for the appended images. */
class BucketedDvSpec extends SparkSuite {
  import spark.implicits._

  test("updateVectorized on a bucketed table appends bucketed images and matches its model") {
    val t = ManagedTable(spark,
      Files.createTempDirectory("graft-bucket-dv").toString + "/t")
    t.setBucket("id", 4, IntegerType)
    t.write((1 to 8).map(i => (i, s"v$i")).toDF("id", "v"))
    t.updateVectorized("id = 3", Map("v" -> "'upd'"))
    assert(t.read().as[(Int, String)].collect().sortBy(_._1).toSeq ===
      (1 to 8).map(i => (i, if (i == 3) "upd" else s"v$i")))
    assert(t.readWhere("id = 3").as[(Int, String)].collect().toSeq === Seq((3, "upd")))
  }
}

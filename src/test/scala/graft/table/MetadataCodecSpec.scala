package graft.table

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** The format of the metadata files a [[ManagedTable]] writes, pinned
  * through the table's own API: golden log records written by a fixed
  * commit sequence, hand-written records of every form the log has held
  * (vacuum's checkpoint shadows included), and the properties file. */
class MetadataCodecSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-codec").toString + "/t"

  private def writeLog(root: String, name: String, body: String): Unit = {
    Files.createDirectories(Paths.get(root, "_graft_log"))
    Files.writeString(Paths.get(root, "_graft_log", name), body)
  }

  // a quote, a backslash, a non-ASCII letter and a tab: the escaping must
  // not move
  private val odd = "w\"q\\é\tx"

  test("a commit sequence writes the golden log records byte for byte") {
    val root = tmp()
    spark.conf.set("graft.table.checkpointInterval", "5")
    val t = ManagedTable(spark, root)
    try {
      t.write(Seq(("p0", 0, 0), ("p1", 1, 10), ("p0", 3, 30)).toDF("part", "id", "v"),
        partitionBy = Seq("part"))
      t.append(Seq(("p0", 4, 40)).toDF("part", "id", "v"), partitionBy = Seq("part"),
        txn = Map("app1" -> 1L))
      t.merge(Seq(("p0", 0, -1)).toDF("part", "id", "v"), "source.id == updates.id",
        partitionBy = Seq("part"))
      t.renameColumn("v", odd)
      t.deleteVectorized("id = 3")
      t.append(Seq(("p1", 5, 50)).toDF("part", "id", odd), partitionBy = Seq("part"),
        txn = Map("app1" -> 2L, "app2" -> 7L))
      t.optimize(partitionBy = Seq("part"))
    } finally spark.conf.unset("graft.table.checkpointInterval")
    // commit times and the random suffixes of data and DV dirs vary
    val log = Paths.get(root, "_graft_log").toFile
    val written = log.listFiles().map { f =>
      f.getName -> Files.readString(f.toPath).replace(root, "<t>")
        .replaceAll("\"timestamp\":\\d+", "\"timestamp\":0")
        .replaceAll("-[0-9a-f]{8}(?=[\"/])", "")
    }.toMap
    val golden = Map(
      "0.json" -> """{"version":0,"timestamp":0,"dirs":["<t>/d0"],"op":"write"}""",
      "1.json" -> """{"version":1,"timestamp":0,"parent":0,"add":["<t>/d1"],"txn":{"app1":1},"op":"append"}""",
      "2.json" -> """{"version":2,"timestamp":0,"parent":1,"add":[{"dir":"<t>/d0/part=p1","base":"<t>/d0"},"<t>/d2"],"remove":["<t>/d0","<t>/d1"],"op":"merge"}""",
      "3.json" -> """{"version":3,"timestamp":0,"parent":2,"renames":[{"from":"v","to":"w\"q\\é\tx"}],"op":"renameColumn"}""",
      "4.json" -> """{"version":4,"timestamp":0,"parent":3,"dvAdd":["<t>/_graft_dv/dv4"],"op":"deleteVectorized"}""",
      "5.json" -> """{"version":5,"timestamp":0,"dirs":[{"dir":"<t>/d0/part=p1","base":"<t>/d0"},"<t>/d2","<t>/d5"],"dv":["<t>/_graft_dv/dv4"],"renames":[{"from":"v","to":"w\"q\\é\tx"}],"txn":{"app1":2,"app2":7},"op":"append"}""",
      "6.json" -> """{"version":6,"timestamp":0,"parent":5,"add":["<t>/d6"],"remove":[{"dir":"<t>/d0/part=p1","base":"<t>/d0"},"<t>/d2","<t>/d5"],"dvRemove":["<t>/_graft_dv/dv4"],"renames":[],"op":"optimize"}""",
      "_last_checkpoint" -> """{"version":6}""",
      "_optimize_watermark" -> """{"version":6}""")
    assert(written === golden)
    assert(t.read().orderBy("id").as[(Int, Int, String)].collect().toSeq ===
      Seq((0, -1, "p0"), (1, 10, "p1"), (4, 40, "p0"), (5, 50, "p1")))
  }

  test("old full records, entry objects, renames presence, txn folding and shadows decode") {
    val root = tmp()
    Seq((1, "x")).toDF("id", "v").write.parquet(s"$root/d0")
    Seq((2, "y", "a"), (3, "z", "b")).toDF("id", "v", "part")
      .write.partitionBy("part").parquet(s"$root/d1")
    Seq((4, "q")).toDF("id", "v").write.parquet(s"$root/d2")
    // versions 0 and 1 are all-full records from before the delta-encoded
    // log: no `op`
    writeLog(root, "0.json", s"""{"version":0,"timestamp":1000,"dirs":["$root/d0"]}""")
    writeLog(root, "1.json", s"""{"version":1,"timestamp":2000,"dirs":["$root/d0",""" +
      s"""{"dir":"$root/d1/part=a","base":"$root/d1"}],"renames":[{"from":"v","to":"w"}]}""")
    writeLog(root, "2.json", s"""{"version":2,"timestamp":3000,"parent":1,""" +
      s""""add":["$root/d2"],"txn":{"app":1},"op":"append"}""")
    writeLog(root, "3.json", s"""{"version":3,"timestamp":4000,"parent":2,""" +
      s""""renames":[],"txn":{"app":2,"other":5},"op":"optimize"}""")
    writeLog(root, "4.json", s"""{"version":4,"timestamp":5000,"parent":3,""" +
      s""""remove":["$root/d2"],"op":"delete"}""")
    // a vacuum-written shadow is read in place of its delta
    writeLog(root, "5.json", s"""{"version":5,"timestamp":6000,"parent":4,""" +
      s""""add":["$root/d2"],"op":"append"}""")
    writeLog(root, "5.checkpoint.json", s"""{"version":5,"timestamp":6000,""" +
      s""""dirs":["$root/d0"],"txn":{"app":3},"op":"append"}""")
    val t = ManagedTable(spark, root)
    val Seq(m0, m1, m2, m3, m4) = (0L to 4L).map(v => t.manifestAt(v).get)
    assert(m0 === ManagedTable.Manifest(0, 1000, Seq(ManagedTable.Entry(s"$root/d0", None))))
    assert(m1.entries.last === ManagedTable.Entry(s"$root/d1/part=a", Some(s"$root/d1")))
    assert(t.readVersion(1).orderBy("id").as[(Int, String, String)].collect().toSeq ===
      Seq((1, "x", null), (2, "y", "a")))
    // an absent `renames` inherits the parent's mapping; `[]` sets it empty
    assert(m2.renames === Seq("v" -> "w"))
    assert(m3.renames === Nil)
    assert(t.readVersion(3).columns.contains("v"))
    // txn markers fold across deltas: a delta carries its own markers only
    assert(m2.txn === Map("app" -> 1L))
    assert(m4.txn === Map("app" -> 2L, "other" -> 5L))
    assert(m4.entries.map(_.dir) === Seq(s"$root/d0", s"$root/d1/part=a"))
    assert(t.manifestAt(5).get.entries.map(_.dir) === Seq(s"$root/d0"))
    assert(t.lastTxn("app") === Some(3L) && t.read().count() === 1)
    assert(t.describeHistory().orderBy("version").select("operation").as[String]
      .collect().toSeq === Seq("", "", "append", "optimize", "delete", "append"))
  }

  test("_properties.json carrying checks and a bucket spec reads back equal") {
    val root = tmp()
    val t = ManagedTable(spark, root)
    t.write(Seq((1L, "a")).toDF("id", "v"))
    t.setCheck("positive", "id > 0")
    t.setCheck("q\"k", "v <> 'x\"y'")
    t.setBucket("id", 4, org.apache.spark.sql.types.LongType)
    t.setSchemaEnforced(true)
    val back = ManagedTable(spark, root)
    assert(back.checks === Map("positive" -> "id > 0", "q\"k" -> "v <> 'x\"y'"))
    assert(back.bucketSpec ===
      Some(ManagedTable.BucketSpec("id", 4, org.apache.spark.sql.types.LongType)))
    intercept[org.apache.spark.sql.AnalysisException] {
      back.append(Seq((2L, "b", 1)).toDF("id", "v", "extra"))
    }
    // the spaced form earlier versions wrote still reads
    writeLog(root, "_properties.json", """{"schemaEnforced":false,"checks":""" +
      """{"c": "id > 0"},"bucket":{"column":"id","n":8,"type":"bigint"}}""")
    assert(back.checks === Map("c" -> "id > 0"))
    assert(back.bucketSpec.map(_.n) === Some(8))
  }
}

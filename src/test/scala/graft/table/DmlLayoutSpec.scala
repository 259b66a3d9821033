package graft.table

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.IntegerType

import graft.SparkSuite

/** Every copy-on-write DML op on every table layout: the result equals a
  * plain-collection model of the op, and the commit either carried the
  * untouched partition or bucket dirs by reference ("pruned") or landed
  * one fresh dir ("rewrite"). */
class DmlLayoutSpec extends SparkSuite {
  import spark.implicits._

  private type Row3 = (Int, String, String)

  /** Twelve rows over three partitions; `p` is a function of `id`, so
    * every key the ops below use is partition-stable. */
  private val base: Seq[Row3] = (1 to 12).map(i => (i, s"p${i % 3}", s"v$i"))

  private def frame(rs: Seq[Row3]): DataFrame = rs.toDF("id", "p", "v")

  /** A two-entry table (write + append) in `layout`, and the
    * `partitionBy` its DML passes. */
  private def table(layout: String): (ManagedTable, Seq[String]) = {
    val t = ManagedTable(spark,
      Files.createTempDirectory("graft-dml").toString + "/t")
    if (layout == "bucketed") t.setBucket("id", 8, IntegerType)
    val pb = if (layout == "partitioned") Seq("p") else Nil
    t.write(frame(base.take(6)), pb)
    t.append(frame(base.drop(6)), pb)
    (t, pb)
  }

  private def rows(t: ManagedTable): Seq[Row3] =
    t.read().select("id", "p", "v").as[Row3].collect().toSeq.sortBy(_._1)

  /** How the commit `run` made laid out its snapshot. */
  private def shape(t: ManagedTable)(run: => Long): String = {
    val before = t.manifestAt(t.currentVersion.get).get.entries
    val after = t.manifestAt(run).get.entries
    if (after.size == 1 && after.head.base.isEmpty && !before.contains(after.head))
      "rewrite"
    else if (after.exists(_.base.nonEmpty)) "pruned"
    else s"unexpected $after"
  }

  private val upserts: Seq[Row3] = Seq((1, "p1", "new"), (13, "p1", "ins"))

  /** (op, run against (table, partitionBy), model of the result). */
  private val ops: Seq[(String, (ManagedTable, Seq[String]) => Long,
      Seq[Row3] => Seq[Row3])] = Seq(
    ("merge upsert",
      (t, pb) => t.merge(frame(upserts), "source.id = updates.id", partitionBy = pb),
      rs => rs.filterNot(r => upserts.exists(_._1 == r._1)) ++ upserts),
    ("applyChanges",
      (t, pb) => t.applyChanges(
        Seq((1, "p1", "chg", "U", 1), (4, "p1", "x", "D", 1),
          (13, "p1", "ins", "I", 1), (13, "p1", "ins2", "U", 2))
          .toDF("id", "p", "v", "op", "seq"),
        "source.id = updates.id", "op", "seq", pb),
      rs => rs.filterNot(r => Set(1, 4, 13)(r._1)) ++
        Seq((1, "p1", "chg"), (13, "p1", "ins2"))),
    ("delete",
      (t, pb) => t.delete("id = 4", pb),
      rs => rs.filterNot(_._1 == 4)),
    ("replaceWhere",
      (t, pb) => t.replaceWhere(frame(Seq((4, "p1", "rep"))), "id = 4", pb),
      rs => rs.filterNot(_._1 == 4) :+ ((4, "p1", "rep"))),
    ("updateWhere",
      (t, pb) => t.updateWhere("id = 4", Map("v" -> "'upd'"), pb),
      rs => rs.map(r => if (r._1 == 4) r.copy(_3 = "upd") else r)))

  /** Expected commit shape per layout: partition pruning serves every op
    * on a partitioned table, bucket pruning every op on the bucketed one. */
  private def expectedShape(layout: String): String = layout match {
    case "partitioned" | "bucketed" => "pruned"
    case _ => "rewrite"
  }

  for (layout <- Seq("unpartitioned", "partitioned", "bucketed");
       (op, run, model) <- ops) {
    test(s"$op on the $layout table matches its model and commits " +
        s"the ${expectedShape(layout)}") {
      val (t, pb) = table(layout)
      assert(shape(t)(run(t, pb)) === expectedShape(layout))
      assert(rows(t) === model(base).sortBy(_._1))
    }
  }

  test("updateWhere assigning the bucket key takes the full rewrite and matches its model") {
    // a new key moves its row to another bucket, which the touched
    // buckets of the matched rows do not name; the assigned column
    // matches the key case-insensitively, as Spark resolves it
    val (t, pb) = table("bucketed")
    assert(shape(t)(t.updateWhere("id = 4", Map("ID" -> "40"), pb)) === "rewrite")
    assert(rows(t) === base.map(r => if (r._1 == 4) r.copy(_1 = 40) else r).sortBy(_._1))
  }

  test("a lift tick's table ops run a pinned number of Spark jobs") {
    // the unpartitioned upsert, the registry's insert-only merge and its
    // updateWhere, each on a fresh two-entry table: the rewrite core adds
    // no job to them (counts as measured before the core existed)
    def jobs(op: ManagedTable => Long): Int = {
      val t = table("unpartitioned")._1
      jobsDuring(op(t))._2
    }
    val upsert = jobs(_.merge(frame(upserts), "source.id == updates.id"))
    val insertOnly = jobs(_.merge(frame(Seq((1, "p1", "dup"), (14, "p2", "ins"))),
      "source.id == updates.id", upsert = false))
    val update = jobs(_.updateWhere("id = 4", Map("v" -> "'upd'")))
    assert((upsert, insertOnly, update) === ((2, 2, 1)))
  }

  test("pruned DML on the partitioned table runs a pinned number of Spark jobs") {
    // the upsert, delete and updateWhere of a partitioned tick, each on a
    // fresh two-entry table: partition dir names are computed in process,
    // so no marker-frame write job runs, and every dir resolves in process,
    // so no footer-inference job runs
    def jobs(op: (ManagedTable, Seq[String]) => Long): Int = {
      val (t, pb) = table("partitioned")
      jobsDuring(op(t, pb))._2
    }
    val upsert = jobs((t, pb) =>
      t.merge(frame(upserts), "source.id == updates.id", partitionBy = pb))
    val delete = jobs((t, pb) => t.delete("id = 4", pb))
    val update = jobs((t, pb) => t.updateWhere("id = 4", Map("v" -> "'upd'"), pb))
    assert((upsert, delete, update) === ((6, 5, 5)))
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize an sf1-equivalent dataset (VERDICT r8 #6) by replicating the
  * driver's sf0.1 testdata 10× with key-offsetting that preserves
  * referential integrity, so the TPC-H `q*` joins stay meaningful:
  * fact/dim keys shift by a per-replica stride on BOTH sides; the tiny
  * region/nation dims stay single-copy (exactly how TPC-H scales —
  * nations don't multiply with SF). Documents perturb per replica
  * (letter→digit translate) so the dedup family
  * sees genuinely new text, not 10× verbatim copies; embeddings nudge by
  * a per-replica epsilon so k-means cells don't degenerate into
  * identical-vector cliques.
  *
  * Output: target/sf1/<table>.parquet (gitignored scratch).
  * Run: sbt "Test/runMain graft.tools.MakeSf1 /root/testdata/sf0.1 target/sf1"
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val K = 10
    val S = 10000000L // key stride per replica — far above any sf0.1 key

    def rep(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until K).map(k => per(df, k)).reduce(_ unionByName _)

    def off(c: String, k: Int) = (col(c) + lit(k * S)).as(c)

    def save(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sf1] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val t = (n: String) => spark.read.parquet(s"$src/$n.parquet")
    // single-copy dims — TPC-H keeps region/nation fixed across SF
    save("region", t("region"))
    save("nation", t("nation"))
    save("customer", rep(t("customer")) { (d, k) =>
      d.select(off("c_custkey", k), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")) })
    save("supplier", rep(t("supplier")) { (d, k) =>
      d.select(off("s_suppkey", k), col("s_name"), col("s_nationkey"),
        col("s_acctbal")) })
    save("part", rep(t("part")) { (d, k) =>
      d.select(off("p_partkey", k), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")) })
    save("orders", rep(t("orders")) { (d, k) =>
      d.select(off("o_orderkey", k), off("o_custkey", k), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")) })
    save("lineitem", rep(t("lineitem")) { (d, k) =>
      d.select(off("l_orderkey", k), off("l_partkey", k), off("l_suppkey", k),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")) })
    save("events", rep(t("events")) { (d, k) =>
      d.select(off("event_id", k), col("ts"), off("user_id", k),
        col("event_type"), col("value"), col("props")) })
    save("documents", rep(t("documents")) { (d, k) =>
      val txt = if (k == 0) col("text")
        else translate(col("text"), "eao", f"${(k * 137) % 1000}%03d")
      d.select(off("doc_id", k), txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars")) })
    save("embeddings", rep(t("embeddings")) { (d, k) =>
      val emb = if (k == 0) col("embedding")
        else transform(col("embedding"),
          x => x + lit(k.toFloat * 0.003f) * cos(x * lit(k)))
      d.select(off("vec_id", k), emb.cast("array<float>").as("embedding"),
        col("label")) })
    spark.stop()
  }
}

package graft
/** Dev tool: print the formatted physical plan of one SparkEntry query.
  * Usage: runMain graft.Explain <queryName> [sfDir] [exec]
  *
  * With `exec`, the query is first run to completion through the very
  * `QueryExecution` that is then printed (rows discarded), so the plan is
  * the POST-EXECUTION AQE final plan — the only form that shows
  * whole-stage-codegen membership (`[codegen id : N]` in each operator's
  * detail block) and runtime-chosen join strategies; the pre-execution
  * form prints `isFinalPlan=false` with no codegen grouping. A write
  * (even to a noop sink) would plan and run its own `QueryExecution`,
  * leaving the printed one unexecuted. */
object Explain {
  def main(argv: Array[String]): Unit = {
    // `exec` is a flag wherever it appears, never the data dir
    val exec = argv.contains("exec")
    val args = argv.filterNot(_ == "exec")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (exec) df.queryExecution.toRdd.foreach(_ => ())
    df.explain("formatted")
    spark.stop()
  }
}

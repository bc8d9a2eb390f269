package graft

/** Dev utility: run ONE named [[SparkEntry.queries]] entry against a
  * testdata dir and print the result (and optionally the formatted
  * plan) — the single-query loop for iterating on an operator without
  * a full Verify pass. Usage:
  * `runMain graft.RunOne <sfDir> <queryName> [--plan]` */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val showPlan = args.contains("--plan")
    val spark = graft.core.SessionSetup.session(8, "WARN")
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (showPlan)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    df.show(50, truncate = false)
    println(f"[runone] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}

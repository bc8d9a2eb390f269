package graft.tools

/** Dev harness: dump `.explain("formatted")` for every named query (or
  * all of them) into a directory, one file per query, under Bench's
  * session ([[graft.core.SessionSetup]]) so the captured plan is the
  * one the bench actually times. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> [suffix] [q1,q2,...]
  * writes <outDir>/<query>_<suffix>.txt (suffix defaults to "before").
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').map(_.trim).filter(_.nonEmpty).toSet)
      else None
    only.foreach { names =>
      val unknown = names -- graft.SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: $unknown")
    }
    val spark = graft.core.SessionSetup.session(32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = graft.SparkEntry.queries.keySet.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] $name ok (${plan.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
      graft.core.SessionHygiene.flush(spark)
    }
    spark.stop()
  }
}

package graft

/** Dev tool: write `.explain("formatted")` for every gate query (or a filtered
  * subset) to a directory, under the same session config as [[Bench]] — the plan
  * evidence committed as `plans/rNN/<query>_<suffix>.txt`. Not a benchmark; plans
  * only (each query's DataFrame is built but never executed, so eager
  * plan-assembly collects run, actions do not).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PlanDump plans/r07 before [q1,q2]"`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: PlanDump <dir> <suffix> [names]"))
    val suffix = args.lift(1).getOrElse("before")
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
        try w.write(txt) finally w.close()
        System.err.println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}

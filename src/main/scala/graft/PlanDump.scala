package graft

/** Optimization-round measurement tool: dump `.explain("formatted")`
  * for the SPARK_GRAFT_ONLY-selected queries (default: all) into the
  * directory given by SPARK_GRAFT_PLAN_DIR (default plans/out), one
  * `<query>.txt` each. Same session config as [[Bench]] so the plans
  * are the benched plans. Lifecycle queries execute their side
  * effects while the final frame is being built — that is inherent to
  * dumping their read-side plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/out")
    val spark = Bench.session(cpus, sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected = SparkEntry.selectedQueries("plandump")
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      graft.operators.CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}

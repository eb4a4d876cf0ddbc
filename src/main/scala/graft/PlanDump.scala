package graft

/** Dump `.explain("formatted")` for named battery queries to files
  * (dev harness for the optimization-round plan evidence). Usage:
  *   runMain graft.PlanDump <outDir> <suffix> <query> [query ...]
  * writes `<outDir>/<query>_<suffix>.txt` per query. Queries that
  * build state inside the closure run their state-building side
  * effects first (the returned frame's plan is what's captured).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

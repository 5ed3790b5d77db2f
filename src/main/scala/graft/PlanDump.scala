package graft

/** Optimization-round measurement tool: writes `explain("formatted")`
  * for every declared query (or a comma-separated subset in arg 2) to
  * one file per query under the output dir (arg 1). Plans are built,
  * never executed — measured-dispatch operators may still run their
  * bounded sizing jobs while composing the frame, exactly as a real
  * caller would see. Used to produce the committed
  * `plans/r15/<query>_{before,after}.txt` evidence.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suffix = if (args.length > 2) args(2) else ""
    val names = if (args.length > 1 && args(1).nonEmpty)
      args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$n$suffix.txt"), plan)
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated allowlist for fast local iteration on a
    // single query; the driver never sets it, so its runs stay full.
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // per-query stderr timing: a long-board run must be observable
      // from outside (which query is live, what each one cost) — the
      // r9 organic-sf1 stall was diagnosable only via jstack
      System.err.println(s"[verify] start $name")
      val t0 = System.nanoTime()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        System.err.println(
          f"[verify] done  $name (${(System.nanoTime() - t0) / 1e9}%.1f s, $compiled compiled)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Scale-replayable digest forms for the oracle-environment-heavy
    // queries (queries.ScaleOracles): {name: {oracle, output}} — the
    // sf1 replay compares digest(base tables) vs digest(dumped
    // output) for these instead of the full-output oracle.
    val scaleJson = graft.queries.ScaleOracles.sql
      .map { case (k, (o, u)) =>
        s"${q(k)}: {${q("oracle")}: ${q(o)}, ${q("output")}: ${q(u)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scale_oracle_sql.json"), scaleJson)
    spark.stop()
  }
}

package perfbench

/** The traced run's per-layer metrics, named `<module>.<metric>`.
  * Every workload reports every name; a layer a workload does not
  * exercise reads 0. README.md maps each one to the end-to-end metric
  * and workload it should move.
  */
object Layers {

  val SessionKinds: Seq[String] = Seq("functions", "binary", "callgraph", "call_paths",
    "sequences", "callers", "recursion", "xrefs", "call_freq")
  /** Modules whose Spark jobs run in a timed phase (the importer runs
    * only in set-up). */
  val Modules: Seq[String] = Seq("search", "pipeline", "graph", "queries", "functions",
    "streaming")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio")) "ratio"
    else "count"

  def report(run: Run): Seq[(String, Double)] = {
    val t = run.trace.get
    def setupStep(step: String): Double = run.setupSpans.getOrElse(step, 0.0)
    /** Geometric mean over the cold types of their ops on one side,
      * so each type weighs once. */
    def scoped(scope: String): Double = {
      val byKind = run.ops.filter(o => o.scope == scope && Session.ColdKinds(o.kind))
        .groupBy(_.kind).map { case (k, v) => k -> v.map(_.seconds).toSeq }
      if (byKind.isEmpty) 0.0 else Stats.geomeanOfMedians(byKind)
    }
    val jobS = t.moduleJobSeconds
    val tot = t.runTotals
    val covered = t.runJobCovered
    val boardQ = Board.Queries.map { case (q, fam) => (q, fam, run.p50(q)) }
    val mb = 1048576.0

    Seq(
      "importer.read_s" -> setupStep("read"),
      "importer.save_s" -> setupStep("save"),
      "importer.load_s" -> setupStep("load"),
      "importer.graph_mb" -> run.layer.getOrElse("importer.graph_mb", 0.0),
      "importer.store_ratio" -> run.layer.getOrElse("importer.store_ratio", 0.0)) ++
    Modules.map(m => s"$m.job_s" -> jobS.getOrElse(m, 0.0)) ++
    SessionKinds.map(k => s"queries.${k}_p50_s" -> run.p50(k)) ++
    Seq(
      "queries.stats_s" -> run.p50("stats"),
      "search.strings_p50_s" -> run.p50("strings"),
      "queries.hot_scope_geomean_s" -> scoped("hot"),
      "queries.cold_scope_geomean_s" -> scoped("cold")) ++
    boardQ.groupBy(_._2).toSeq.sortBy(f => Board.Queries.indexWhere(_._2 == f._1))
      .map { case (fam, qs) => s"${fam}_s" -> qs.map(_._3).sum } ++
    boardQ.map { case (q, _, s) => s"board.${q}_s" -> s } ++
    Seq(
      "functions.memo_builds" -> run.memoRun._1.toDouble,
      "functions.memo_hits" -> run.memoRun._2.toDouble,
      "functions.setup_memo_builds" -> run.memoSetup._1.toDouble,
      "functions.setup_memo_hits" -> run.memoSetup._2.toDouble,
      "spark.jobs" -> t.runJobCount.toDouble,
      "spark.stages" -> tot.stages.toDouble,
      "spark.tasks" -> tot.tasks.toDouble,
      "spark.job_s" -> covered,
      "spark.driver_s" -> (run.runS - covered),
      "spark.task_cpu_s" -> tot.cpuNs / 1e9,
      "spark.gc_s" -> tot.gcMs / 1e3,
      "spark.shuffle_read_mb" -> tot.shuffleRead / mb,
      "spark.shuffle_write_mb" -> tot.shuffleWrite / mb,
      "spark.spill_mb" -> tot.spill / mb,
      "spark.input_mb" -> tot.input / mb,
      "spark.cached_mb" -> run.cachedMb,
      "spark.traced_run_s" -> run.runS)
  }
}

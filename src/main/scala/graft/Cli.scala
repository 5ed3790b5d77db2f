package graft

import org.apache.spark.sql.DataFrame

import graft.importer.{GraphStore, JsonImporter}
import graft.queries.GraphQueryEngine

/** Command-line facade mirroring the reference CLI surface
  * (src/cli.rs, README "Basic Usage") so a BinaryX-Graph user can run
  * the same commands against the Spark engine:
  *
  * {{{
  * graft.Cli --store /warehouse import json analysis.json
  * graft.Cli --store /warehouse import directory ./analyses
  * graft.Cli --store /warehouse query functions --pattern main [--binary sample.exe] [--limit 50] [--format table|csv|json]
  * graft.Cli --store /warehouse query strings --pattern "bitcoin wallet"
  * graft.Cli --store /warehouse query binary --binary-name sample.exe
  * graft.Cli --store /warehouse query callgraph main --max-depth 3
  * graft.Cli --store /warehouse query call-path main --show-paths|--show-sequences|--show-upward|--show-context
  * graft.Cli --store /warehouse query xrefs 0x401000
  * graft.Cli --store /warehouse query analytics components|pagerank|kcore|triangles|communities|reach|betweenness|closeness|shape|modularity|walks|bowtie|lcc|sparsify  (extension)
  * graft.Cli --store /warehouse database init|stats|export <dir>|clear --confirm
  * }}}
  *
  * Output defaults to a fixed-width `table` (the reference default,
  * cli.rs:66 `default_value = "table"`, rendered as in
  * commands/query.rs:166-183); `--format csv` and `--format json`
  * (JSON lines) are the alternatives. Every query takes `--limit`
  * (cli.rs:65,77, default 100).
  */
object Cli {

  private def opt(args: Seq[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Seq(`name`, v) => v }

  /** `--sample` for the sampled-centrality analytics: positive int,
    * default 1-in-8. */
  private def sampleOpt(args: Seq[String]): Int =
    opt(args, "--sample").map(s =>
      s.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"--sample must be a positive integer, got '$s'")))
      .getOrElse(8)

  /** Render collected rows in the reference's table shape: header,
    * dash rule, fixed-width columns sized to the widest cell. */
  private[graft] def renderTable(header: Seq[String], rows: Seq[Seq[String]]): String = {
    val widths = header.indices.map { i =>
      (header(i).length +: rows.map(_(i).length)).max
    }
    def line(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString(" ").stripTrailing()
    (line(header) +: "-" * math.min(110, widths.sum + widths.size) +: rows.map(line))
      .mkString("\n")
  }

  private[graft] def renderCsv(header: Seq[String], rows: Seq[Seq[String]]): String = {
    def cell(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    (header +: rows).map(_.map(cell).mkString(",")).mkString("\n")
  }

  /** Emit a result frame in the chosen `--format`. The collect is
    * driver-side display of an already-limited result — never a
    * distributed hot path. Table cells escape newlines for display
    * (the reference does the same, query.rs:231); csv keeps raw
    * values — renderCsv's RFC quoting handles embedded newlines
    * losslessly. */
  private def emitAs(df: DataFrame, format: String): Unit = format match {
    case "json" => df.toJSON.collect().foreach(println)
    case other =>
      val header = df.columns.toSeq
      def cells(escape: Boolean) = df.collect().toSeq.map(_.toSeq.map {
        case null => "N/A"
        case v if escape => v.toString.replace("\n", "\\n").replace("\r", "\\r")
        case v => v.toString
      })
      val rows = cells(escape = other == "table")
      if (rows.isEmpty) println("No results found")
      else println(
        if (other == "csv") renderCsv(header, rows) else renderTable(header, rows))
  }

  def main(rawArgs: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(rawArgs.toSeq, spark)
    finally spark.stop()
  }

  /** The command dispatch, session-agnostic (testable without tearing
    * down a shared session). */
  def run(args: Seq[String], spark: org.apache.spark.sql.SparkSession): Unit = {
    val store = opt(args, "--store").getOrElse(
      sys.error("--store <dir> is required"))
    val rest = args.dropWhile(_ != "--store").drop(2) match {
      case s if s.nonEmpty => s
      case _ => args.takeWhile(_ != "--store")
    }

    val format = opt(args, "--format").getOrElse("table")
    if (!Set("table", "csv", "json").contains(format))
      sys.error(s"unknown --format '$format' (expected table, csv, or json)")
    val limit = opt(args, "--limit").map(_.toInt).getOrElse(100)
    def engine = new GraphQueryEngine(GraphStore.load(spark, store))
    def emit(df: DataFrame): Unit = emitAs(df, format)
    // counted on the saved store: the just-built graph's plans would
    // re-run the whole import (JSON parse, function window, call joins)
    def emitStoreStats(): Unit = emit(JsonImporter.stats(GraphStore.load(spark, store)))

    rest match {
      case Seq("import", "json", path, _*) =>
        GraphStore.save(JsonImporter.importAnalysis(spark, path), store)
        emitStoreStats()
      case Seq("import", "directory", dir, _*) =>
        val raw = JsonImporter.readAnalysis(spark, dir, opt(args, "--pattern"))
        val invalid = JsonImporter.validate(raw).filter("NOT valid")
        // boolean flag: contains(), not opt() — a trailing --no-validate
        // has no following token for the sliding-window opt() to match
        if (!args.contains("--no-validate") && !invalid.isEmpty) {
          System.err.println("[warn] invalid inputs:")
          emit(invalid)
        }
        GraphStore.save(JsonImporter.buildGraph(raw), store)
        emitStoreStats()
      case Seq("query", "functions", _*) =>
        emit(engine.queryFunctions(opt(args, "--pattern").getOrElse(""),
          opt(args, "--binary"), limit))
      case Seq("query", "strings", _*) =>
        val pattern = opt(args, "--pattern").getOrElse("")
        if (args.contains("--raw"))
          emit(engine.queryStringsRaw(pattern, opt(args, "--binary"), limit))
        else {
          val terms = pattern.toLowerCase.split("[^a-z0-9]+")
            .filter(_.nonEmpty).toSeq
          emit(engine.queryStrings(terms, opt(args, "--binary"), limit))
        }
      case Seq("query", "binary", _*) =>
        emit(engine.queryBinaryInfo(opt(args, "--binary-name").getOrElse("")))
      case Seq("query", "callgraph", fn, _*) =>
        // --show-callees / --show-callers restrict the direction
        // (cli.rs:96-99); default shows both, as the reference does
        val cg = engine.callgraph(fn, opt(args, "--binary"),
          opt(args, "--max-depth").map(_.toInt).getOrElse(3))
        val dir =
          if (args.contains("--show-callees") && !args.contains("--show-callers"))
            cg.filter(org.apache.spark.sql.functions.col("direction") === "callee")
          else if (args.contains("--show-callers") && !args.contains("--show-callees"))
            cg.filter(org.apache.spark.sql.functions.col("direction") === "caller")
          else cg
        emit(dir.limit(limit))
      case Seq("query", "call-path", fn, _*) =>
        val depth = opt(args, "--max-depth").map(_.toInt).getOrElse(3)
        if (args.contains("--show-sequences")) emit(engine.callSequences(fn, opt(args, "--binary")).limit(limit))
        else if (args.contains("--show-upward")) emit(engine.callerSequences(fn, opt(args, "--binary")).limit(limit))
        else if (args.contains("--show-context")) emit(engine.analyzeCallContext(fn, opt(args, "--binary"), depth).limit(limit))
        else if (args.contains("--show-recursive")) emit(engine.findRecursion(fn, opt(args, "--binary"), math.max(depth, 4)).limit(limit))
        else emit(engine.callPaths(fn, opt(args, "--binary"), depth).limit(limit))
      case Seq("query", "xrefs", addr, _*) =>
        emit(engine.xrefs(addr, opt(args, "--binary")).limit(limit))
      case Seq("query", "analytics", kind, _*) =>
        // Spark-native EXTENSION (no reference analogue): whole-graph
        // analytics over the stored call graph.
        val b = opt(args, "--binary")
        kind match {
          case "components" => emit(engine.components(b).limit(limit))
          case "pagerank" => emit(engine.pageRank(b).limit(limit))
          case "kcore" =>
            val k = opt(args, "--k").map(s =>
              s.toIntOption.filter(_ >= 1).getOrElse(
                sys.error(s"--k must be a positive integer, got '$s'"))).getOrElse(3)
            emit(engine.kCore(k, b).limit(limit))
          case "triangles" => emit(engine.triangleCount(b))
          case "communities" => emit(engine.communities(b).limit(limit))
          case "reach" => emit(engine.neighborhoodSizes(
            b, opt(args, "--max-depth").map(_.toInt).getOrElse(2)).limit(limit))
          case "betweenness" =>
            emit(engine.betweenness(
              b, opt(args, "--max-depth").map(_.toInt).getOrElse(3),
              sampleOpt(args)).limit(limit))
          case "closeness" =>
            emit(engine.closeness(
              b, opt(args, "--max-depth").map(_.toInt).getOrElse(3),
              sampleOpt(args)).limit(limit))
          case "shape" => emit(engine.graphShape(b))
          case "modularity" => emit(engine.modularity(b))
          case "walks" =>
            emit(engine.walks(b,
              opt(args, "--max-depth").map(_.toInt).getOrElse(6),
              sampleOpt(args)).limit(limit))
          case "bowtie" =>
            emit(engine.bowTie(b,
              opt(args, "--max-depth").map(_.toInt).getOrElse(8)))
          case "lcc" => emit(engine.localClustering(b).limit(limit))
          case "sparsify" =>
            val k = opt(args, "--k").map(s =>
              s.toIntOption.filter(_ >= 1).getOrElse(
                sys.error(s"--k must be a positive integer, got '$s'"))).getOrElse(4)
            emit(engine.sparsify(b, k).limit(limit))
          case other => sys.error(
            s"unknown analytics '$other' (expected components, pagerank, kcore, " +
              "triangles, communities, reach, betweenness, closeness, shape, " +
              "modularity, walks, bowtie, lcc, or sparsify)")
        }
      // incremental upsert into a live store — the reference's second
      // `import json` on a live database MERGEs instead of rebuilding
      // (api/session.rs); explicit here so a plain `import json`
      // stays the documented overwrite
      case Seq("import", "merge", path, _*) =>
        val g = JsonImporter.mergeAnalysis(spark, store, path,
          opt(args, "--pattern"))
        emit(JsonImporter.stats(g))
      // composed-store layout (<store>/graph|index|sigs): one delta
      // import refreshes graph tables, fulltext index, and the
      // near-dup signature store in a single pass (SURVEY §2 A8)
      case Seq("database", "bootstrap", path, _*) =>
        val g = importer.Refresh.bootstrap(spark, path, store,
          opt(args, "--pattern"))
        emit(JsonImporter.stats(g))
      case Seq("database", "refresh", delta, _*) =>
        val r = importer.Refresh.refresh(spark, delta, store,
          opt(args, "--pattern"))
        emit(JsonImporter.stats(r.graph))
        System.err.println(s"[refresh] near-dup pairs in delta: ${r.report.count()}")
      case Seq("database", "stats", _*) =>
        emit(engine.stats())
      case Seq("database", "init", _*) =>
        // reference `database init` creates constraints/indexes
        // (commands/database.rs:24); the columnar analogue — keyed
        // layout + uniqueness — is enforced on every save, so init
        // just prepares the store directory.
        val p = new org.apache.hadoop.fs.Path(store)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
        println(s"""{"initialized":"$store"}""")
      case Seq("database", "export", out, _*) =>
        JsonImporter.exportJson(GraphStore.load(spark, store), out)
        println(s"""{"exported":"$out"}""")
      case Seq("database", "clear", _*) =>
        // reference requires --confirm or interactive y/N
        // (commands/database.rs:40-52); non-interactive callers must
        // pass the flag.
        if (args.contains("--confirm")) {
          GraphStore.clear(spark, store)
          println("""{"cleared":true}""")
        } else println(
          """{"cancelled":"pass --confirm to delete ALL data in the store"}""")
      case other =>
        sys.error(s"unknown command: ${other.mkString(" ")}")
    }
  }
}

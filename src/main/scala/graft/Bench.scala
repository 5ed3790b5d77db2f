package graft
import org.apache.spark.sql.SparkSession

/** Driver-contract benchmark: every SparkEntry query timed N times
  * (default 3), per-query MEDIAN reported — single-run numbers on a
  * busy local[32] JVM swing up to 3× on untouched code (observed
  * r1→r2), so medians are the minimum honest methodology. One JSON
  * line on stdout.
  *
  * Full-board runs split into THREE JVM GENERATIONS (graph / docs /
  * events+relational familes, one forked child JVM each): a single
  * 234-query session accumulates JIT/code-cache/GC pressure that
  * inflated late-query medians ~1.2× vs isolated runs (the r6→r7
  * whole-board effect). The family split keeps each generation's
  * shared-artifact memos (call edges, shingles, minhash signatures)
  * hot within its own JVM while resetting in-JVM pressure between
  * families. The parent merges the children's results and still
  * prints the ONE JSON line the driver consumes, now carrying
  * per-generation totals; targeted SPARK_GRAFT_BENCH_ONLY runs stay
  * single-JVM in-process. Fork failure falls back to the in-process
  * whole-board run (never fails the bench).
  */
object Bench {

  /** Family → generation assignment: keeps every consumer of a shared
    * memoized artifact (call-graph edges; shingle/signature frames)
    * in one JVM so the split never un-amortizes them. */
  private[graft] def generationOf(name: String): Int = {
    val docPrefixes = Seq("dedup", "text", "sim_", "embed", "vocab",
      "fulltext", "multimodal", "decontaminate", "split_", "curate",
      "sample", "pack", "chunk", "shard", "mix_", "source_")
    val graphPrefixes = Seq("graph", "call", "recursion", "xrefs",
      "lineage", "fn_", "binary_info")
    if (graphPrefixes.exists(name.startsWith)) 0
    else if (docPrefixes.exists(name.startsWith)) 1
    else 2 // events_*, q*, customer_*, basket_*, table_*
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Host-contention stamp (r12 verdict ask): the r12 headline
    * comparison was clouded by a 250-query DuckDB replay sharing the
    * box with the bench, and nothing in the artifact could prove or
    * refute it. 1-min load average + a census of OTHER heavyweight
    * processes (java/python/duckdb) make the comparison
    * self-certifying: a clean board shows load ≈ 0 and no neighbors.
    */
  private[graft] def loadAvg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  private[graft] def hostState(): String = {
    val load = loadAvg()
    val procs =
      try {
        import scala.jdk.CollectionConverters._
        // exclude the bench's own process TREE — ancestors (the sbt /
        // launcher java parent) and descendants (forked generation
        // children) — so a genuinely clean board reports NO neighbors
        // instead of the java:1+ its own launcher used to count
        val family = scala.collection.mutable.Set.empty[Long]
        var up: java.util.Optional[ProcessHandle] =
          java.util.Optional.of(ProcessHandle.current())
        while (up.isPresent) {
          family += up.get.pid(); up = up.get.parent()
        }
        ProcessHandle.current().descendants().iterator().asScala
          .foreach(d => family += d.pid())
        ProcessHandle.allProcesses().iterator().asScala.flatMap { p =>
          val cmd = p.info().command().orElse("")
          val base = cmd.substring(cmd.lastIndexOf('/') + 1)
          if (!family.contains(p.pid()) &&
            Seq("java", "python", "python3", "duckdb").contains(base))
            Some(base)
          else None
        }.toSeq.groupBy(identity).toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k:${v.size}" }.mkString(",")
      } catch { case _: Throwable => "?" }
    s"""{"loadavg":$load,"other_procs":${jstr(procs)}}"""
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** Per-query record: median seconds, first error if any, plus
    * memo ATTRIBUTION from the query's FIRST timed run — memos this
    * query BUILT (it is the payer: its number includes shared-
    * artifact materialization later queries ride) and memos it RODE.
    * first_s is that first run's wall time, where the build cost
    * actually lands (the median mostly reflects the ridden shape). */
  final case class QStat(median: Double, err: Option[String],
    built: Long, ridden: Long, firstS: Double,
    times: Seq[Double] = Nil, loadavg: Double = -1.0)

  type Results = Seq[(String, QStat)]

  private def runInProcess(
      names: Seq[String], sfDir: String, cpus: String, runs: Int): Results = {
    val spark = GraftSession.local(cpus.toInt)
    // Warm the JVM (codegen, parquet reader) and file-system cache so
    // the first timed query is not charged session startup.
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
      "region", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    // Exercise the execution machinery itself — whole-stage codegen
    // compilation, shuffle write/read, hash agg, sort-merge join,
    // window — on synthetic data before the first timed query. Each
    // forked generation starts a cold JVM; without this, generation 0
    // charged its first queries ~2.5× for JIT/codegen warm-up that
    // generations were meant to equalize (BENCH_LOCAL r9: gen 0 ran
    // 64 queries in 96.2 s vs gen 2's 78 in 37.9 s).
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.range(0, 1L << 18)
        .select((col("id") % 997).as("k"), col("id").as("v"))
      val agg = w.groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("c"))
      agg.join(w, Seq("k")).count()
      w.select(col("k"), row_number().over(
        Window.partitionBy("k").orderBy("v")).as("rn")).count()
    }
    // A thrown query must not masquerade as a fast run: its timing is
    // still reported (the regression is visible) but the error rides
    // along in an "errors" map so the JSON is self-diagnosing.
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      // release prior queries' dead localCheckpoint blocks (ContextCleaner
      // needs a GC) so late queries aren't taxed by earlier ones — see
      // ScaleBench for the observed failure mode
      System.gc()
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          Some(e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").take(160))
      }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val out = names.map { name =>
      // per-query launch stamp (r14 verdict ask #7): the 1-min loadavg
      // at THIS query's start, so a board's >1.5× lines self-document
      // their neighbor pressure instead of being adjudicated by
      // narrative next round
      val la = loadAvg()
      val (b0, h0) = graft.functions.MemoStats.snapshot
      val first = time(SparkEntry.queries(name))
      val (b1, h1) = graft.functions.MemoStats.snapshot
      val rs = first +: (2 to runs).map(_ => time(SparkEntry.queries(name)))
      name -> QStat(median(rs.map(_._1)), rs.flatMap(_._2).headOption,
        b1 - b0, h1 - h0, first._1, rs.map(_._1), la)
    }
    spark.stop()
    out
  }

  /** Fork one child JVM per generation (same java, JVM args and
    * classpath as this process); each child runs its family subset
    * in-process and reports back through a TSV side channel. A
    * generation whose child dies — nonzero exit, short TSV, or a
    * dead-SparkContext error cascade — gets ONE fresh-JVM retry
    * before the whole-board in-process fallback: the r15 sf10 board
    * lost generation isolation to a single marginal heap OOM in gen0
    * (graph_kcore, a subset+order+heap that passed identically in
    * r14). SPARK_GRAFT_BENCH_CHILD_HEAP overrides the children's
    * -Xmx — the parent waits idle while a child runs, so children
    * can take more heap than the parent was launched with. Returns
    * None if any generation fails twice — caller falls back. */
  private def runGenerations(
      gens: Seq[(Int, Seq[String])], runs: Int): Option[Results] = {
    import scala.jdk.CollectionConverters._
    // A query that THROWS does not kill the session (time() catches
    // and the next query runs); rows carrying these signatures mean
    // the context itself died mid-generation and everything after the
    // victim fast-failed — a child-environment death, never a query
    // verdict, so the generation must be re-run, not reported.
    val contextDeath =
      Seq("stopped SparkContext", "SparkContext was shut down")
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val inherited = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val jvmArgs = sys.env.get("SPARK_GRAFT_BENCH_CHILD_HEAP") match {
        case Some(h) => inherited.filterNot(_.startsWith("-Xmx")) :+ s"-Xmx$h"
        case None => inherited
      }
      val cp = System.getProperty("java.class.path")
      def runChild(g: Int, names: Seq[String]): Seq[(String, QStat)] = {
        val tsv = java.io.File.createTempFile(s"bench_gen$g", ".tsv")
        val log = java.io.File.createTempFile(s"bench_gen$g", ".log")
        val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
        pb.environment().put("SPARK_GRAFT_BENCH_GEN", g.toString)
        pb.environment().put("SPARK_GRAFT_BENCH_TSV", tsv.getAbsolutePath)
        pb.environment().put("SPARK_GRAFT_BENCH_RUNS", runs.toString)
        pb.environment().remove("SPARK_GRAFT_BENCH_OUT")
        // an inherited explicit SPARK_GRAFT_BENCH_GENERATIONS>1 would
        // make the child re-enter runGenerations on its own subset and
        // fork an identical grandchild, unboundedly — children always
        // run in-process
        pb.environment().remove("SPARK_GRAFT_BENCH_GENERATIONS")
        // child stdout/stderr → log file: the parent's stdout must stay
        // exactly one JSON line (the driver contract)
        pb.redirectErrorStream(true)
        pb.redirectOutput(log)
        val p = pb.start()
        val rc = p.waitFor()
        if (rc != 0)
          throw new RuntimeException(
            s"generation $g exited $rc (log: ${log.getAbsolutePath})")
        val lines = java.nio.file.Files.readAllLines(tsv.toPath).asScala
        if (lines.size != names.size)
          throw new RuntimeException(
            s"generation $g reported ${lines.size}/${names.size} queries")
        val parsed = lines.toSeq.map { ln =>
          val parts = ln.split("\t", 8)
          parts(0) -> QStat(parts(1).toDouble,
            if (parts.length > 7 && parts(7).nonEmpty) Some(parts(7)) else None,
            parts(2).toLong, parts(3).toLong, parts(4).toDouble,
            parts(5).split(",").filter(_.nonEmpty).map(_.toDouble).toSeq,
            parts(6).toDouble)
        }
        parsed.find(_._2.err.exists(e => contextDeath.exists(e.contains)))
          .foreach { case (qn, _) =>
            throw new RuntimeException(
              s"generation $g SparkContext died around $qn " +
                s"(log: ${log.getAbsolutePath})")
          }
        tsv.delete()
        parsed
      }
      val all = gens.flatMap { case (g, names) =>
        try runChild(g, names)
        catch {
          case e: Exception =>
            System.err.println(s"[bench] generation $g failed once " +
              s"(${e.getMessage}); retrying in a fresh JVM")
            runChild(g, names)
        }
      }
      Some(all)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] generation fork failed (${e.getMessage}); " +
          "falling back to single-JVM run")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Optional comma-separated allowlist for targeted re-timing while
    // optimizing one operator (full runs stay the default contract).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selectedNames = only match {
      case Some(names) => SparkEntry.queries.keys.filter(names).toSeq
      case None => SparkEntry.queries.keys.toSeq
    }
    val hostStart = hostState()
    val isChild = sys.env.contains("SPARK_GRAFT_BENCH_GEN")
    val wantGens =
      // a generation child NEVER forks again (second guard behind the
      // env-var scrub in runGenerations — belt and braces against the
      // unbounded fork chain)
      if (isChild) 1
      else math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_GENERATIONS",
        if (only.isEmpty) "3" else "1").toInt)

    // Whether generation ISOLATION actually held, not what was asked
    // for: the r15 sf10 artifact said "3 JVM generations" while the
    // run had fallen back to one in-process JVM — the mode string and
    // the per-query gen stamps below must describe the execution that
    // produced the numbers, never the intent.
    var genIsolation = false
    val results: Results =
      if (wantGens > 1) {
        val gens = selectedNames.groupBy(generationOf).toSeq.sortBy(_._1)
        runGenerations(gens, runs) match {
          case Some(r) => genIsolation = true; r
          case None => runInProcess(selectedNames, sfDir, cpus, runs)
        }
      } else runInProcess(selectedNames, sfDir, cpus, runs)

    // child mode: report through the TSV side channel and exit
    if (sys.env.contains("SPARK_GRAFT_BENCH_TSV")) {
      val f = sys.env("SPARK_GRAFT_BENCH_TSV")
      val body = results.map { case (k, q) =>
        s"$k\t${q.median}\t${q.built}\t${q.ridden}\t${q.firstS}\t" +
          q.times.mkString(",") + s"\t${q.loadavg}\t" +
          q.err.getOrElse("").replace("\t", " ").replace("\n", " ")
      }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), body)
      return
    }

    val qs = results.map { case (k, q) => s"\"" + k + "\":" + q.median }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, q) if q.err.isDefined =>
      jstr(k) + ":" + jstr(q.err.get) }
      .mkString("{", ",", "}")
    val nErr = results.count(_._2.err.isDefined)
    val total = results.map(_._2.median).sum
    // Memo attribution (r9 verdict ask): which queries PAID a shared
    // materialization vs RODE one, plus the first-run wall time where
    // the payment lands — a per-query round-over-round delta is now
    // interpretable without knowing board order.
    val memo = results.collect { case (k, q) if q.built > 0 || q.ridden > 0 =>
      s"""${jstr(k)}:{"built":${q.built},"ridden":${q.ridden},"first_s":${q.firstS}}"""
    }.mkString("{", ",", "}")
    // Per-query launch stamps (r14 verdict ask #7): generation index +
    // 1-min loadavg at the query's start. Board variance now
    // self-documents — a >1.5× line launched at loadavg 30 reads as
    // neighbor contention, one at loadavg ~0 reads as real.
    // gen=-1 when the queries did NOT run in isolated generation
    // JVMs (plain single-JVM run, or the in-process fallback): the
    // family index would read as a JVM boundary that never existed.
    val qHost = results.map { case (k, q) =>
      s"""${jstr(k)}:{"gen":${if (genIsolation) generationOf(k) else -1},"loadavg":${q.loadavg}}"""
    }.mkString("{", ",", "}")
    val genTotals = results.groupBy { case (k, _) => generationOf(k) }
      .toSeq.sortBy(_._1)
      .map { case (g, rs) =>
        s"""{"gen":$g,"n_queries":${rs.size},"sec":${rs.map(_._2.median).sum}}"""
      }.mkString("[", ",", "]")
    val mode =
      if (genIsolation) s"$wantGens JVM generations"
      else if (wantGens > 1)
        "single JVM (generation fork failed twice; in-process fallback — " +
          "generations totals are family groups, not JVM boundaries)"
      else "single JVM"
    // per-query spread only when it exists (runs>=2): medians of a
    // single run cannot support round-over-round per-query reads
    // (graph_betweenness swings +-25% at sf1) — the raw run times make
    // the variance part of the committed record
    val spread = if (runs < 2) "" else
      ""","runs_s":""" + results.map { case (k, q) =>
        jstr(k) + ":[" + q.times.mkString(",") + "]"
      }.mkString("{", ",", "}")
    // Headline keys LAST: the driver's log capture keeps only the
    // final ~2000 chars of stdout, and with 249 queries the line is
    // ~10 KB — metric/value/n_errors printed first were cut out of
    // BENCH_r10/r11.json (parsed:null). Key order is irrelevant to
    // any JSON parser but decisive for a tail capture.
    val line = s"""{"queries":$qs,"errors":$errs,"memo":$memo,"query_host":$qHost,"generations":$genTotals,"host_start":$hostStart,"host_end":${hostState()},"note":"per-query median of $runs runs; $mode; memo=first-run build/ride attribution; query_host=generation index + 1-min loadavg at each query's launch; host_*=1-min loadavg + neighbor-process census at board start/end"$spread,"metric":"total","unit":"sec","sf":"$sfDir","runs":$runs,"n_errors":$nErr,"value":$total}"""
    println(line)
    // The stdout line is the driver contract, but a log-buffer tail
    // capture can truncate it (BENCH_r05.json lost 101 of 166 query
    // timings that way) — so the full JSON is ALSO written to a file
    // that gets committed, making the authoritative numbers loss-proof.
    // Overridable for ad-hoc runs; never fatal (a read-only checkout
    // must not fail the bench).
    // A targeted SPARK_GRAFT_BENCH_ONLY run must not clobber the
    // committed full-board record with a partial one — it writes a
    // file only when SPARK_GRAFT_BENCH_OUT is explicitly set.
    // ... and a full-board run at a NON-default scale factor must not
    // clobber it either (an organic-sf1 run once overwrote the
    // committed sf0.1 record through this default sink) — the default
    // applies only to the board the file documents.
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty && sfDir == "/root/testdata/sf0.1")
        Some("/root/repo/BENCH_LOCAL.json") else None)
    outFile.foreach { f =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        line + "\n")
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $f: ${e.getMessage}")
      }
    }
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.importer.{GraphStore, JsonImporter}
import graft.queries.GraphQueryEngine

/** `session`: the reference user's loop over one long-lived
  * `GraphQueryEngine`. Set-up generates a seeded corpus, imports it
  * along the `import directory` path, checks the stored table counts,
  * opens the engine and makes one untimed, checked callgraph on the hot
  * binary, which builds the hot scope. (A warm-up round of every type
  * would cost more set-up than it saves in the timed phase, and the run
  * budget has no room for it.) The timed phase runs [[Cycle]], each op
  * forced by `collect()` as `Cli` does and checked against [[Facts]].
  * The seed
  * draws the corpus's content and each op's pattern or term, never the
  * order of types, so every run warms the JVM up along the same path.
  *
  * The mix is an assumption, not a recorded session: every one of the
  * 11 CLI query types runs equally often, twice per cycle. Of the 20
  * binary-scoped ops, 15 hit the hot binary and 5 a binary not touched
  * yet: in the second round, every other binary-scoped type (strings,
  * callgraph, sequences, recursion, call_freq) goes cold, so both the
  * hit and the miss side of the engine's per-scope caches are timed on
  * the same five types.
  */
object Session {

  val Binaries = 24
  val Functions = 40
  val Limit = 100
  /** Files per stored table: one, as a user sizes a store this small. */
  val Partitions = 1

  /** The CLI query types; all but `stats` take a binary. */
  val Kinds: Seq[String] = Seq("functions", "strings", "binary", "callgraph", "call_paths",
    "sequences", "callers", "recursion", "xrefs", "call_freq", "stats")
  /** The types whose second op goes to a binary not touched yet. */
  val ColdKinds: Set[String] = Set("strings", "callgraph", "sequences", "recursion", "call_freq")

  /** (type, module, scope) in timed order: two rounds of every type.
    * Scope `cold` means a binary not touched yet, `hot` the binary
    * warmed in set-up, empty a query over the whole store. */
  val Cycle: Seq[(String, String, String)] =
    for (round <- 0 until 2; k <- Kinds) yield {
      val scope = if (k == "stats") "" else if (round == 1 && ColdKinds(k)) "cold" else "hot"
      (k, module(k), scope)
    }

  def module(kind: String): String = if (kind == "strings") "search" else "queries"

  /** Cycles for a `--seconds` budget (a warm cycle takes about 20 s),
    * at most as many as the corpus has untouched binaries for. */
  def cycles(seconds: Int): Int =
    math.max(1, math.min((Binaries - 1) / Cycle.count(_._3 == "cold"), seconds / 20))

  def run(run: Run): Unit = {
    val r = new java.util.Random(run.seed)
    val dir = run.work.resolve("store").toString
    var jsonBytes = 0L

    val (engine, facts, bins) = run.setup {
      val bins = run.step("other", "generate") {
        (0 until Binaries).map(i => Corpus.binary(run.seed, f"bin$i%04d", Functions))
      }
      val facts = new Facts(bins)
      val corpus = run.work.resolve("corpus")
      jsonBytes = Corpus.write(corpus, bins)
      val raw = run.step("importer", "read") {
        val raw = JsonImporter.readAnalysis(run.spark, corpus.toString)
        run.check("import: every file validates",
          JsonImporter.validate(raw).filter("NOT valid").isEmpty)
        raw
      }
      run.step("importer", "save")(GraphStore.save(JsonImporter.buildGraph(raw), dir, Partitions))
      val g = run.step("importer", "load")(GraphStore.load(run.spark, dir))
      run.check("import: node and edge counts match the generator", tableCounts(g) == facts.tableRows)
      val engine = new GraphQueryEngine(g)
      val c = call(engine, facts, "callgraph", bins.head, r)
      run.warm("callgraph", module("callgraph"))(c.query())(c.ok)
      (engine, facts, bins)
    }

    val hot = bins.head
    val cold = bins.tail.iterator
    run.timed {
      (0 until cycles(run.seconds)).foreach { _ =>
        Cycle.foreach { case (kind, module, scope) =>
          val c = call(engine, facts, kind, if (scope == "cold") cold.next() else hot, r)
          run.op(kind, module, scope)(c.query())(c.ok)
        }
      }
    }
    engine.close()
    run.layer("importer.graph_mb") = Disk.mb(java.nio.file.Paths.get(dir))
    run.layer("importer.store_ratio") = Disk.bytes(java.nio.file.Paths.get(dir)).toDouble / jsonBytes
  }

  def tableCounts(g: graft.importer.BinaryGraph): Map[String, Long] = Map(
    "contains" -> g.contains.count(), "imports_fn" -> g.importsFn.count(),
    "contains_string" -> g.containsString.count(), "call_sites" -> g.callSites.count())

  /** The function of `b` that makes the most calls (lowest address on
    * a tie): traversals from it run to full depth, so an op's work does
    * not hinge on which function the seed happened to draw. */
  private def pickFn(facts: Facts, b: Corpus.Bin): Corpus.Fn = {
    val out = facts.edges(b).groupBy(_.from).map { case (k, v) => k -> v.size }
    b.fns.maxBy(f => (out.getOrElse(b.fnUid(f.addr), 0), -f.addr))
  }

  private def strs(rows: Array[Row], cols: String*): Seq[Seq[Any]] =
    rows.toSeq.map(row => cols.map(c => row.getAs[Any](c)))

  /** One prepared op: the engine call to time, and the check of its
    * rows against an answer computed before the clock starts. */
  final case class Call(query: () => Array[Row], ok: Array[Row] => Boolean)

  /** Prepare one op of `kind` against binary `b`: draw its argument and
    * compute the expected answer. */
  def call(engine: GraphQueryEngine, facts: Facts, kind: String, b: Corpus.Bin,
      r: java.util.Random): Call = {
    val name = Some(b.name)
    def limited(df: => DataFrame): () => Array[Row] = () => df.limit(Limit).collect()
    kind match {
      case "functions" =>
        val p = b.fns(r.nextInt(b.fns.size)).name.takeWhile(_ != '_')
        val want = facts.functions(b, p, Limit)
        Call(() => engine.queryFunctions(p, name, Limit).collect(),
          rows => strs(rows, "uid").map(_.head) == want)
      case "strings" =>
        val words = b.strings(r.nextInt(b.strings.size))._1.split(' ')
        val w = words(r.nextInt(words.length))
        val term = w.substring(0, math.min(w.length, 3))
        val want = facts.strings(b, term)
        Call(() => engine.queryStrings(Seq(term), name, Limit).collect(),
          rows => rows.map(_.getAs[String]("value")).toSet == want &&
            rows.forall(_.getAs[Long]("sample_count") == 1L))
      case "binary" =>
        Call(() => engine.queryBinaryInfo(b.name).collect(),
          rows => rows.map(_.getAs[String]("hash")).toSeq == Seq(b.hash))
      case "callgraph" =>
        val f = pickFn(facts, b).name
        val want = facts.callgraph(b, f, 3, Limit)
        Call(limited(engine.callgraph(f, name, 3)),
          rows => strs(rows, "direction", "depth", "uid").map { case Seq(d, n, u) =>
            (d.asInstanceOf[String], n.asInstanceOf[Int], u.asInstanceOf[String]) } == want)
      case "call_paths" =>
        val f = pickFn(facts, b).name
        val all = facts.callPaths(b, f, 3)
        val want = all.take(Limit)
        Call(limited(engine.callPaths(f, name, 3)), { rows =>
          val got = strs(rows, "depth", "offsets")
            .map { case Seq(d, o) => (d.asInstanceOf[Int], o.asInstanceOf[String]) }
          got.size == want.size && got.map(_._1) == want.map(_._1) && got.diff(all).isEmpty
        })
      case "sequences" =>
        val f = pickFn(facts, b).name
        val want = facts.sequences(b, f).take(Limit)
        Call(limited(engine.callSequences(f, name)),
          rows => strs(rows, "caller", "callee", "call_offset", "call_type", "ord")
            .map(t => (t(0), t(1), t(2), t(3), t(4))) == want)
      case "callers" =>
        val f = pickFn(facts, b).name
        val want = facts.callers(b, f).take(Limit)
        Call(limited(engine.callerSequences(f, name)),
          rows => strs(rows, "callee", "caller", "call_offset", "call_type", "ord")
            .map(t => (t(0), t(1), t(2), t(3), t(4))) == want)
      case "recursion" =>
        val f = pickFn(facts, b).name
        val want = facts.recursion(b, f)
        Call(limited(engine.findRecursion(f, name, 4)),
          rows => strs(rows, "uid", "call_type", "depth", "n_cycles")
            .map(t => (t(0), t(1), t(2), t(3))).toSet == want)
      case "xrefs" =>
        val f = pickFn(facts, b)
        val want = facts.xrefs(b, f.addr).take(Limit)
        Call(limited(engine.xrefs(Corpus.hex(f.addr), name)),
          rows => strs(rows, "from_function", "to_function", "call_offset")
            .map(t => (t(0), t(1), t(2))) == want)
      case "call_freq" =>
        val f = pickFn(facts, b).name
        val want = facts.callFreq(b, f).take(Limit)
        Call(limited(engine.callFrequencies(f, name)),
          rows => strs(rows, "callee_uid", "frequency").map(t => (t(0), t(1))) == want)
      case "stats" =>
        Call(() => engine.stats().collect(), rows => rows.head.toSeq == facts.stats)
    }
  }
}

/** Sizes on disk. */
object Disk {
  def bytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  def mb(p: java.nio.file.Path): Double = bytes(p) / 1048576.0
}

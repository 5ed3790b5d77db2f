package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Reference-CLI output parity: `--format table` (the reference
  * default, cli.rs:66) renders a fixed-width header + dash rule +
  * rows; `--format csv` / `--format json` are the alternatives;
  * `--limit` caps every query (cli.rs:65,77). All three formats carry
  * the same rows on a fixture graph.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  lazy val store: String = {
    val dir = java.nio.file.Files.createTempDirectory("cli_store").toString
    Cli.run(Seq("--store", dir, "import", "directory",
      getClass.getResource("/analysis").getPath, "--no-validate"), spark)
    dir
  }

  private def capture(args: String*): String = {
    val s = store // force the lazy import OUTSIDE the capture window
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      Cli.run(Seq("--store", s) ++ args, spark)
    }
    bos.toString("UTF-8").trim
  }

  test("default format is a fixed-width table with a dash rule") {
    val out = capture("query", "functions", "--pattern", "e")
    val lines = out.linesIterator.toSeq
    assert(lines.head.startsWith("uid"))          // header row
    assert(lines(1).matches("-+"))                // dash rule
    assert(lines.length > 2)                      // data rows follow
    // fixed width: every data row's uid column starts at position 0
    // and the header tokens align with at least one space between
    assert(lines.head.contains("  ") || lines.head.split("\\s+").length > 1)
  }

  test("csv and json formats carry the same rows as the table") {
    val table = capture("query", "functions", "--pattern", "e")
    val csv = capture("query", "functions", "--pattern", "e", "--format", "csv")
    val json = capture("query", "functions", "--pattern", "e", "--format", "json")
    val nTable = table.linesIterator.size - 2 // header + rule
    val nCsv = csv.linesIterator.size - 1     // header
    val nJson = json.linesIterator.size
    assert(nTable == nCsv && nCsv == nJson && nJson > 0)
    assert(csv.linesIterator.next().split(",").contains("uid"))
    assert(json.linesIterator.next().startsWith("{"))
  }

  test("--limit caps the result") {
    val out = capture("query", "functions", "--pattern", "", "--limit", "2",
      "--format", "json")
    assert(out.linesIterator.size == 2)
  }

  test("strings query renders in table mode; empty result says so") {
    val hit = capture("query", "strings", "--pattern", "bitcoin")
    assert(hit.linesIterator.next().contains("score") ||
      hit.linesIterator.next().contains("uid"))
    val miss = capture("query", "strings", "--pattern", "zzzznotthere")
    assert(miss == "No results found")
  }

  test("database clear refuses without --confirm; init prepares the dir") {
    val out = capture("database", "clear")
    assert(out.contains("cancelled") && new java.io.File(store).exists())
    val tmp = java.nio.file.Files.createTempDirectory("cli_init").toString + "/sub"
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      Cli.run(Seq("--store", tmp, "database", "init"), spark)
    }
    assert(bos.toString("UTF-8").contains("initialized") &&
      new java.io.File(tmp).isDirectory)
  }

  test("callgraph --show-callees restricts the direction") {
    val both = capture("query", "callgraph", "exported_entry", "--format", "json")
    val callees = capture("query", "callgraph", "exported_entry",
      "--show-callees", "--format", "json")
    assert(both.linesIterator.size >= callees.linesIterator.size)
    assert(callees.linesIterator.forall(_.contains("\"direction\":\"callee\"")))
  }

  test("call-path --show-recursive routes to recursion detection") {
    val out = capture("query", "call-path", "loop_fn", "--show-recursive",
      "--format", "json")
    assert(out.contains("\"call_type\":\"Direct\""))
  }

  test("query analytics (extension) renders pagerank and rejects unknown kinds") {
    val pr = capture("query", "analytics", "pagerank", "--limit", "3")
    assert(pr.linesIterator.next().startsWith("uid"))
    assert(pr.contains("pagerank_ppm"))
    assert(intercept[RuntimeException](
      capture("query", "analytics", "bogus")).getMessage.contains("unknown analytics"))
  }

  test("query analytics communities and reach render uid-keyed rows") {
    val cm = capture("query", "analytics", "communities", "--limit", "5")
    assert(cm.linesIterator.next().startsWith("uid"))
    assert(cm.contains("community_uid"))
    val rc = capture("query", "analytics", "reach", "--max-depth", "2",
      "--limit", "5")
    assert(rc.contains("n_reach"))
    // --sample 1 = exhaustive sources (the fixture graph is tiny; the
    // default 1-in-8 id sample may legitimately select none)
    val bt = capture("query", "analytics", "betweenness", "--sample", "1",
      "--limit", "5")
    assert(bt.contains("betweenness_ppm"))
    val cl = capture("query", "analytics", "closeness", "--sample", "1",
      "--limit", "5")
    assert(cl.contains("closeness_ppm"))
    val md = capture("query", "analytics", "modularity")
    assert(md.contains("q_ppm") && md.contains("n_communities"))
    val wk = capture("query", "analytics", "walks", "--sample", "1",
      "--limit", "10")
    assert(wk.contains("walk_uid") && wk.contains("step"))
    val sh = capture("query", "analytics", "shape")
    assert(sh.contains("reciprocity_ppm") && sh.contains("clustering_ppm")
      && sh.contains("assortativity"))
    val bw = capture("query", "analytics", "bowtie")
    assert(bw.contains("component") && bw.contains("n_nodes"))
    val lc = capture("query", "analytics", "lcc", "--limit", "5")
    assert(lc.contains("lcc_ppm") && lc.linesIterator.next().startsWith("uid"))
    val sp = capture("query", "analytics", "sparsify", "--k", "2",
      "--limit", "5")
    assert(sp.contains("caller_uid") && sp.contains("w_total"))
  }

  test("import merge upserts; database bootstrap + refresh maintain the composed store") {
    import java.nio.file.{Files, Paths}
    val res = getClass.getResource("/analysis").getPath
    // merge: re-import the same directory into a fresh store — counts
    // must not change (idempotent upsert)
    val mStore = Files.createTempDirectory("cli_merge").toString + "/db"
    Cli.run(Seq("--store", mStore, "import", "directory", res,
      "--no-validate"), spark)
    val before = importer.GraphStore.load(spark, mStore).functions.count()
    capture2(mStore, "import", "merge", res)
    assert(importer.GraphStore.load(spark, mStore).functions.count() == before)
    // composed store: bootstrap from the fixtures, refresh with a new
    // binary — graph/index/sigs all exist and the graph gained it
    val root = Files.createTempDirectory("cli_root").toString + "/stores"
    capture2(root, "database", "bootstrap", res)
    val delta = Files.createTempDirectory("cli_delta").toString
    Files.writeString(Paths.get(delta, "d.json"),
      """{"binary_info": {"hashes": {"sha256": "ddd444"}, "name": "d.exe",
        |"file_path": "/tmp/d.exe", "file_size": 64,
        |"file_type": {"type": "PE32", "architecture": "x86_64"}},
        |"functions": [{"name": "f", "address": "0x600000", "size": 8}],
        |"strings": [{"value": "fresh delta string", "address": "0x6100"}]}"""
        .stripMargin)
    capture2(root, "database", "refresh", delta)
    Seq("graph", "index", "sigs").foreach { d =>
      assert(java.nio.file.Files.exists(Paths.get(s"$root/$d")), d)
    }
    val g = importer.GraphStore.load(spark, s"$root/graph")
    assert(g.binaries.filter("hash = 'ddd444'").count() == 1)
    // the refreshed index serves the delta's string
    val idx = search.Fulltext.loadIndex(spark, s"$root/index")
    assert(search.Fulltext.searchIndex(idx, Seq("fresh", "delta")).count() >= 1)
  }

  test("import prints the saved store's stats") {
    val res = getClass.getResource("/analysis").getPath
    val st = java.nio.file.Files.createTempDirectory("cli_stats").toString + "/db"
    val csv = capture2(st, "import", "directory", res, "--no-validate", "--format", "csv")
      .linesIterator.toSeq
    val want = importer.JsonImporter.stats(importer.GraphStore.load(spark, st))
    assert(csv.head.split(",").toSeq == want.columns.toSeq)
    assert(csv.tail == Seq(want.head().toSeq.mkString(",")))
    assert(want.head().getLong(1) > 0)
  }

  private def capture2(st: String, args: String*): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      Cli.run(Seq("--store", st) ++ args, spark)
    }
    bos.toString("UTF-8").trim
  }

  test("csv quoting escapes commas and quotes") {
    val csv = Cli.renderCsv(Seq("a", "b"),
      Seq(Seq("""say "hi"""", "x,y"), Seq("plain", "z")))
    assert(csv.linesIterator.toSeq(1) == "\"say \"\"hi\"\"\",\"x,y\"")
    assert(csv.linesIterator.toSeq(2) == "plain,z")
  }

  test("table widths fit the widest cell") {
    val t = Cli.renderTable(Seq("col", "n"), Seq(Seq("short", "1"),
      Seq("a-much-longer-cell", "22")))
    val lines = t.linesIterator.toSeq
    // the "n" column starts after the widest col-1 cell in every row
    val off = lines.last.indexOf("22")
    assert(lines.head.substring(off).startsWith("n"))
    assert(lines(2).substring(off).startsWith("1") || lines(2).trim.endsWith("1"))
  }
}

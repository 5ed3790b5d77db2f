package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.importer.{GraphStore, JsonImporter}
import graft.queries.GraphQueryEngine

/** End-to-end reference-CLI parity: import the fixture analyses, then
  * run every `query …` surface the reference exposes and check the
  * hand-derived answers.
  */
class GraphQueryEngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  // served from a saved store, as the CLI serves it: an imported
  // graph's plans would redo the whole JSON import in every action
  lazy val engine = {
    val store = java.nio.file.Files.createTempDirectory("graft_engine_store").toString
    GraphStore.save(JsonImporter.importAnalysis(spark,
      getClass.getResource("/analysis").getPath), store, partitions = 2)
    new GraphQueryEngine(GraphStore.load(spark, store))
  }

  test("query functions by pattern, optionally binary-scoped") {
    val all = engine.queryFunctions("main").collect()
    assert(all.map(_.getAs[String]("uid")).toSet ==
      Set("bbb222:0x1000")) // bin1 "main" was overwritten by export name
    val scoped = engine.queryFunctions("e", Some("sample.exe")).collect()
    assert(scoped.map(_.getAs[String]("uid")).toSet ==
      Set("aaa111:0x401000", "aaa111:0x401200",
        "imp:kernel32.dll:CreateFileA", "imp:ws2_32.dll:send"))
  }

  test("binary info lookup by filename fragment") {
    val b = engine.queryBinaryInfo("other").collect()
    assert(b.length == 1 && b(0).getAs[String]("hash") == "bbb222")
  }

  test("callgraph: callees and callers within depth") {
    val cg = engine.callgraph("exported_entry", maxDepth = 3).collect()
      .map(r => (r.getAs[String]("direction"), r.getAs[String]("uid"))).toSet
    assert(cg == Set(
      ("callee", "aaa111:0x401200"),
      ("callee", "imp:kernel32.dll:CreateFileA")))
  }

  test("call paths carry the offset chain") {
    val p = engine.callPaths("exported_entry", maxDepth = 3).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[String]("offsets"), r.getAs[Int]("depth")))
    assert(p.length == 2) // entry→helper, entry→helper→CreateFileA
    assert(p.exists(_._3 == 2))
  }

  test("call sequences ordered by call site") {
    val s = engine.callSequences("exported_entry").collect()
    assert(s.length == 1 && s(0).getAs[String]("callee") == "aaa111:0x401200")
    val cs = engine.callerSequences("helper").collect()
    assert(cs.length == 1 && cs(0).getAs[String]("caller") == "aaa111:0x401000")
  }

  test("recursion: direct self-loop found") {
    val r = engine.findRecursion("loop_fn").collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("call_type") == "Direct")
  }

  test("xrefs by address (import table hit included)") {
    val x = engine.xrefs("0x403000").collect()
    assert(x.length == 1)
    assert(x(0).getAs[String]("from_function") == "aaa111:0x401200")
    assert(x(0).getAs[String]("to_function") == "imp:kernel32.dll:CreateFileA")
  }

  test("enhanced callgraph carries direct-call frequencies") {
    val e = engine.enhancedCallGraph("exported_entry").collect()
      .map(r => (r.getAs[String]("uid"), r.getAs[Long]("frequency"))).toMap
    assert(e == Map("aaa111:0x401200" -> 1L, "imp:kernel32.dll:CreateFileA" -> 0L))
  }

  test("call context combines downward paths and upward chains") {
    val ctx = engine.analyzeCallContext("helper").collect()
    val roles = ctx.map(_.getAs[String]("role")).toSet
    assert(roles == Set("downward_path", "upward_chain"))
    val ins = engine.contextInsights("helper").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ins("caller_sequences") == 1L)
  }

  test("validate flags missing binary_info fields") {
    import spark.implicits._
    val bad = spark.read.json(Seq(
      """{"binary_info": {"name": "x.exe"}}""",
      """{"functions": []}""").toDS())
    val v = graft.importer.JsonImporter.validate(bad).collect()
      .map(r => r.getAs[String]("file") -> r.getAs[Boolean]("valid")).toMap
    assert(v("x.exe") == false && v("<unknown>") == false)
    val good = graft.importer.JsonImporter.validate(
      graft.importer.JsonImporter.readAnalysis(spark,
        getClass.getResource("/analysis").getPath)).collect()
    assert(good.forall(_.getAs[Boolean]("valid")))
  }

  test("graph analytics over the imported callgraph map back to uids") {
    // components: entry->helper->CreateFileA are one component
    val comp = engine.components().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("aaa111:0x401000") == comp("aaa111:0x401200") &&
      comp("aaa111:0x401200") == comp("imp:kernel32.dll:CreateFileA"))
    // pagerank: the sink (CreateFileA) outranks the root in its chain
    val pr = engine.pageRank().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("imp:kernel32.dll:CreateFileA") > pr("aaa111:0x401000"))
    // the fixture chain graph has no 2-core and no triangles
    assert(engine.kCore(k = 2).collect().isEmpty)
    assert(engine.triangleCount().collect()(0).getLong(0) == 0L)
  }

  test("uid dictionary: collision check falls back to exact zipWithIndex ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val uids = Seq("fn:a", "fn:b", "fn:c", "longer:uid").toDF("uid")
    // injected degenerate hash (length) collides for the three 4-char
    // uids → the build must detect it and produce exact distinct ids
    val dict = GraphQueryEngine.uidDictionary(uids, u => length(u).cast("long"))
    val rows = dict.collect().map(r => (r.getAs[String]("uid"), r.getAs[Long]("id")))
    assert(rows.map(_._1).toSet == Set("fn:a", "fn:b", "fn:c", "longer:uid"))
    assert(rows.map(_._2).distinct.length == 4, s"ids not distinct: ${rows.toSeq}")
    // the fallback selects uid BY NAME: an extra leading column in the
    // input must not corrupt the dictionary
    val wide = uids.select(lit(99).as("junk"), col("uid"))
    val dict2 = GraphQueryEngine.uidDictionary(wide, u => length(u).cast("long"))
    assert(dict2.collect().map(_.getAs[String]("uid")).toSet == rows.map(_._1).toSet)
    // non-colliding path keeps the hash ids (no fallback pass)
    val hashed = GraphQueryEngine.uidDictionary(uids)
    assert(hashed.collect().map(_.getAs[Long]("id")).distinct.length == 4)
  }

  test("fulltext strings search with per-binary sample count") {
    val hits = engine.queryStrings(Seq("hello", "world")).collect()
    assert(hits.length == 1)
    assert(hits(0).getAs[String]("value") == "hello world")
    assert(hits(0).getAs[Long]("sample_count") == 2) // in both binaries
    val scoped = engine.queryStrings(Seq("bitcoin"), Some("sample.exe")).collect()
    assert(scoped.length == 1 && scoped(0).getAs[String]("value") == "Pay Bitcoin now")
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Chunk-sequentiality gates (r12 verdict #6): the chunked
  * betweenness and band-chunked rerank dispatches claim "peak spill ≈
  * one chunk" — true only while each chunk is EAGERLY materialized at
  * construction time, so the returned plan unions checkpoint SCANS.
  * If that discipline drifts (a dropped localCheckpoint(true)), the
  * union lazily co-materializes every chunk's candidate join / sweep
  * in ONE job at first action — the disk-fill mode the dispatches
  * exist to prevent. These tests force the chunked branch on small
  * data and assert the structural invariant directly on the plan:
  * below the union there are no joins and no source scans, only
  * already-materialized RDD scans. (The KtrussCompareProbe pattern:
  * gate the mechanism, not the wall time.)
  */
class ChunkSequentialSpec extends AnyFunSuite with BroadcastOff {
  lazy val spark: SparkSession = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("band-chunked rerank: returned plan unions materialized chunk scans only") {
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") < 100)
    val single = pipeline.Similarity.embeddingNearDup(emb, 0.4)
      .collect().map(_.toSeq).toSet
    sys.props("graft.emb.pair.budget") = "1000" // force ~4 chunks
    sys.props("graft.emb.bcast.rows") = "1" // rule out the streamed branch
    try {
      val out = pipeline.Similarity.embeddingNearDup(emb, 0.4)
      val p = fmt(out)
      assert(p.contains("Union"), s"expected a chunk union:\n$p")
      assert(!p.contains("Join"),
        s"chunk internals leak past the union — chunks no longer " +
          s"materialize at construction:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"union leaves are not checkpoint scans:\n$p")
      // exactness of the disjoint decomposition: chunked ≡ single-pass
      assert(out.collect().map(_.toSeq).toSet === single)
    } finally {
      sys.props.remove("graft.emb.pair.budget")
      sys.props.remove("graft.emb.bcast.rows")
    }
  }

  test("source-chunked betweenness: returned plan unions materialized sweep scans only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L),
      (2L, 4L), (5L, 1L), (3L, 5L)).toDF("src", "dst")
    val sources = Seq(1L, 2L, 3L, 4L).toDF("node")
    val single = graph.Ranking.betweennessSampled(edges, sources)
      .collect().map(_.toSeq).toSet
    sys.props("graft.bw.cell.budget") = "1" // one source per chunk
    try {
      val out = graph.Ranking.betweennessSampled(edges, sources)
      val p = fmt(out)
      assert(p.contains("Union"), s"expected a sweep union:\n$p")
      assert(!p.contains("Join"),
        s"sweep internals leak past the union — sweeps no longer " +
          s"materialize at construction:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"union leaves are not checkpoint scans:\n$p")
      assert(out.collect().map(_.toSeq).toSet === single)
    } finally sys.props.remove("graft.bw.cell.budget")
  }

  test("start-chunked recursion DP: returned plan unions materialized sweep scans only") {
    // broadcast off: a graph this small would run the DP on the driver
    withoutBroadcast(chunkedRecursion())
  }

  private def chunkedRecursion(): Unit = {
    import spark.implicits._
    // self-loop, a 2-cycle, two overlapping 3-cycles, a 4-cycle —
    // exercises every depth bucket plus the d=4 trail correction
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (3L, 4L), (4L, 1L), (5L, 5L), (4L, 2L))
      .map { case (s, d) => (s, d, 0L) }.toDF("src", "dst", "offset")
    val starts = Seq(1L, 2L, 3L, 4L).toDF("node")
    val single = graph.Traversal.recursion(edges, starts, maxDepth = 4)
      .collect().map(_.toSeq).toSet
    sys.props("graft.rec.cell.budget") = "1" // force the chunked branch
    try {
      val out = graph.Traversal.recursion(edges, starts, maxDepth = 4)
      val p = fmt(out)
      assert(p.contains("Union"), s"expected a sweep union:\n$p")
      assert(!p.contains("Join"),
        s"sweep internals leak past the union — per-depth outputs no " +
          s"longer materialize at construction:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"union leaves are not checkpoint scans:\n$p")
      assert(out.collect().map(_.toSeq).toSet === single)
    } finally sys.props.remove("graft.rec.cell.budget")
  }

  test("start-chunked reach counts: returned plan unions materialized chunk scans only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L),
      (2L, 4L), (5L, 1L), (3L, 5L), (6L, 1L))
      .map { case (s, d) => (s, d, 0L) }.toDF("src", "dst", "offset")
    val starts = Seq(1L, 2L, 3L, 6L).toDF("node")
    val single = graph.Traversal.reachCountsChunked(edges, starts, 2)
      .collect().map(_.toSeq).toSet
    // cross-check the single-pass dispatch against the raw pair set
    val raw = graph.Traversal.reachWithin(edges, starts, 2)
      .groupBy("start").agg(count(lit(1)).as("n_reach"))
      .collect().map(_.toSeq).toSet
    assert(single === raw)
    sys.props("graft.anf.cell.budget") = "1" // force the chunked branch
    try {
      val out = graph.Traversal.reachCountsChunked(edges, starts, 2)
      val p = fmt(out)
      assert(p.contains("Union"), s"expected a chunk union:\n$p")
      assert(!p.contains("Join"),
        s"chunk internals leak past the union — chunk aggregates no " +
          s"longer materialize at construction:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"union leaves are not checkpoint scans:\n$p")
      assert(out.collect().map(_.toSeq).toSet === single)
    } finally sys.props.remove("graft.anf.cell.budget")
  }

  test("caller bound hints: zero-count single-pass gate is output-identical " +
    "and over-bounds fall through to the measured dispatch") {
    // broadcast off: a graph this small would run the DP on the driver
    withoutBroadcast(boundHints())
  }

  private def boundHints(): Unit = {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (3L, 4L), (4L, 1L), (5L, 5L), (4L, 2L))
      .map { case (s, d) => (s, d, 0L) }.toDF("src", "dst", "offset")
    val starts = Seq(1L, 2L, 3L, 4L).toDF("node")
    val recBase = graph.Traversal.recursion(edges, starts, 4)
      .collect().map(_.toSeq).toSet
    // proving bounds → single pass, no dispatch counts
    assert(graph.Traversal.recursion(edges, starts, 4,
      startBound = Some(4L), edgeBound = Some(9L))
      .collect().map(_.toSeq).toSet === recBase)
    val anfBase = graph.Traversal.reachCountsChunked(edges, starts, 2)
      .collect().map(_.toSeq).toSet
    assert(graph.Traversal.reachCountsChunked(edges, starts, 2,
      startBound = Some(4L), nodeBound = Some(5L))
      .collect().map(_.toSeq).toSet === anfBase)
    // bounds that DON'T fit the (forced tiny) budget must fall through
    // to the measured path and still chunk — the hint can never skip a
    // needed chunking, only prove a safe single pass
    sys.props("graft.rec.cell.budget") = "1"
    sys.props("graft.anf.cell.budget") = "1"
    try {
      val rec = graph.Traversal.recursion(edges, starts, 4,
        startBound = Some(4L), edgeBound = Some(9L))
      assert(fmt(rec).contains("Union"))
      assert(rec.collect().map(_.toSeq).toSet === recBase)
      val anf = graph.Traversal.reachCountsChunked(edges, starts, 2,
        startBound = Some(4L), nodeBound = Some(5L))
      assert(fmt(anf).contains("Union"))
      assert(anf.collect().map(_.toSeq).toSet === anfBase)
    } finally {
      sys.props.remove("graft.rec.cell.budget")
      sys.props.remove("graft.anf.cell.budget")
    }
  }

  test("chunkCellBudget: explicit override wins; derived budget is " +
    "clamped to [default/8, default*8]") {
    sys.props("graft.test.cell.budget") = "12345"
    try assert(graph.Traversal.chunkCellBudget("graft.test.cell.budget",
      "GRAFT_TEST_NO_SUCH_ENV", 25.0, 1000000000L) === 12345L)
    finally sys.props.remove("graft.test.cell.budget")
    val derived = graph.Traversal.chunkCellBudget("graft.test.cell.budget",
      "GRAFT_TEST_NO_SUCH_ENV", 25.0, 1000000000L)
    assert(derived >= 1000000000L / 8 && derived <= 1000000000L * 8)
  }
}

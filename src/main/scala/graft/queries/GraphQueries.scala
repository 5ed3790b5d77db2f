package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.KeyedFrameMemo
import graft.graph.{Components, Neighborhood, Ranking, Traversal}

/** The reference's graph query surface (BinaryX-Graph: functions /
  * callgraph / call-path / xrefs / stats — src/commands/query.rs),
  * re-expressed over a call graph derived deterministically from the
  * testdata so the DuckDB oracle can replay every query.
  *
  * Derived model (SURVEY.md §4):
  *  - CALLS edge (caller, callee, offset) := lineitem grouped by
  *    (l_orderkey % M, l_partkey % M) with offset = min(l_linenumber)
  *  - "binaries" := supplier, "strings" := documents
  *  - hierarchy DAG (orders→customer→nation→region) exercises
  *    upward-context and component ops with natural keys.
  */
object GraphQueries {

  /** Node-space modulus FLOOR: keeps mean out-degree ~12 at sf0.01
    * (walk enumeration stays bounded) while the graph still has
    * cycles. The effective modulus is [[modulus]]. */
  val M = 5000L

  /** SCALE-STABLE node-space modulus: max(M, |lineitem| / 120).
    * Exactly M for every sf ≤ 0.1 (600k/120 = 5000 — the gate-SF
    * graphs are bit-identical to the fixed-M era), then growing
    * linearly with the data so mean out-degree stays ~100 instead of
    * densifying. A fixed modulus made the derived graph degenerate at
    * organic sf1 (6M call sites over 5000 nodes ≈ complete graph:
    * path enumeration is outdeg^depth — one r9 board task burned 36
    * CPU-minutes concatenating path strings), which models nothing: a
    * 10× corpus has ~10× the functions, not 10× the wiring density.
    * The oracle computes the same value via
    * GREATEST(5000, COUNT(*) // 120) over the same table. */
  def modulus(s: SparkSession, d: String): Long =
    math.max(M, lineitemCount(s, d) / 120L)

  /** One metadata-fast lineitem row count per (session, dir) — the
    * scalar the modulus derivation already paid for, now exposed so
    * dispatch gates can PROVE bounds (|edges| ≤ |lineitem|) without
    * fresh count() jobs (r14 verdict ask #4). A scalar, so a plain
    * map rather than a frame memo. */
  private val lineCountMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  def lineitemCount(s: SparkSession, d: String): Long =
    lineCountMemo.getOrElseUpdate((s, d), Tables.lineitem(s, d).count())

  /** One cached edge DataFrame per (session, dir): repeated queries
    * in a session reuse the same object, so the CacheManager never
    * sees a second (plan-identical) cache registration — no
    * "already cached" churn/warnings across a 40-query bench run.
    *
    * CONSTRAINT (shared by every (session, dir) memo below): the key
    * has no dataset fingerprint, so the parquet under `dir` must be
    * immutable for the session's lifetime — regenerating the
    * directory in-session would serve stale frames. That matches how
    * the engine is driven (Verify/Bench/CLI read driver-written,
    * write-once test directories); if in-session regeneration ever
    * becomes a use case, key on a content fingerprint (e.g. the
    * directory's file list + sizes) instead. */
  private val edgeMemo = new KeyedFrameMemo[(SparkSession, String)]

  /** The derived CALLS edge table: one narrow groupBy over lineitem;
    * at scale this is a single shuffle on the (caller, callee) pair,
    * partial-aggregated map-side. Cached once per (session, dir) —
    * iterative traversals would otherwise rescan + reaggregate
    * lineitem at every BFS/walk level.
    */
  def callEdges(s: SparkSession, d: String): DataFrame =
    edgeMemo.getOrBuild((s, d))(
      Tables.lineitem(s, d)
        .select((col("l_orderkey") % modulus(s, d)).as("src"),
          (col("l_partkey") % modulus(s, d)).as("dst"),
          col("l_linenumber").cast("long").as("off"))
        .groupBy("src", "dst")
        .agg(min("off").as("offset"))
        .cache())

  /** Gated start sets for the traversal/path family, rate-picked then
    * CAPPED at 64 sources by deterministic md5 rank (the betweenness
    * discipline, uniformly applied): a pure rate grows every
    * per-start sweep — BFS cones, path enumeration, the recursion DP
    * whose state is |starts|×|V| — linearly with the graph on top of
    * the graph's own growth. At the gate SFs ≤ 10 candidates exist
    * per pick, so the cap is a no-op and all outputs are unchanged;
    * the oracles mirror it as ORDER BY md5 LIMIT 64. */
  private def capStarts(starts: DataFrame): DataFrame =
    starts.orderBy(md5(col("node").cast("string"))).limit(64)
  private def downStarts(e: DataFrame): DataFrame =
    capStarts(e.select(col("src").as("node"))
      .filter(col("node") % 1000 === 7).distinct())
  private def upStarts(e: DataFrame): DataFrame =
    capStarts(e.select(col("dst").as("node"))
      .filter(col("node") % 1000 === 3).distinct())
  private def recStarts(e: DataFrame): DataFrame =
    capStarts(e.select(col("src").as("node"))
      .filter(col("node") % 500 === 7).distinct())

  /** B3 callgraph: DISTINCT callees and callers within maxDepth of
    * the start set (reference importer.rs:471-550). */
  def callgraphBfs(s: SparkSession, d: String, maxDepth: Int = 3): DataFrame = {
    val e = callEdges(s, d)
    val starts = downStarts(e)
    Traversal.bfs(e, starts, maxDepth).withColumn("direction", lit("down"))
      .unionByName(
        Traversal.bfs(e, starts, maxDepth, reverse = true)
          .withColumn("direction", lit("up")))
      .select("direction", "node", "depth")
      .orderBy("direction", "node")
  }

  /** B4 downward call paths (call_path_analyzer.rs:20-110). */
  def callPathsDown(s: SparkSession, d: String, maxDepth: Int = 3): DataFrame = {
    val e = callEdges(s, d)
    Traversal.walks(e, downStarts(e), maxDepth)
      .select("start", "path", "offsets", "depth")
      .orderBy("start", "depth", "path")
  }

  /** B6 upward call chains (call_path_analyzer.rs:334-430). */
  def callChainUp(s: SparkSession, d: String, maxDepth: Int = 3): DataFrame = {
    val e = callEdges(s, d)
    Traversal.walks(e, upStarts(e), maxDepth, reverse = true)
      .select("start", "path", "offsets", "depth")
      .orderBy("start", "depth", "path")
  }

  /** B5 call sequences: a function's callees in call-site (offset)
    * order (call_path_analyzer.rs:196-251). */
  def callSequences(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    e.join(broadcast(downStarts(e)), e("src") === col("node"))
      .select(col("src").as("caller"), col("dst").as("callee"), col("offset").as("call_offset"))
      .withColumn("ord", row_number().over(
        Window.partitionBy("caller").orderBy(col("call_offset"), col("callee"))))
      .orderBy("caller", "ord")
  }

  /** B7 caller sequences: who calls the target, in offset order
    * (call_path_analyzer.rs:433-500). */
  def callerSequences(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    e.join(broadcast(upStarts(e)), e("dst") === col("node"))
      .select(col("dst").as("callee"), col("src").as("caller"), col("offset").as("call_offset"))
      .withColumn("ord", row_number().over(
        Window.partitionBy("callee").orderBy(col("call_offset"), col("caller"))))
      .orderBy("callee", "ord")
  }

  /** B8 recursion detection (call_path_analyzer.rs:253-331).
    * The dispatch bounds come from numbers the board already holds:
    * the start pick is md5-capped at 64 ([[capStarts]]) and the
    * deduped edge set can't exceed the lineitem row count (the
    * modulus memo's scalar) — so the gate SFs prove the single-pass
    * plan with zero dispatch count() jobs (r14 verdict ask #4). */
  def recursionDetect(s: SparkSession, d: String, maxDepth: Int = 4): DataFrame = {
    val e = callEdges(s, d)
    Traversal.recursion(e, recStarts(e), maxDepth,
      startBound = Some(64L), edgeBound = Some(lineitemCount(s, d)))
      .orderBy("call_type", "node", "depth")
  }

  /** B9 per-callee call frequency — counts raw call *sites* (every
    * lineitem row), not the deduped edge (call_path_analyzer.rs:160-190). */
  def callFrequencies(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select((col("l_orderkey") % modulus(s, d)).as("caller"),
        (col("l_partkey") % modulus(s, d)).as("callee"))
      .filter(col("caller") % 1000 === 7)
      .groupBy("caller", "callee")
      .agg(count(lit(1)).as("frequency"))
      .orderBy("caller", "callee")

  /** B10 xrefs: all edges touching the target node set, by "address"
    * (importer.rs:552-602). */
  def xrefs(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    e.filter(col("src") % 1000 === 5 || col("dst") % 1000 === 5)
      .select(col("src").as("from_fn"), col("dst").as("to_fn"), col("offset").as("call_offset"))
      .orderBy("from_fn", "to_fn")
  }

  /** B1 functions-by-pattern: substring match, pushed into the scan
    * (importer.rs:322-376). */
  def fnSearch(s: SparkSession, d: String, pattern: String = "gear"): DataFrame =
    Tables.part(s, d)
      .filter(col("p_name").contains(pattern))
      .select(col("p_partkey").as("uid"), col("p_name").as("name"),
        col("p_type").as("fn_type"), col("p_size").cast("long").as("size"))
      .orderBy("uid")
      .limit(100)

  /** B2 binary-info lookup (importer.rs:431-469). */
  def binaryInfo(s: SparkSession, d: String, pattern: String = "00000004"): DataFrame =
    Tables.supplier(s, d)
      .filter(col("s_name").contains(pattern))
      .select(col("s_suppkey").as("hash"), col("s_name").as("filename"),
        col("s_nationkey").cast("long").as("arch"),
        round(col("s_acctbal"), 2).as("file_size"))
      .orderBy("hash")
      .limit(1)

  /** A5 database stats: one multi-count row (importer.rs:27-80).
    * Four independent single-row aggs crossJoined — each input scanned
    * once, no wide shuffle. */
  def graphStats(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val nodes = e.select(col("src").as("n")).unionByName(e.select(col("dst").as("n")))
      .agg(countDistinct("n").as("n_functions"))
    val calls = e.agg(count(lit(1)).as("n_calls"))
    val bins = Tables.supplier(s, d).agg(count(lit(1)).as("n_binaries"))
    val strs = Tables.documentsShared(s, d).agg(count(lit(1)).as("n_strings"))
    nodes.crossJoin(calls).crossJoin(bins).crossJoin(strs)
  }

  /** C2 out-degree histogram. */
  def graphDegrees(s: SparkSession, d: String): DataFrame =
    Traversal.outDegreeHistogram(callEdges(s, d)).orderBy("out_deg")

  /** Hierarchy edges for component / lineage ops: customer→nation,
    * supplier→nation, nation→region in one encoded long id space. */
  def hierarchyEdges(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(
      (col("c_custkey") + 1000000L).as("src"),
      (col("c_nationkey").cast("long") + 1000L).as("dst"))
    val su = Tables.supplier(s, d).select(
      (col("s_suppkey") + 100000000L).as("src"),
      (col("s_nationkey").cast("long") + 1000L).as("dst"))
    val n = Tables.nation(s, d).select(
      (col("n_nationkey").cast("long") + 1000L).as("src"),
      col("n_regionkey").cast("long").as("dst"))
    c.unionByName(su).unionByName(n)
  }

  /** C1 connected components over the hierarchy graph: label = the
    * region key (min id in each component by construction). Goes
    * through the engine chooser (C6): the diameter-3 hierarchy
    * converges inside the label-prop budget; a high-diameter graph
    * would restart on the O(log n) alternating-star path. */
  def graphComponents(s: SparkSession, d: String): DataFrame =
    hierLabels(s, d).orderBy("node")

  /** One materialized C1 labeling per (session, dir) — served to the
    * node-level query and its size-distribution twin. */
  private val hierMemo = new KeyedFrameMemo[(SparkSession, String)]
  private def hierLabels(s: SparkSession, d: String): DataFrame =
    hierMemo.getOrBuild((s, d))(
      Components.auto(hierarchyEdges(s, d)).localCheckpoint(true))

  /** C54 component-size distribution — the D90 summary-twin
    * discipline applied to C1: (component size → how many components
    * have it), the connectivity-health read whose output is
    * O(distinct sizes) rows no matter the graph — at 100 TB the
    * node-level labeling is a join input, THIS is the monitoring
    * frame. Rides the shared [[hierLabels]] memo; two narrow
    * map-combinable aggs. */
  def graphComponentSizes(s: SparkSession, d: String): DataFrame =
    hierLabels(s, d)
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .orderBy("component_size")

  /** C30 full-depth strongly connected components over the call
    * graph (mutual recursion at ANY depth — the unbounded complement
    * of recursionGroups' bounded radius): FW-coloring + trim,
    * Components.stronglyConnected. scc_id = min member id. */
  /** One materialized SCC labeling per (session, dir) — the C30
    * result is consumed by both the SCC query and the C40 bow-tie
    * rollup, so the FW-coloring fixpoint runs once. */
  private val sccMemo = new KeyedFrameMemo[(SparkSession, String)]
  private def sccLabels(s: SparkSession, d: String): DataFrame =
    sccMemo.getOrBuild((s, d))(
      Components.stronglyConnected(callEdges(s, d)).localCheckpoint(true))

  def graphScc(s: SparkSession, d: String): DataFrame =
    sccLabels(s, d).orderBy("node")

  /** C40 bow-tie macro structure relative to the giant SCC
    * (Components.bowTieFrom over the shared SCC memo): core / in /
    * out / other node counts. */
  def graphBowTie(s: SparkSession, d: String): DataFrame =
    Components.bowTieFrom(sccLabels(s, d), callEdges(s, d))

  /** C7 PageRank over the call graph: function importance ranking
    * (3 power iterations, scaled formulation — Ranking.pageRank). */
  def graphPageRank(s: SparkSession, d: String): DataFrame =
    Ranking.pageRank(callEdges(s, d)).orderBy("node")

  /** Frequency-weighted PageRank: importance with mass flowing in
    * proportion to CALL-SITE COUNT per edge — the hot-path ranking
    * uniform PageRank flattens (Ranking.pageRankWeighted). Weights
    * come from the same lineitem scan as [[callEdges]], aggregated
    * to counts instead of min-offset. */
  def graphPageRankWeighted(s: SparkSession, d: String): DataFrame = {
    val w = Tables.lineitem(s, d)
      .select((col("l_orderkey") % modulus(s, d)).as("src"),
        (col("l_partkey") % modulus(s, d)).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
    Ranking.pageRankWeighted(w).orderBy("node")
  }

  /** C43 top-k out-edge sparsifier over the call-frequency weights
    * (Ranking.sparsifyTopK): each function's 4 hottest callees +
    * what the cut discarded. */
  def graphSparsify(s: SparkSession, d: String): DataFrame = {
    val w = Tables.lineitem(s, d)
      .select((col("l_orderkey") % modulus(s, d)).as("src"),
        (col("l_partkey") % modulus(s, d)).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
    Ranking.sparsifyTopK(w, k = 4)
  }

  /** C8 triangle count: callgraph clustering structure via the
    * degree-oriented sorted-adjacency intersect (Ranking.triangleCount). */
  def graphTriangles(s: SparkSession, d: String): DataFrame =
    Ranking.triangleCount(callEdges(s, d))

  /** C9 k-core backbone of the call graph (Ranking.kCoreBounded):
    * survivors of 8 peel-below-degree-5 rounds with their core
    * degree. */
  def graphKCore(s: SparkSession, d: String): DataFrame =
    Ranking.kCoreBounded(callEdges(s, d))

  /** C27 4-truss backbone: edges in ≥2 triangles after the peel
    * cascade settles (Ranking.kTrussBounded) — the cohesive cores
    * sharper than k-core's degree cut. */
  /** One materialized triangle-support index per (session, dir) —
    * the graph engine's analogue of the CALLS edge cache: ktruss and
    * weak-ties both consume exact per-edge supports over the same
    * undirected graph, so the O(Σdeg²) intersect pass is built once
    * and served to both (localCheckpoint so neither query re-derives
    * the lineage). */
  private val supMemo = new KeyedFrameMemo[(SparkSession, String)]
  private def supportIndex(s: SparkSession, d: String): DataFrame =
    supMemo.getOrBuild((s, d))(
      Ranking.edgeSupportIndex(callEdges(s, d)).localCheckpoint(true))

  def graphKTruss(s: SparkSession, d: String): DataFrame =
    Ranking.kTrussFromSupports(supportIndex(s, d), k = 4, rounds = 6)

  /** C28 weak-tie (local-bridge) profile per function: which nodes'
    * call edges mostly cross community boundaries
    * (Ranking.weakTies). */
  def graphWeakTies(s: SparkSession, d: String): DataFrame =
    Ranking.weakTiesFromSupports(supportIndex(s, d))

  /** C29 full core decomposition (coreness ≤ 6 per function) — the
    * graph's load-bearing onion layers (Ranking.coreness). */
  def graphCoreness(s: SparkSession, d: String): DataFrame =
    Ranking.coreness(callEdges(s, d), maxK = 6, rounds = 8)

  /** C10 multi-source weighted shortest paths: cheapest ≤4-hop call
    * cost from the entry set to every reachable function (bounded
    * Bellman-Ford, Traversal.shortestPaths — integer offsets as
    * weights, fixed 4 rounds replayed by the oracle). */
  def graphSssp(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    Traversal.shortestPaths(e, downStarts(e), rounds = 4).orderBy("node")
  }

  /** C11 personalized PageRank: importance relative to the entry set
    * (teleport mass only on seeds — Ranking.personalizedPageRank),
    * restricted to the seeds' forward cone. */
  def graphPpr(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    Ranking.personalizedPageRank(e, downStarts(e)).orderBy("node")
  }

  /** C52 batch personalized PageRank: every 1-in-1500 entry point
    * gets its own 3-round PPR cone in one edge pass per round
    * (Ranking.personalizedPageRankBatch) — the "rank from EACH of
    * these k roots" form C10 answers one seed set at a time. */
  def graphPprBatch(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val seeds = e.select(col("src").as("seed"))
      .filter(col("seed") % 1500 === 9).distinct()
    Ranking.personalizedPageRankBatch(e, seeds).orderBy("seed", "node")
  }

  /** B15 mutual-recursion groups: components over the bounded
    * (depth ≤ 2) mutual-reachability pairs among the scoped functions
    * (Neighborhood.recursionGroups) — the multi-node generalization of
    * B8's per-node recursion flags. */
  def recursionGroups(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val scope = e.select(col("src").as("node"))
      .filter(col("node") % 50 === 7).distinct()
    Neighborhood.recursionGroups(e, scope, maxDepth = 2)
  }

  /** C12 callee-set Jaccard similarity (binary-diffing candidate
    * pairs): hub callees capped at in-degree 100, threshold J ≥ 1/5
    * tested as an exact integer inequality
    * (Neighborhood.calleeJaccard). */
  def neighborSim(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val callers = e.select(col("src").as("node")).distinct()
    Neighborhood.calleeJaccard(e, callers, hubCap = 100, tauNum = 1, tauDen = 5)
  }

  /** C26 Adamic-Adar link prediction: unlinked caller pairs ranked by
    * rarity-weighted shared callees (Neighborhood.adamicAdar) — the
    * "which functions are probably ports of each other" shortlist. */
  def adamicAdar(s: SparkSession, d: String): DataFrame =
    Neighborhood.adamicAdar(callEdges(s, d), hubCap = 100, minShared = 2,
      topK = 100)

  /** Resource-allocation link prediction: adamicAdar's harder-decay
    * sibling (weights ⌊10⁶/indeg⌋ — pure integer, no log), same
    * hub-capped candidate plan (Neighborhood.resourceAllocation). */
  def resourceAlloc(s: SparkSession, d: String): DataFrame =
    Neighborhood.resourceAllocation(callEdges(s, d), hubCap = 100,
      minShared = 2, topK = 100)

  /** B18b cross-binary diff: the derived graph vs a "patched build" —
    * the same derivation restricted to call sites with l_linenumber
    * ≥ 2 (first-seen call sites dropped: a deterministic, meaningful
    * perturbation both engines derive identically). Per changed
    * caller: kept/added/removed callees + callee-set Jaccard
    * (Neighborhood.graphDiff). */
  def graphDiff(s: SparkSession, d: String): DataFrame = {
    val before = callEdges(s, d)
    val after = Tables.lineitem(s, d)
      .filter(col("l_linenumber") >= 2)
      .select((col("l_orderkey") % modulus(s, d)).as("src"),
        (col("l_partkey") % modulus(s, d)).as("dst"))
      .distinct()
    Neighborhood.graphDiff(before, after)
  }

  /** C15 sampled bounded betweenness: which functions sit on the most
    * shortest call paths from a bounded source sample, depth ≤ 3
    * (Ranking.betweennessSampled — Brandes with exact integer path
    * counts and ppm fixed-point dependency accumulation). The sample
    * is the 1-in-200 pick CAPPED at a fixed budget of 64 sources by
    * deterministic md5 rank (the D91 move): a pure rate made the
    * source count — and with it the whole Brandes sweep — grow
    * linearly with the graph, which at organic sf1 (250 sources ×
    * 10× edges ⇒ 100× work) spilled the disk to death. At the gate
    * SFs only 25 candidates exist, so the cap is a no-op and the
    * oracle outputs are unchanged. */
  def graphBetweenness(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val sources = e.select(col("src").as("node"))
      .filter(col("node") % 200 === 7).distinct()
      .orderBy(md5(col("node").cast("string"))).limit(64)
    Ranking.betweennessSampled(e, sources, maxDepth = 3)
  }

  /** C31 deterministic walk corpus: one 6-step hash-drawn walk from
    * every 1-in-50 sampled function — the DeepWalk/node2vec sampling
    * pass whose output feeds a skip-gram embedding trainer
    * (Traversal.walks; md5-keyed neighbor draw, engine-replayable). */
  def graphWalks(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val starts = e.select(col("src").as("node"))
      .filter(col("node") % 50 === 1).distinct()
    Traversal.randomWalks(e, starts, maxLen = 6)
  }

  /** C33 node2vec-biased walk corpus over the same start sample:
    * return/in/out weights (1, 2, 4) ≙ p = 4, q = 1/2 scaled to exact
    * integers (Traversal.randomWalksBiased — weighted draw by
    * hash-replication symmetry, engine-replayable). */
  def graphWalksBiased(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val starts = e.select(col("src").as("node"))
      .filter(col("node") % 50 === 1).distinct()
    Traversal.randomWalksBiased(e, starts, maxLen = 6,
      wReturn = 1, wIn = 2, wOut = 4)
  }

  /** C13 neighborhood function (ANF): |N_≤2(v)| for every function —
    * the "how much of the binary does this function transitively
    * touch" profile (the exact small-d form of the approximate
    * neighborhood function; at 100 TB the same reachWithin frontier
    * carries a HyperLogLog register instead of exact distinct pairs).
    * One reachWithin pass answers ALL starts at once; the count is a
    * narrow per-start aggregation of the pair set. */
  def graphAnf(s: SparkSession, d: String, depth: Int = 2): DataFrame = {
    val e = callEdges(s, d)
    // gate on a 1-in-10 start slice: the EXACT pair set is Θ(Σ|ball|),
    // which saturates as density grows with sf (the all-nodes exact
    // form is graphAnfAll; Traversal.anfApprox is the register-state
    // scale path whose cost never leaves n·m rows)
    val starts = e.select(col("src").as("node"))
      .filter(col("node") % 10 === 3).distinct()
    // start-chunked past the measured cell budget (r13's sf10 disk
    // casualty — Traversal.reachCountsChunked) with bit-exact unions;
    // the gate SFs prove the single-pass plan from the modulus memo's
    // bounds (node ids live in [0, modulus), the residue-3 slice is
    // ≤ ⌈modulus/10⌉) with zero dispatch count() jobs (r14 ask #4)
    val m = modulus(s, d)
    Traversal.reachCountsChunked(e, starts, depth,
      startBound = Some(m / 10 + 1), nodeBound = Some(m))
      .select(col("start").as("node"), col("n_reach"))
      .orderBy("node")
  }

  /** [[graphAnf]] without the start slice — exact ANF for every node. */
  def graphAnfAll(s: SparkSession, d: String, depth: Int = 2): DataFrame = {
    val e = callEdges(s, d)
    val m = modulus(s, d)
    Traversal.reachCountsChunked(e,
      e.select(col("src").as("node")).distinct(), depth,
      startBound = Some(m), nodeBound = Some(m))
      .select(col("start").as("node"), col("n_reach"))
      .orderBy("node")
  }

  /** One materialized depth-≤3 reachLevels sweep per (session, dir,
    * sample residue), shared across the distance family: closeness
    * (C16) and the effective-diameter ladder (C41) read the SAME
    * residue-3 sweep, so it runs once per board. The
    * 1-in-100 pick is CAPPED at 64 sources by deterministic md5 rank
    * (the betweenness lesson): a pure rate grows the source count —
    * and with it the whole Θ(Σ|ball|) sweep — linearly with the
    * graph; the Eppstein-Wang estimator needs O(log n) sources, not
    * a share. At the gate SFs ≤ 50 candidates exist per residue, so
    * the cap is a no-op and oracle outputs are unchanged; the oracle
    * mirrors the cap as ORDER BY md5 LIMIT 64. */
  private val reachMemo = new KeyedFrameMemo[(SparkSession, String, Int)]
  private def reachSlice(s: SparkSession, d: String, residue: Int): DataFrame =
    reachMemo.getOrBuild((s, d, residue)) {
      val e = callEdges(s, d)
      val starts = e.select(col("src").as("node"))
        .filter(col("node") % 100 === residue).distinct()
        .orderBy(md5(col("node").cast("string"))).limit(64)
      Traversal.reachLevels(e, starts, maxDepth = 3).localCheckpoint(true)
    }

  /** C16 bounded closeness centrality (Eppstein-Wang-style sampled
    * estimator): depth-≤3 out-ball sizes and distance sums for the
    * capped 1-in-100 start sample at residue 3, closeness as an exact
    * integer ppm ratio (Ranking.closenessFrom over the shared
    * [[reachSlice]] sweep). */
  def graphCloseness(s: SparkSession, d: String): DataFrame =
    Ranking.closenessFrom(reachSlice(s, d, 3)).orderBy("node")

  /** C44 degree-distribution power-law fit over the C2 histogram
    * (Ranking.degreePowerLaw). */
  def graphPowerLaw(s: SparkSession, d: String): DataFrame =
    Ranking.degreePowerLaw(callEdges(s, d))

  /** C53 Freeman out-degree centralization scalar
    * (Ranking.degreeCentralization) — the hub-dominance one-liner
    * next to C44's power-law fit and C19's assortativity. */
  def graphCentralization(s: SparkSession, d: String): DataFrame =
    Ranking.degreeCentralization(callEdges(s, d))

  /** C42 average-neighbor-degree curve k_nn(d)
    * (Ranking.neighborDegreeCurve) — the function behind C19's
    * assortativity scalar. */
  def graphKnnDegree(s: SparkSession, d: String): DataFrame =
    Ranking.neighborDegreeCurve(callEdges(s, d))

  /** C41 neighborhood-function ladder + effective-diameter read-off
    * over the closeness source sample (Ranking.neighborhoodLadder). */
  def graphEffDiameter(s: SparkSession, d: String): DataFrame =
    Ranking.neighborhoodLadderFrom(reachSlice(s, d, 3))

  /** C21 bounded harmonic centrality over a 1-in-100 start sample:
    * Σ ⌊10⁶/depth⌋ across the depth-≤3 out-ball (Ranking.harmonic) —
    * shares the reachLevels machinery with closeness but needs no
    * reachability special-casing on sparse call graphs. */
  def graphHarmonic(s: SparkSession, d: String): DataFrame =
    Ranking.harmonicFrom(reachSlice(s, d, 7)).orderBy("node")

  /** C36 Katz centrality, 3 bounded integer rounds (Ranking.katz):
    * in-walk counting with geometric α=1/8 decay — the importance
    * signal that sees "called from many important callers" without
    * PageRank's out-degree dilution. */
  def graphKatz(s: SparkSession, d: String): DataFrame =
    Ranking.katz(callEdges(s, d), iters = 3).orderBy("node")

  /** C35 bounded eccentricity over a 1-in-100 start sample: deepest
    * BFS level reached within 3 hops + ball size per source; the
    * sample max is the iFUB-style diameter lower bound
    * (Ranking.eccentricity — the reachLevels pass closeness and
    * harmonic already ride). */
  def graphEccentricity(s: SparkSession, d: String): DataFrame =
    Ranking.eccentricityFrom(reachSlice(s, d, 9)).orderBy("node")

  /** C50 eigenvector centrality, 3 fixed-point integer power-iteration
    * rounds (Ranking.eigenCentrality): raw influence flow over the
    * call graph — the undamped sibling pagerank/Katz/HITS each
    * modulate. */
  def graphEigen(s: SparkSession, d: String): DataFrame =
    Ranking.eigenCentrality(callEdges(s, d), iters = 3).orderBy("node")

  /** C22 HITS hubs/authorities, 2 fixed-point integer rounds
    * (Ranking.hits): dispatcher-vs-utility scores for every function
    * in the call graph. */
  def graphHits(s: SparkSession, d: String): DataFrame =
    Ranking.hits(callEdges(s, d), iters = 2).orderBy("node")

  /** Minimum spanning forest over the call graph, weighted by call
    * offset (Components.minSpanningForest, Borůvka) — the cheapest
    * backbone connecting every function reachable in the undirected
    * call relation. */
  def graphMsf(s: SparkSession, d: String): DataFrame =
    Components.minSpanningForest(callEdges(s, d))

  /** Double-sweep diameter lower bound over the undirected call
    * graph (Traversal.doubleSweepDiameter) — the cheap exact
    * certificate next to graph_effdiam's ANF estimate. */
  def graphDiameter(s: SparkSession, d: String): DataFrame =
    Traversal.doubleSweepDiameter(callEdges(s, d))

  /** SALSA hubs/authorities: the degree-normalized random-walk
    * variant of HITS (Ranking.salsa) — hub flooding suppressed, two
    * exact integer rounds, one final ppm max-scaling. */
  def graphSalsa(s: SparkSession, d: String): DataFrame =
    Ranking.salsa(callEdges(s, d), iters = 2).orderBy("node")

  /** C23 directed triad motif census: feed-forward loops vs directed
    * 3-cycles over the call graph (Ranking.triadCensus) — one row,
    * the layering-vs-tangle shape signal. */
  def graphMotifs(s: SparkSession, d: String): DataFrame =
    Ranking.triadCensus(callEdges(s, d))

  /** C24 bipartite co-occurrence projection: supplier pairs weighted
    * by shared parts, frequent parts (> 30 suppliers) dropped before
    * the pair join (Ranking.cooccurrence) — the co-engagement graph
    * build every entity-resolution pipeline runs. */
  def coSupply(s: SparkSession, d: String): DataFrame =
    coSupplyPairs(s, d).orderBy("a", "b")

  /** The checkpointed co-occurrence pair frame behind C24, memoized
    * per (session, dir): the projection join is the expensive part
    * (≈5M pairs at the 10× probe), so the pair list and its summary
    * twin share ONE materialization.
    *
    * DISK_ONLY, not the default MEMORY_AND_DISK: the pair list is
    * CORPUS-SIZED (it grows with Σ C(deg_item, 2), ~10⁹ rows at
    * organic sf10), and deserialized memory blocks are PINNED while
    * every scan task iterates them — on the r14 sf10 board the
    * summary twin's trivial histogram aggregate could not allocate
    * its initial 256 KB hash map because 32 readers held the entire
    * unified pool (UNABLE_TO_ACQUIRE_MEMORY). A disk-backed
    * checkpoint streams through the serializer and never competes
    * with execution memory; the twin pays a re-read, not a
    * recompute. */
  private val coSupplyMemo = new KeyedFrameMemo[(SparkSession, String)]
  private def coSupplyPairs(s: SparkSession, d: String): DataFrame =
    coSupplyMemo.getOrBuild((s, d))(
      Ranking.cooccurrence(
        Tables.lineitem(s, d).select(col("l_suppkey"), col("l_partkey")),
        maxItemDeg = 30)
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY))

  /** C24b summary twin of [[coSupply]] (the simhashStats move): the
    * (n_shared → n_pairs) histogram — scale probes and monitoring
    * read the overlap-strength distribution without materializing
    * the 5M-row pair list as output. Rides the shared pair memo. */
  def coSupplyStats(s: SparkSession, d: String): DataFrame =
    coSupplyPairs(s, d)
      .groupBy("n_shared").agg(count(lit(1)).as("n_pairs"))
      .orderBy("n_shared")

  /** C25 time-respecting 2-hop paths: offset-increasing a→b→c over
    * the call graph (Traversal.temporalPaths) — temporal reachability
    * vs the static ball. */
  def graphTemporal(s: SparkSession, d: String): DataFrame =
    Traversal.temporalPaths(callEdges(s, d)).orderBy("node")

  /** C17 call-graph reciprocity: the mutual-call fraction — one
    * reversed-key equality self-join (Ranking.reciprocity). */
  def graphReciprocity(s: SparkSession, d: String): DataFrame =
    Ranking.reciprocity(callEdges(s, d))

  /** C18 global clustering coefficient: 3·triangles/wedges, exact
    * integer ppm (Ranking.clusteringCoefficient). */
  def graphClustering(s: SparkSession, d: String): DataFrame =
    Ranking.clusteringCoefficient(callEdges(s, d))

  /** C39 per-node local clustering coefficient: how clique-like each
    * function's call neighborhood is (Ranking.localClustering) —
    * the node-level refinement of C18's single global ratio. */
  def graphLcc(s: SparkSession, d: String): DataFrame =
    Ranking.localClustering(callEdges(s, d))

  /** C19 degree assortativity: do hubs call hubs? Exact-long Pearson
    * sums, one final floor-form divide (Ranking.assortativity). */
  def graphAssortativity(s: SparkSession, d: String): DataFrame =
    Ranking.assortativity(callEdges(s, d))

  /** C37 rich-club ladder: hub-core edge density φ(k) by degree
    * threshold — one edge scan folded into two tiny histograms
    * before the k ladder touches anything (Ranking.richClub). */
  def graphRichClub(s: SparkSession, d: String): DataFrame =
    Ranking.richClub(callEdges(s, d))

  /** Number of derived "binary" classes for the C38 mixing query —
    * node % NB is the synthetic function→binary assignment (the
    * same modulus family as the §4 node derivation); with imported
    * data this is a join against the functions table's binary id. */
  val MixClasses = 20L

  /** C38 attribute homophily/assortativity: do functions call within
    * their own binary? (Ranking.attributeMixing over node % NB). */
  def graphMixing(s: SparkSession, d: String): DataFrame =
    Ranking.attributeMixing(callEdges(s, d), n => n % MixClasses)

  /** C14 communities by plurality label propagation over the call
    * graph (Components.communities, 4 synchronous rounds) — module
    * structure, as distinct from mere connectivity (C1): dense
    * subsystems adopt one label, bridge calls don't spread it. */
  /** The 4-round LPA labels, computed once per (session, dir) and
    * served to both the partition query (C14) and its modularity
    * scalar (C32). */
  private val commMemo = new KeyedFrameMemo[(SparkSession, String)]
  private def communityLabels(s: SparkSession, d: String): DataFrame =
    commMemo.getOrBuild((s, d))(
      Components.communities(callEdges(s, d), rounds = 4).localCheckpoint(true))

  def graphCommunities(s: SparkSession, d: String): DataFrame =
    communityLabels(s, d).orderBy("node")

  /** C51 seeded label spreading over the call graph
    * (Components.labelSpread): every 50th function is a seed carrying
    * one of 5 module labels; 3 plurality rounds classify the
    * 3-hop-reachable remainder — the node-classification primitive
    * next to C14's unsupervised partition. */
  def graphLabelSpread(s: SparkSession, d: String): DataFrame = {
    val e = callEdges(s, d)
    val seeds = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .filter(col("node") % 50 === 0)
      .select(col("node"), (col("node") % 5).as("lab"))
    Components.labelSpread(e, seeds, rounds = 3).orderBy("node")
  }

  /** C32 modularity of the C14 partition — the quality scalar for the
    * community structure (Components.modularityOf, exact integer ppm). */
  def graphModularity(s: SparkSession, d: String): DataFrame =
    Components.modularityOf(callEdges(s, d), communityLabels(s, d))

  /** Upward lineage context (order → customer → nation → region):
    * the natural-key analogue of analyze_call_context's upward chain.
    * Dims broadcast; single pass over orders. */
  def lineageUp(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_orderkey") % 1500 === 3)
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(s, d).select("r_regionkey", "r_name")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("o_orderkey"), col("c_name"), col("n_name"), col("r_name"),
        concat_ws("->", col("o_orderkey").cast("string"), col("c_name"),
          col("n_name"), col("r_name")).as("path"))
      .orderBy("o_orderkey")
  }
}

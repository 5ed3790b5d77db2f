package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession.knob
import graft.functions.FrameMemo
import graft.functions.KeyedFrameMemo.{iterate, releaseRound}

/** Whole-graph analytics beyond the reference's query surface
  * (BinaryX-Graph delegates storage to Neo4j and ships no graph
  * algorithms — Spark adds them): PageRank for function importance
  * ranking and degree-ordered triangle counting for callgraph
  * clustering structure.
  */
object Ranking {

  /** Identity-keyed node-set memo over the INPUT edge frame for the
    * score-propagation family: engine callers pass the per-(session,
    * dir) cached callEdges OBJECT, so pagerank / weighted pagerank /
    * ppr / katz / hits / salsa / eigen share ONE distinct-union node
    * materialization per board instead of re-deriving (scan +
    * shuffle + checkpoint) it each. Ownership moves to the memo:
    * operators must NOT release a shared frame — the memo's LRU,
    * or KeyedFrameMemo.release, releases it. */
  private val nodesMemo = new FrameMemo
  private[graph] def nodesOf(edges: DataFrame): DataFrame =
    nodesMemo.getOrBuild(edges) {
      edges.select(col("src").cast("long").as("node"))
        .unionByName(edges.select(col("dst").cast("long").as("node")))
        .distinct().localCheckpoint(true)
    }

  /** Identity-keyed (src, dst)-distinct edge memo — the hits / salsa /
    * eigen trio each re-checkpointed this identical projection. */
  private val simpleEdgesMemo = new FrameMemo
  private[graph] def simpleEdgesOf(edges: DataFrame): DataFrame =
    simpleEdgesMemo.getOrBuild(edges) {
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .distinct().localCheckpoint(true)
    }

  /** PageRank in FIXED-POINT integer arithmetic: ranks are
    * parts-per-million longs (sp₀ = 10⁶ ≙ the n-scaled rank 1.0), the
    * per-edge contribution is integer floor division `pr div outdeg`,
    * and the damping 0.85 is the exact fraction 17/20 — so every
    * iteration is bit-identical across engines regardless of
    * summation order (float PageRank with per-round rounding still
    * flipped 1 node in 5000 at a round boundary; integers cannot).
    * Dangling nodes simply leak mass (plain power iteration); the
    * floor-div bias is ≤ outdeg ppm per node per round — noise at
    * ranking granularity, and both engines replay it identically.
    *
    * Each iteration is one edge join + one narrow groupBy(dst) —
    * at scale both shuffles key on node id; the rank frame is
    * checkpointed per round so iteration t never re-derives t−1.
    */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    val nodes = nodesOf(edges)
    val e2 = outEdges(edgePairs(edges), count(lit(1)))
    iterate(nodes.withColumn("score", lit(1000000L)), iters, e2)(
      flowRound(nodes, e2, "score div out_total", Damped))
      .select(col("node"), col("score").as("pagerank_ppm"))
  }

  /** The damped PageRank update over the in-flow sum c: the teleport
    * 150000 ppm plus ⌊17·c / 20⌋. */
  private val Damped = lit(150000L) + expr("(17 * coalesce(c, 0L)) div 20")

  /** (src, dst) as longs. */
  private def edgePairs(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))

  /** `e` with each edge carrying `out`, aggregated over its source's
    * out-edges (the out-degree or out-weight) as `out_total`,
    * checkpointed. */
  private def outEdges(e: DataFrame, out: Column): DataFrame =
    e.join(e.groupBy(col("src").as("u")).agg(out.as("out_total")),
        col("src") === col("u"))
      .drop("u")
      .localCheckpoint(true)

  /** One integer flow round of the PageRank family: c(v) sums `term`
    * over v's in-edges from nodes with a positive score (a zero score
    * sends nothing in every term), and each node of `nodes` takes
    * `update` of c (null when nothing flowed in) as its next score,
    * keeping the columns of `nodes`. */
  private def flowRound(nodes: DataFrame, e: DataFrame, term: String,
      update: Column)(s: DataFrame): DataFrame = {
    val live = s.filter(col("score") > 0)
    val contrib = live.join(e, live("node") === e("src"))
      .groupBy(col("dst").as("node2"))
      .agg(sum(expr(term)).as("c"))
    nodes.join(contrib, col("node") === col("node2"), "left")
      .select(nodes.columns.toSeq.map(col) :+ update.as("score"): _*)
  }

  /** Katz centrality (Katz 1953) in the C7 fixed-point contract:
    * k₀ = 10⁶, kₜ₊₁(v) = 10⁶ + Σ_{u→v} ⌊kₜ(u)/8⌋ — attenuation
    * α = 1/8 as exact integer floor division, β = 10⁶, bounded
    * `iters` rounds both engines unroll identically. Unlike PageRank
    * (out-degree-normalized flow), Katz counts ALL bounded-length
    * in-walks with geometric decay — a hub called from many hubs
    * scores high even when its callers fan out widely. All-long
    * arithmetic stays in whole-stage codegen; after r rounds
    * k ≤ 10⁶·(d_max/8)^r, so 3 rounds fit a long up to max in-degree
    * ~2·10⁵ — beyond that widen the contribution sum to
    * DECIMAL(38,0) (the weighted-PageRank bound discipline; the
    * HUGEINT oracle computes the same value either way). Plan shape
    * per round: one edge join + one narrow dst-keyed agg,
    * checkpointed.
    */
  def katz(edges: DataFrame, iters: Int = 3): DataFrame = {
    val nodes = nodesOf(edges)
    iterate(nodes.withColumn("score", lit(1000000L)), iters)(
      flowRound(nodes, edgePairs(edges), "score div 8",
        lit(1000000L) + coalesce(col("c"), lit(0L))))
      .select(col("node"), col("score").as("katz_ppm"))
  }

  /** Frequency-WEIGHTED PageRank: mass flows along an edge in
    * proportion to its integer weight (call-site count — a function
    * invoked from a hot loop matters more than one behind a cold
    * error path, which uniform [[pageRank]] cannot see). Same
    * fixed-point contract (ppm longs, damping 17/20, bit-identical
    * across engines); the per-edge contribution generalizes from
    * ⌊pr/outdeg⌋ to ⌊pr·w / Σw_out⌋. The naive pr·w wraps a long once
    * pr ≈ 10⁶·indeg meets a hot edge weight (the HITS lesson), but
    * division with remainder sidesteps the widening WITHOUT changing
    * a single output bit: pr = q·wout + rem (q = pr div wout,
    * rem < wout), so ⌊pr·w/wout⌋ = q·w + ⌊rem·w/wout⌋ exactly, and
    * every intermediate fits a long as long as wout² < 2⁶³ (per-node
    * out-weight below ~3·10⁹ call sites — beyond that, widen this
    * expression back to DECIMAL(38,0); the oracle's HUGEINT replay
    * computes the same value either way). All-long arithmetic keeps
    * the per-edge contribution in whole-stage codegen — the decimal
    * form allocated a BigDecimal per edge per round (measured ~3× on
    * the sf0.1 edge set). Plan shape is identical to [[pageRank]]:
    * one edge join + one narrow dst-keyed agg per round, rank frame
    * checkpointed.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 3): DataFrame = {
    val nodes = nodesOf(edges)
    val e2 = outEdges(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("weight").cast("long").as("w")),
      sum(col("w")))
    iterate(nodes.withColumn("score", lit(1000000L)), iters, e2)(
      flowRound(nodes, e2,
        "(score div out_total) * w + ((score % out_total) * w) div out_total",
        Damped))
      .select(col("node"), col("score").as("wpagerank_ppm"))
  }

  /** PERSONALIZED PageRank: rank relative to a seed set — "which
    * functions matter from THESE entry points" (e.g. exported symbols
    * of one binary), vs [[pageRank]]'s global importance. Same
    * fixed-point contract (ppm longs, floor-div contributions,
    * damping 17/20, bit-identical across engines); the only change is
    * that the teleport term lands ONLY on seeds: pr₀ = 10⁶·[v ∈ S],
    * prₜ(v) = 150000·[v ∈ S] + ⌊17·Σ⌊pr/outdeg⌋ / 20⌋. Nodes the
    * seed set cannot reach stay at exactly 0 and are dropped, so the
    * output is restricted to the seeds' forward cone — at scale this
    * touches the cone, not the whole graph, once ranks go sparse.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3): DataFrame = {
    val s = seeds.select(col("node").cast("long").as("node")).distinct()
      .withColumn("is_seed", lit(1L))
    // ride the shared node memo; the seed-flagged frame stays private
    // (and privately released) — only the raw node set is shared
    val nodes = nodesOf(edges)
      .join(s, Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .localCheckpoint(true)
    val e2 = outEdges(edgePairs(edges), count(lit(1)))
    iterate(nodes.withColumn("score", col("is_seed") * lit(1000000L)), iters,
        nodes, e2)(
      flowRound(nodes, e2, "score div out_total",
        col("is_seed") * lit(150000L) + expr("(17 * coalesce(c, 0L)) div 20")))
      .filter(col("score") > 0).select(col("node"), col("score").as("ppr_ppm"))
  }

  /** BATCH personalized PageRank — [[personalizedPageRank]] vectorized
    * over a seed column: k entry points get their k PPR cones in ONE
    * edge join per round instead of k sequential runs (state rows are
    * (seed, node, pr); the teleport lands on each seed's own node).
    * The state is SPARSE — only pr > 0 rows exist, and a zero-flow
    * row is equivalent to an absent one under the recurrence, so each
    * seed's slice replays the single-seed operator exactly (RankingSpec
    * proves slice ≡ single run). At scale the per-round shuffle keys
    * on (seed, node) — k cones' frontiers shuffle together, one job,
    * and the edge frame is read once per round regardless of k.
    * Returns (seed, node, ppr_ppm) restricted to the cones. */
  def personalizedPageRankBatch(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3): DataFrame = {
    val e2 = outEdges(edgePairs(edges), count(lit(1)))
    val tele = seeds.select(col("seed").cast("long").as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"))
      .localCheckpoint(true)
    iterate(tele.withColumn("pr", lit(1000000L)), iters, e2, tele) { pr =>
      val contrib = pr.join(e2, pr("node") === e2("src"))
        .groupBy(col("seed"), col("dst").as("node2"))
        .agg(sum(expr("pr div out_total")).as("c"))
        .select(col("seed"), col("node2").as("node"),
          expr("(17 * c) div 20").as("v"))
      tele.withColumn("v", lit(150000L))
        .unionByName(contrib)
        .groupBy("seed", "node").agg(sum(col("v")).as("pr"))
        .filter(col("pr") > 0)
    }.select(col("seed"), col("node"), col("pr").as("ppr_ppm"))
  }

  /** C9 k-core decomposition, bounded peeling: `rounds` iterations of
    * "drop every node whose degree in the surviving subgraph is < k",
    * over the undirected deduped edge set. Returns the surviving
    * (node, core_deg) — the k-core members with their within-core
    * degree, the callgraph's dense backbone (utility hubs + tightly
    * interlinked subsystems survive; leaf/wrapper functions peel off).
    *
    * The round count is FIXED so the DuckDB oracle replays the
    * identical bounded recursion (peeling is monotone — once converged
    * further rounds are no-ops, so bounded ≡ exact whenever the cascade
    * terminates within budget; observed ≤ 8 rounds on the derived
    * graphs). Each round is one narrow degree agg + two node-keyed
    * semi joins; at scale that is two shuffles per round on node id,
    * and the edge set only ever shrinks.
    */
  def kCoreBounded(edges: DataFrame, k: Int = 5, rounds: Int = 8): DataFrame = {
    val symP = symEdges(edges)
    val deg0 = symP.groupBy("u").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    peelDegrees(symP, deg0, k, rounds)
      .select(col("u").as("node"), col("deg").as("core_deg"))
      .orderBy("node")
  }

  /** Symmetric (u, v) edge frame from a raw src/dst one: self-loops
    * dropped, duplicates and reversals collapsed, both directions
    * emitted — the peel input shape. Hash-partitioned on v and
    * checkpointed: every peel wave probes it on v (edges INTO the
    * just-removed nodes), so after the one up-front exchange each
    * wave ships only the removed-node frame. */
  private def symEdges(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
      .repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions, col("v"))
      .localCheckpoint(true)
  }

  /** Distinct undirected (a < b) edge frame from a raw src/dst one:
    * self-loops dropped, duplicates and reversals collapsed — THE
    * single normalization every undirected operator shares (peel,
    * supports, squares, the triangle family), so the oracle's shared
    * u0 CTE has exactly one Spark twin to drift against. */
  private def undirected(edges: DataFrame): DataFrame =
    edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"), greatest(col("s"), col("t")).as("b"))
      .distinct()

  /** The bounded degree-peel cascade as DEGREE-DECREMENT waves: state
    * is the per-node degree of the alive induced subgraph, never a
    * re-materialized edge set. Wave r removes every alive node with
    * deg < k, then decrements its alive neighbors — identical wave
    * semantics to re-filtering the edges (what the oracle's unrolled
    * recursion replays: a removed node's row simply vanishes from the
    * next degree agg either way), but a wave's work is proportional
    * to the REMOVED nodes' adjacency, not m. The k-core survivor
    * graph is always the induced subgraph on alive nodes, so the
    * ORIGINAL symmetric frame + alive filters stay exact across waves
    * AND across nested-k reuse; `symP` must be [[symEdges]]-shaped
    * (hash-partitioned on v) so each wave exchanges only the removed
    * frame. Early exit on an empty wave — every further round is a
    * no-op, so bounded ≡ the full `rounds` budget. Returns the final
    * alive (u, deg) — members with their within-core degree. */
  private def peelDegrees(symP: DataFrame, deg0: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var deg = deg0
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val removed = deg.filter(col("deg") < k).select("u").localCheckpoint(true)
      if (removed.isEmpty) { converged = true; releaseRound(removed) }
      else {
        val dec = symP.join(removed.select(col("u").as("r")), col("v") === col("r"))
          .groupBy("u").agg(count(lit(1)).as("d"))
        val prevDeg = deg
        deg = deg.filter(col("deg") >= k)
          .join(dec, Seq("u"), "left")
          .select(col("u"), (col("deg") - coalesce(col("d"), lit(0L))).as("deg"))
          .localCheckpoint(true)
        // the superseded wave frame is dead; deg0 is the CALLER'S
        // (coreness chains each k off the previous survivor frame)
        // and the final frame is the return value — neither released
        if (prevDeg ne deg0) releaseRound(prevDeg)
        releaseRound(removed)
      }
      round += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"peelDegrees: round budget $rounds exhausted before the peel cascade " +
          "settled; surviving nodes may include non-core members (long chains " +
          "peel two nodes per round — raise `rounds` for such graphs)")
    // A node whose last alive neighbors were all removed in the final
    // wave survives the budget with deg 0 — but it is absent from the
    // final induced edge frame, so the oracle's edge-projection degree
    // agg never emits it. Dropping deg-0 rows (for k ≥ 1, where they
    // would have been peeled next wave anyway) keeps the non-converged
    // return bit-identical to the unrolled oracle; in the converged
    // case every survivor has deg ≥ k so the filter is a no-op.
    if (k >= 1) deg.filter(col("deg") > 0) else deg
  }

  /** C27 k-truss backbone: the subgraph where every edge sits in ≥
    * k−2 triangles — the community-core generalization of k-core
    * (every k-truss edge is in the (k−1)-core, but trussness demands
    * cohesion, not just degree). Bounded peel like [[kCoreBounded]]:
    * each round recomputes per-edge support as |N(a) ∩ N(b)| over
    * sorted distinct-neighbor arrays (the [[triangleCount]] edge-
    * iterator shape — one edge⋈adjacency join and the native sorted
    * intersect, never a wedge-enumeration shuffle), drops edges
    * below k−2, and early-exits on an unchanged edge count (peeling
    * only removes edges, so a fixpoint round is a no-op and the
    * result equals the oracle's full unrolled budget). Support is
    * recomputed once on the final edge set so the reported values are
    * exactly the fixpoint supports. At 100 TB the adjacency arrays
    * are bounded by the max post-peel degree; a pre-peel k-core pass
    * (cheaper, degree-only) is the standard volume reducer before the
    * first support round.
    */
  /** Full core decomposition up to `maxK`: each node's CORENESS (the
    * largest k with the node inside the k-core) — the load-bearing
    * profile a single [[kCoreBounded]] membership bit flattens.
    * Runs the bounded peel once per k (2..maxK), each chain starting
    * from the previous chain's survivor set (nested cores: the
    * (k+1)-core lives inside the k-core, so later passes touch only
    * the shrinking core); the oracle replays the SAME chained bounded
    * recursion — each of its k-chains unrolls from the (k−1)-chain's
    * final round, so the two sides agree even when a cascade would
    * outlast the round budget from scratch. Nodes with an
    * edge but outside the 2-core report coreness 1. At very large
    * maxK the right algorithm switches to distributed Montresor-style
    * h-index iteration; for the bounded profile the repeated peel is
    * simpler and each round is one degree-filter semi join.
    */
  def coreness(edges: DataFrame, maxK: Int = 6, rounds: Int = 8): DataFrame = {
    val sym = symEdges(edges)
    val deg0 = sym.groupBy("u").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val nodes = deg0.select(col("u").as("node"))
    // nested cores: the (k+1)-core lives inside the k-core, so each
    // peel starts from the PREVIOUS survivor state — and the state is
    // just the alive degree frame ([[peelDegrees]]), which the next k
    // consumes directly: across the whole decomposition the m-row
    // edge frame is materialized ONCE (the from-scratch form re-peeled
    // the whole graph maxK−1 times, 9.7 s; the edge-refilter nested
    // form still checkpointed m rows per round)
    var deg = deg0
    val members = (2 to maxK).map { k =>
      deg = peelDegrees(sym, deg, k, rounds)
      deg.select(col("u").as("node"))
        .withColumn("k", lit(k.toLong))
    }
    val cores = members.reduce(_ unionByName _)
    nodes
      .join(cores.groupBy("node").agg(max(col("k")).as("coreness")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("coreness"), lit(1L)).as("coreness"))
      .orderBy("node")
  }

  /** Per-edge triangle support |N(a) ∩ N(b)| over an undirected
    * (a < b) edge frame — the [[triangleCount]] edge-iterator shape:
    * one adjacency-array build, one edge⋈adjacency join, a native
    * sorted-merge intersect per edge. Shared by [[kTrussBounded]] and
    * [[weakTies]]. */
  /** Per-edge shuffle volume of the adjacency⋈edges join is
    * Σ(deg_a+deg_b) longs — ~11 GB on the 6M-edge organic sf1 graph,
    * the dominant cost of the whole support pass. Below this cap
    * (bytes ≈ 16·2·|edges| for the adjacency table, ≤ ~512 MB) the
    * adjacency side is BROADCAST instead: two map-side hash joins,
    * zero array shuffle, same rows. Above it — billion-edge cluster
    * graphs — the shuffle join is the correct plan and the hint is
    * skipped. */
  /** Below this the adjacency table is small enough that the plain
    * shuffle join (or Spark's own auto-broadcast from its size
    * estimate) is already fast — forcing a driver-built broadcast
    * would ADD ~1-2 s of collect/build per tail wave. */
  private val BroadcastAdjMinEdges = 1000000L
  /** Heap-tied cap on FORCED adjacency broadcasts, in adjacency
    * ENTRIES (one neighbor id): the driver-side HashedRelation costs
    * ~32 B/entry built, and a forced broadcast may claim at most 1/8
    * of driver heap — an 8 GiB driver admits ~33M entries (the
    * ~16M-edge payload r9's fixed constant allowed), a 1 GiB test JVM
    * ~4M, a 64 GiB bench/cluster driver ~268M. The heap budget is
    * additionally clamped at 250M entries (~8 GB built): Spark's
    * BroadcastExchange hard-fails past 8 GB / 512M rows regardless of
    * heap, so on very-large-heap drivers an unclamped budget would
    * turn a plan heuristic into a query-killing SparkException. The
    * clamped cap is the ONLY ceiling (r10's separate 16M-edge
    * constant is gone): the alternative to broadcasting is shipping
    * Σ(deg_a+deg_b) array copies through the support join — ~230 GB
    * of shuffle on the 60M-edge sf10 callgraph, which simply dies on
    * a bench machine's disk — so when the driver CAN hold (and Spark
    * will accept) the adjacency, broadcasting is the correct plan at
    * any edge count (SupportMaintainProbe demonstrates both sides at
    * sf10). */
  private def broadcastAdjMaxEntries: Long =
    math.min(Runtime.getRuntime.maxMemory / 8L / 32L, 250000000L)

  private def withAdj(rows: DataFrame, adj0: DataFrame,
      nEdges: Long): DataFrame = {
    val adj =
      if (nEdges >= BroadcastAdjMinEdges
          && 2L * nEdges <= broadcastAdjMaxEntries)
        broadcast(adj0)
      else adj0
    joinAdj(rows, adj)
  }

  private def joinAdj(rows: DataFrame, adj: DataFrame): DataFrame =
    rows.join(adj.select(col("u").as("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("u").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.VectorOps.sortedIntersectCount(col("na"), col("nb"))
          .as("support"))

  /** knownCount: pass the edge count when the caller already holds a
    * materialized frame (the peel's checkpointed waves) — skips this
    * function's own checkpoint+count of the input. */
  private[graph] def edgeSupports(u0: DataFrame,
      knownCount: Option[Long] = None): DataFrame = {
    val u = if (knownCount.isDefined) u0 else u0.localCheckpoint(true)
    val n = knownCount.getOrElse(u.count())
    val sym = u.select(col("a").as("u"), col("b").as("v"))
      .unionByName(u.select(col("b").as("u"), col("a").as("v")))
    val adj = sym.groupBy("u").agg(sort_array(collect_set(col("v"))).as("nbrs"))
    withAdj(u, adj, n)
  }

  /** Materialized triangle-support index over the normalized
    * undirected edge set — one (a, b, support) row per edge. The
    * shared wave-0 input of [[kTrussBounded]] and [[weakTies]]: an
    * engine serving both maintains ONE such index (GraphQueries
    * memoizes it per (session, dir), like the CALLS edge cache), so
    * the O(Σdeg²) intersect pass is paid once, not per query. */
  def edgeSupportIndex(edges: DataFrame): DataFrame =
    edgeSupports(undirected(edges))

  /** Granovetter weak-tie profile: per node, how many of its edges are
    * LOCAL BRIDGES (zero common neighbors — ties whose removal
    * lengthens every path between communities) vs embedded ties. One
    * [[edgeSupports]] pass + one symmetric endpoint aggregation; the
    * ratio is exact integer ppm. The information-flow complement to
    * [[clusteringCoefficient]]: high weak-tie nodes are the brokers.
    */
  def weakTies(edges: DataFrame): DataFrame =
    weakTiesFromSupports(edgeSupportIndex(edges).localCheckpoint(true))

  /** [[weakTies]] body over a prepared support index. */
  def weakTiesFromSupports(sup: DataFrame): DataFrame = {
    val ends = sup.select(col("a").as("node"), col("support"))
      .unionByName(sup.select(col("b").as("node"), col("support")))
    ends.groupBy("node")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("support") === 0L, 1L).otherwise(0L)).as("n_weak"))
      .select(col("node"), col("n_edges"), col("n_weak"),
        expr("(1000000 * n_weak) div n_edges").as("weak_ppm"))
      .orderBy("node")
  }

  /** Supports for a SUBSET of the surviving edge set: adjacency
    * arrays are built only for the subset's endpoints (over the full
    * surviving graph `und`, so the counts are exact), then the same
    * sorted-merge intersect as [[edgeSupports]]. The incremental
    * peel's workhorse — a wave that removes e edges re-measures
    * O(e·deg) edges, not all of them. */
  private[graft] def probeSupportsFor(und: DataFrame, sub: DataFrame): DataFrame =
    supportsFor(und, sub)

  /** Probe bridge for the full-recompute form (KtrussCompareProbe). */
  private[graft] def probeEdgeSupports(und: DataFrame,
      knownCount: Option[Long]): DataFrame = edgeSupports(und, knownCount)

  private def supportsFor(und: DataFrame, sub: DataFrame): DataFrame = {
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
    val need = sub.select(col("a").as("u"))
      .unionByName(sub.select(col("b").as("u"))).distinct()
    // The adjacency is checkpointed: it feeds BOTH sides of the
    // support join (a-side and b-side), so one materialization
    // replaces a ReuseExchange bet, and its EXACT entry count — the
    // size of what would actually be broadcast — drives the hint.
    // The r10 form keyed the hint on the FULL graph's edge count, so
    // tail waves on >16M-edge graphs never got the broadcast this
    // path exists for, while a near-cap full count could force a
    // ~0.5 GB driver build of an adjacency nobody measured.
    val adjC = sym.join(need, Seq("u"), "left_semi")
      .groupBy("u").agg(sort_array(collect_set(col("v"))).as("nbrs"))
      .localCheckpoint(true)
    val entries = adjC.agg(coalesce(sum(size(col("nbrs"))), lit(0L)))
      .first().getLong(0)
    val adj = if (entries <= broadcastAdjMaxEntries) broadcast(adjC) else adjC
    joinAdj(sub, adj)
  }

  /** Bounded k-truss peel: measure supports once, then each wave
    * drops below-threshold edges and re-measures the kept graph. The
    * peel is avalanche-shaped on real callgraphs (each wave removes
    * most of what remains), so the kept graph shrinks geometrically
    * and the full per-wave recompute is the measured-fastest plan at
    * every scale factor (see kTrussFromSupports' dispatch note).
    * Incremental incident-only re-measure exists as
    * [[maintainSupports]] for the regime it wins: small edge deltas
    * against a large STABLE graph. */
  def kTrussBounded(edges: DataFrame, k: Int = 4, rounds: Int = 6): DataFrame =
    kTrussFromSupports(edgeSupportIndex(edges).localCheckpoint(true), k, rounds)

  /** Support-index MAINTENANCE under edge deletion (the daily-refresh
    * operation: yesterday's support index + a delete delta). Returns
    * the support index of (index minus removed) — spec-pinned equal
    * to a from-scratch re-measure.
    *
    * Plan dispatch, calibrated by SupportMaintainProbe across
    * sf0.1/sf1/sf10 (0.6M/6M/60M edges): whenever the surviving
    * adjacency fits the driver broadcast budget, the FULL re-measure
    * is the fastest maintenance plan at every delta size measured
    * (sf10/64g: 38.6 s vs 49.9 s for incident-only at a 949-edge
    * delta; sf1: 4.8 s vs 7.9 s at 79 edges; sf0.1: 2.6 s vs 4.1 s)
    * — the incident path pays ~6 passes over the store (anti-join
    * checkpoint, touched/affected semi-joins, sym probe, coalesce
    * merge) to save intersect work that whole-stage codegen does
    * almost for free. The incident path
    * ([[maintainSupportsIncident]]) is dispatched ONLY in the regime
    * where it is the difference between running and not running: the
    * full adjacency exceeds the broadcast budget — the re-measure
    * would ship Σ(deg_a+deg_b) array copies through the shuffle,
    * ~230 GB at sf10, observed to fill the bench machine's disk on a
    * 24 GiB-heap driver — while the delta's affected adjacency still
    * fits and every incident-path join stays map-side (sf10/24g:
    * incident completes in 74.9 s from the persisted index; the full
    * plan cannot run at all).
    *
    * @param sup      prior support index (a, b, support), a < b
    * @param removed  deleted undirected edges (a, b), a < b
    */
  def maintainSupports(sup: DataFrame, removed: DataFrame): DataFrame = {
    val rem = removed.select(col("a"), col("b")).localCheckpoint(true)
    val kept = sup.join(rem, Seq("a", "b"), "left_anti").localCheckpoint(true)
    val m = kept.count()
    if (2L * m <= broadcastAdjMaxEntries)
      edgeSupports(kept.select("a", "b"), knownCount = Some(m))
    else maintainSupportsIncident(kept, rem)
  }

  /** Incident-only maintenance body: removing edge (a,b) can only
    * destroy triangles (a,b,z), whose other two edges touch a or b —
    * so only edges incident to a deleted endpoint can change support,
    * and they are re-measured exactly (adjacency built over the
    * affected endpoints of the SURVIVING graph); every other row
    * keeps its stored support. All joins against the delta-derived
    * frames are broadcast-sized: nothing here shuffles the store. */
  private[graft] def maintainSupportsIncident(kept: DataFrame,
      rem: DataFrame): DataFrame = {
    val und = kept.select("a", "b")
    val touched = rem.select(col("a").as("t"))
      .unionByName(rem.select(col("b").as("t"))).distinct()
    val aff = und.join(touched, col("a") === col("t"), "left_semi")
      .unionByName(und.join(touched, col("b") === col("t"), "left_semi"))
      .distinct()
    val fresh = supportsFor(und, aff)
    kept.join(fresh.withColumnRenamed("support", "s2"), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("s2"), col("support")).as("support"))
  }

  /** [[kTrussBounded]] waves over a prepared support index (the
    * index rows ARE wave-0's exact supports, so no initial measure
    * pass runs here). */
  def kTrussFromSupports(sup0: DataFrame, k: Int = 4, rounds: Int = 6): DataFrame = {
    var sup = sup0
    var und = sup.select("a", "b")
    var round = 0
    var converged = false
    // Callers pass a checkpointed index, so this count is one cheap
    // scan; every later wave's removed-count is ARITHMETIC
    // (prev − kept) — the removed set itself is never materialized
    // (the r9 peel checkpointed 4M removed rows in wave 0 just to
    // count them and list endpoints).
    var prevCount = sup.count()
    while (round < rounds && !converged) {
      val kept = sup.filter(col("support") >= k - 2).localCheckpoint(true)
      val keptCount = kept.count()
      val removedCount = prevCount - keptCount
      if (removedCount == 0L) converged = true
      else {
        und = kept.select("a", "b")
        // Every wave is a FULL support recompute on the kept graph.
        // The r10 form dispatched tail waves (removed < kept) to an
        // incident-only re-measure; KtrussCompareProbe measured that
        // branch losing at EVERY wave of EVERY scale factor (sf0.1:
        // 6.0 s vs 3.0 s; organic sf1: 10.9 s vs 6.6 s): this peel is
        // avalanche-shaped — waves that remove little only occur once
        // the surviving graph is small enough that a full recompute
        // is a couple of cheap jobs, while the incremental path pays
        // 3 extra passes over the kept set (touched/affected
        // semi-joins + the coalesce merge) plus ~3x the job count.
        // The incident-only machinery lives on where it measurably
        // wins: [[maintainSupports]], the delta-maintenance regime
        // (tiny delta against a LARGE stable graph).
        sup = edgeSupports(und, knownCount = Some(keptCount))
          .localCheckpoint(true)
        prevCount = keptCount
      }
      round += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"kTrussBounded: round budget $rounds exhausted before the peel " +
          "settled; surviving supports may still exceed the threshold " +
          "only transiently — raise `rounds` for deep peel cascades")
    // `sup` is maintained exact for the CURRENT edge set after every
    // wave (converged or budget-exhausted alike), so no final
    // re-measure pass is needed on either exit path; on the exhausted
    // path below-threshold rows are reported as-is, matching the
    // full-recompute form's behavior
    sup.orderBy("a", "b")
  }

  /** Approximate betweenness centrality: Brandes' algorithm (2001)
    * from a SAMPLED source set, truncated at `maxDepth` (Riondato-
    * Kornaropoulos-style bounded sampling — the standard scale
    * compromise: exact betweenness is Θ(nm) and unpayable at graph
    * scale; sampled+bounded is the production form).
    *
    * Forward sweep: level-synchronous per-source BFS keyed (s, v)
    * carrying σ(s,v) = the NUMBER of shortest s→v paths as an exact
    * long (sum over same-level predecessors — integers, nothing to
    * drift). Backward sweep: dependency accumulation over the
    * shortest-path DAG (edge v→w is in the DAG iff dist(s,w) =
    * dist(s,v)+1), processed deepest level first:
    *
    *   δ_ppm(s,v) = Σ_w ⌊σ(s,v) · (10⁶ + δ_ppm(s,w)) / σ(s,w)⌋
    *
    * — Brandes' ratio in parts-per-million FIXED POINT with integer
    * floor division (the C7 PageRank contract), so both engines
    * replay the accumulation bit-identically. Betweenness(v) =
    * Σ_s δ_ppm(s,v) over v ∉ sources' own row (s ≠ v by
    * construction: δ rows start at depth ≥ 1).
    *
    * Every round in both sweeps is one edge join + one narrow
    * (s, v)-keyed aggregation; state is 4 longs per reached (s, v)
    * pair — the reachWithin cost class, bounded by the sample size.
    */
  def betweennessSampled(edges: DataFrame, sources: DataFrame,
      maxDepth: Int = 3): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val allSrcIds: Array[Long] = sources.select(col("node").cast("long").as("s"))
      .distinct().orderBy("s").collect().map(_.getLong(0))
    if (allSrcIds.isEmpty)
      return spark.emptyDataset[(Long, Long)]
        .toDF("node", "betweenness_ppm")
    val eAll = Traversal.srcPreparedDistinct(edges)
    // SOURCE-CHUNK DISPATCH on the sweep's materialized-cell count:
    // the packed form's per-chunk peak is the checkpointed DAG-edge
    // frame `esC` — |E| × k cells at ~23 B/cell measured (sf1:
    // 6M × 64 ≈ 3.8·10⁸ cells ≈ 9 GB, fine; sf10 single-pass would
    // be 3.8·10⁹ ≈ 90 GB, which filled the bench host's disk). Past
    // the budget (default 6·10⁸ cells ≈ 14 GB peak) the source set
    // splits into sequential chunks, each sweeping its own narrower
    // arrays; betweenness(v) = Σ_s δ(s,v) is a sum over DISJOINT
    // source groups of independent per-source values, so the chunked
    // sum is bit-identical to the single pass at any chunking — the
    // gate SFs and sf1 stay single-pass, and the oracle replays
    // unchanged. (On a 1000-executor cluster the budget scales with
    // aggregate spill capacity via GRAFT_BW_CELL_BUDGET /
    // -Dgraft.bw.cell.budget.)
    val nEdges = eAll.count()
    val cellBudget: Long = knob("graft.bw.cell.budget",
      "GRAFT_BW_CELL_BUDGET").getOrElse(600000000L)
    val nChunks = math.max(1,
      math.ceil(nEdges.toDouble * allSrcIds.length / cellBudget).toInt)
    if (nChunks == 1) betweennessSweep(eAll, allSrcIds, maxDepth)
    else {
      val per = math.max(1,
        math.ceil(allSrcIds.length.toDouble / nChunks).toInt)
      val parts = allSrcIds.grouped(per).toSeq
        .map(g => betweennessSweep(eAll, g, maxDepth))
      parts.reduce(_.unionAll(_))
        .groupBy("node")
        .agg(sum(col("betweenness_ppm")).as("betweenness_ppm"))
        .filter(col("betweenness_ppm") > 0)
        .orderBy("node")
    }
  }

  /** One packed Brandes sweep over an explicit source-id chunk — the
    * single-pass body of [[betweennessSampled]]; see its scaladoc for
    * the algorithm and contracts. */
  private def betweennessSweep(eIn: DataFrame, srcIds: Array[Long],
      maxDepth: Int): DataFrame = {
    val spark = eIn.sparkSession
    import spark.implicits._
    // PACKED multi-source form (the RegisterMax/anfApprox carrier
    // lesson applied to Brandes): the per-(source, node) row state
    // becomes THREE k-wide arrays per node — dist[i], σ[i], δ[i] for
    // source index i — so every sweep round ships ONE row per edge
    // (k longs wide, summed element-wise map-side by the fused
    // LevelSigmaSum / BrandesDeltaSum aggregates)
    // instead of up to k rows per edge. The per-index arithmetic is
    // the row form verbatim (σ sums over same-level in-edges;
    // δ[i] = Σ_w ⌊σ_v·(10⁶+δ_w)/σ_w⌋ over DAG successors), so the
    // oracle's unrolled CTE chain replays unchanged.
    //
    // The source sample is materialized as the index base: sampled
    // Brandes wants k = O(log n/ε²) sources (Riondato-Kornaropoulos)
    // — a few hundred INDEPENDENT OF GRAPH SIZE — so the k-wide
    // arrays stay cache-line-sized at any corpus scale and the
    // driver-side id list is bounded by construction, not by n.
    val k = srcIds.length
    val e = eIn
    // state: (v, dist array<int> with −1 = unreached, sigma array<long>)
    var state = srcIds.zipWithIndex.map { case (s, i) =>
      (s, Seq.tabulate(k)(j => if (j == i) 0 else -1),
        Seq.tabulate(k)(j => if (j == i) 1L else 0L))
    }.toSeq.toDF("v", "dist", "sigma")
    // Per-round EAGER checkpoints are load-bearing: left lazy, the
    // pushed-down active filter re-shapes each embedded copy of the
    // previous round's plan, so ReuseExchange never matches and the
    // recursion recomputes exponentially (measured 14 s vs 6 s).
    // Rounds past the true frontier depth are no-ops (no index at
    // dist t−1 ⇒ no messages), so no per-round isEmpty action.
    // The SHUFFLE_HASH hint keeps the big edge frame STREAMED: the
    // default sort-merge join re-sorts all of e on every probe; the
    // hash build on the (frontier-sized) state side skips it — and
    // unlike a broadcast of the frontier this stays partition-local
    // at any graph size.
    for (t <- 1 to maxDepth) {
      val prevState = state
      val active = state.filter(array_contains(col("dist"), t - 1))
      // one array row per (active node ⋈ out-edge); map-side
      // combine collapses to ≤ one row per dst per partition
      val msgs = active.hint("shuffle_hash").join(e, col("v") === col("_src"))
        .groupBy(col("_dst").as("v"))
        .agg(graft.functions.RegisterAgg
          .levelSigmaSum(col("dist"), col("sigma"), t - 1, k).as("m"))
      // fused k-wide register updates (graft.functions.BrandesOps):
      // the transform(CASE …) HOF forms ran interpreted with a boxed
      // array allocation per node per round — same per-index
      // arithmetic and null guards, one primitive codegen loop
      state = state.join(msgs, Seq("v"), "full_outer")
        .select(col("v"),
          graft.functions.BrandesOps
            .forwardDist(col("dist"), col("m"), t, k).as("dist"),
          graft.functions.BrandesOps
            .forwardSigma(col("dist"), col("sigma"), col("m"), k).as("sigma"))
      state = state.localCheckpoint(true)
      // round t−1's blocks have no remaining consumer once round t
      // is materialized (t=1's prev is the LocalRelation seed — no-op)
      releaseRound(prevState)
    }
    val depth = maxDepth
    // backward: the DAG-edge frame (both ends' static dist/σ) is
    // built ONCE, pruned to edges on SOME sampled shortest path, and
    // checkpointed partitioned on the successor end — each round
    // exchanges only the n-row δ frame and the combined contributions
    val es = e
      .join(state.select(col("v").as("_v1"), col("dist").as("dv"),
        col("sigma").as("gv")).hint("shuffle_hash"),
        col("_src") === col("_v1"))
      .join(state.select(col("v").as("_v2"), col("dist").as("dw"),
        col("sigma").as("gw")).hint("shuffle_hash"),
        col("_dst") === col("_v2"))
      .select(col("_src"), col("_dst"), col("dv"), col("gv"), col("dw"), col("gw"))
      // fused |E|-scale DAG-edge test (was an interpreted exists())
      .filter(graft.functions.BrandesOps.dagEdge(col("dv"), col("dw")))
    // the second build join exchanges on _dst already — the per-round
    // δ probes below reuse that partitioning, no explicit repartition
    val esC = es.localCheckpoint(true)
    // all-zero δ₀ is a trivial projection of the checkpointed state —
    // not worth its own barrier/materialization
    var delta = state
      .select(col("v"), col("dist"), array_repeat(lit(0L), k).as("delta"))
    var firstBwd = true
    for (t <- depth - 1 to 0 by -1) {
      val prevDelta = delta
      val contrib = esC
        .join(delta.select(col("v").as("_w"), col("delta").as("dlw"))
          .hint("shuffle_hash"),
          col("_dst") === col("_w"))
        .groupBy(col("_src").as("v"))
        .agg(graft.functions.RegisterAgg.brandesDeltaSum(col("dv"), col("gv"),
          col("dw"), col("gw"), col("dlw"), t, k).as("c"))
      // REPLACE at this level (each (source, node) sits at exactly
      // one level), keep accumulated deeper levels
      delta = delta.join(contrib, Seq("v"), "left")
        .select(col("v"), col("dist"),
          graft.functions.BrandesOps
            .deltaUpdate(col("dist"), col("delta"), col("c"), t, k).as("delta"))
      delta = delta.localCheckpoint(true)
      if (firstBwd) {
        // δ₀ was a lazy projection of `state`; with it and esC both
        // materialized, the forward fixpoint's final frame is done
        releaseRound(state); firstBwd = false
      } else releaseRound(prevDelta)
    }
    releaseRound(esC)
    delta
      // index i with dist 0 is v's own source row (s = v) — excluded
      .select(col("v").as("node"),
        graft.functions.BrandesOps
          .betweennessSum(col("dist"), col("delta")).as("betweenness_ppm"))
      .filter(col("betweenness_ppm") > 0)
      .orderBy("node")
  }

  /** The triangle family's one shared artifact, memoized per INPUT
    * edge frame (identity-keyed, like [[nodesOf]]): node-keyed
    * (n, d, nbrs) over [[undirected]] edges, `d` the undirected degree
    * and `nbrs` the sorted out-neighbours under THE degree
    * orientation — every undirected edge points from its lower
    * (degree, id) end to its higher one. Each triangle is then seen
    * exactly once, from its lowest end, and the orientation bounds
    * every out-array by O(√m) however skewed the raw degrees. A node
    * with no out-neighbour carries an empty array. Triangles, wedges,
    * local clustering, assortativity, k_nn(d) and the rich club all
    * read this one frame, so an edge frame pays for the orientation
    * once however many of them run on it. */
  private val orientedAdjMemo = new FrameMemo
  private[graft] def orientedAdjOf(edges: DataFrame): DataFrame =
    orientedAdjMemo.getOrBuild(edges) {
      val und = undirected(edges)
      val deg = und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
      val adj = und
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(when(aFirst, col("a")).otherwise(col("b")).as("n"),
          when(aFirst, col("b")).otherwise(col("a")).as("y"))
        .groupBy("n").agg(sort_array(collect_list(col("y"))).as("nbrs"))
      deg.join(adj, Seq("n"), "left")
        .select(col("n"), col("d"),
          coalesce(col("nbrs"), typedLit(Array.empty[Long])).as("nbrs"))
        .localCheckpoint(true)
    }

  /** Every undirected edge exactly once, as its oriented form
    * (x, dx, nx, y, dy, ny): [[orientedAdjOf]] exploded on its
    * out-arrays and joined back to itself on the head `y` — one join
    * over one materialized frame. */
  private def orientedEdges(edges: DataFrame): DataFrame = {
    val adj = orientedAdjOf(edges)
    adj.select(col("n").as("x"), col("d").as("dx"), col("nbrs").as("nx"),
        explode(col("nbrs")).as("y"))
      .join(adj.select(col("n").as("y"), col("d").as("dy"), col("nbrs").as("ny")), "y")
  }

  /** Triangle count via degree-ordered orientation (the standard
    * MapReduce-era trick): [[orientedAdjOf]] orients every undirected
    * edge from its (degree, id)-smaller end to the larger, so each
    * triangle is counted exactly once, at its lowest end, and
    * candidate work is bounded O(m^1.5) — a hub of degree 10⁶
    * generates no wedges at all. Counting is the sorted-adjacency EDGE
    * ITERATOR: per oriented edge x→y the count is |N⁺(x) ∩ N⁺(y)| by
    * the native sorted-merge intersect
    * ([[graft.functions.VectorOps.sortedIntersectCount]]) over the two
    * sorted out-arrays — one explode⋈adjacency join over the memoized
    * frame, never the wedge set. Returns one (n_triangles) row. */
  def triangleCount(edges: DataFrame): DataFrame =
    orientedEdges(edges)
      .agg(coalesce(sum(graft.functions.VectorOps.sortedIntersectCount(
          col("nx"), col("ny"))), lit(0L))
        .cast("long").as("n_triangles"))

  /** Global clustering coefficient: 3·triangles / wedges, both counted
    * exactly — triangles by [[triangleCount]], wedges as the closed
    * form Σ d(d−1)/2 over the degrees [[orientedAdjOf]] carries (no
    * path enumeration). The ratio is an exact integer ppm floor
    * division; two 1-row frames cross-join at the end. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val wedges = orientedAdjOf(edges)
      .agg(coalesce(sum(col("d") * (col("d") - 1)), lit(0L)).as("w2"))
      // true integer halving — `/` on longs routes through a double,
      // which rounds above 2^53 (the oracle's `// 2` never does)
      .select(expr("w2 div 2").as("n_wedges"))
    triangleCount(edges).crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(0L))
          .otherwise(expr("(3000000 * n_triangles) div n_wedges"))
          .as("clustering_ppm"))
  }

  /** Both orientations of every undirected edge as (x, y) endpoint
    * degrees — 2m edge ends whose x and y marginals are identical. */
  private def degreeEnds(edges: DataFrame): DataFrame = {
    val ends = orientedEdges(edges).select(col("dx").as("x"), col("dy").as("y"))
    ends.unionByName(ends.select(col("y").as("x"), col("x").as("y")))
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of
    * endpoint degrees over edge ends. Both ORIENTATIONS of every
    * undirected edge contribute one (deg u, deg v) sample
    * ([[degreeEnds]]), which makes the x and y marginals identical — so
    * r reduces to (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) with EVERY sum an
    * exact long; the single float operation is the final divide,
    * floor-form rounded at 6dp. One 1-row aggregate. */
  def assortativity(edges: DataFrame): DataFrame =
    degreeEnds(edges)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_ends"),
        (col("n") * col("sxy") - col("sx") * col("sx")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .select(col("n_ends"), col("num"), col("den"),
        when(col("den") === 0, lit(0.0)).otherwise(
          graft.functions.Rounding.rnd(
            col("num").cast("double") / col("den").cast("double"), 6))
          .as("assortativity"))

  /** Bounded closeness centrality over a start sample: for each start,
    * n_reach = |out-ball(depth ≤ maxDepth)| and sum_dist = Σ min-depth
    * — closeness_ppm = ⌊10⁶·n_reach/sum_dist⌋ in exact integer
    * arithmetic. Rides [[Traversal.reachLevels]] (level-synchronous
    * frontier, per-start visited anti-join), so total work is
    * Θ(Σ|ball|) with every shuffle keyed (start, node) — uniform keys,
    * no walk blowup, same scale shape as the gated ANF. Full-graph
    * exact closeness is O(n·m); the sampled bounded form IS the
    * production form at 100 TB (the Eppstein-Wang estimator).
    */
  def closeness(edges: DataFrame, starts: DataFrame, maxDepth: Int = 3): DataFrame =
    closenessFrom(Traversal.reachLevels(edges, starts, maxDepth))

  /** [[closeness]] over a precomputed [[Traversal.reachLevels]] frame
    * (start, node, depth) — the engine-level sharing hook: the whole
    * distance family (C16/C21/C35/C41) is a different aggregate over
    * the SAME sweep, so query gates materialize the reach frame once
    * and hand it to each `*From` reader. */
  def closenessFrom(reach: DataFrame): DataFrame =
    reach
      .groupBy(col("start").as("node"))
      .agg(count(lit(1)).as("n_reach"), sum(col("depth")).as("sum_dist"))
      .select(col("node"), col("n_reach"), col("sum_dist"),
        expr("(1000000 * n_reach) div sum_dist").as("closeness_ppm"))

  /** Bounded eccentricity over a start sample: the deepest BFS level
    * each sampled source reaches within `maxDepth` (a LOWER bound on
    * its true eccentricity — exact whenever the ball closes before
    * the budget, i.e. n_reached stops growing) plus the ball size.
    * max(ecc_bounded) over the sample is the standard iFUB-style
    * diameter lower bound. Same [[Traversal.reachLevels]] pass and
    * (start, node)-keyed scale shape as [[closeness]]/[[harmonic]];
    * sources with no out-edges reach nothing and are omitted, like
    * the closeness contract. */
  def eccentricity(edges: DataFrame, starts: DataFrame,
      maxDepth: Int = 3): DataFrame =
    eccentricityFrom(Traversal.reachLevels(edges, starts, maxDepth))

  /** [[eccentricity]] over a precomputed reach frame ([[closenessFrom]]
    * discipline). */
  def eccentricityFrom(reach: DataFrame): DataFrame =
    reach
      .groupBy(col("start").as("node"))
      .agg(max(col("depth")).as("ecc_bounded"),
        count(lit(1)).as("n_reached"))

  /** Bounded harmonic centrality over a start sample: Σ ⌊10⁶/depth⌋
    * across the ≤maxDepth out-ball — the centrality that stays
    * well-defined on disconnected graphs (an unreached node simply
    * contributes 0; closeness has to special-case it). Rides the same
    * [[Traversal.reachLevels]] pass as [[closeness]], and the per-term
    * integer floor makes every score an exact long both engines
    * replay (a float Σ1/d would be summation-order-sensitive). */
  def harmonic(edges: DataFrame, starts: DataFrame, maxDepth: Int = 3): DataFrame =
    harmonicFrom(Traversal.reachLevels(edges, starts, maxDepth))

  /** [[harmonic]] over a precomputed reach frame ([[closenessFrom]]
    * discipline). */
  def harmonicFrom(reach: DataFrame): DataFrame =
    reach
      .groupBy(col("start").as("node"))
      .agg(count(lit(1)).as("n_reach"),
        sum(expr("1000000 div depth")).as("harmonic_ppm"))

  /** HITS hubs/authorities (Kleinberg 1999) in the C7 fixed-point
    * integer contract, synchronous variant: both scores start at 10⁶;
    * round t+1 computes auth'(v) = Σ_{u→v} hub_t(u) and hub'(u) =
    * Σ_{u→v} auth_t(v) — BOTH from the round-t scores (simultaneous
    * update, so the oracle unrolls each round as two independent
    * CTEs) — then renormalizes each side to max = 10⁶ by integer
    * floor division (the long max is exact, ⌊10⁶·x/max⌋ replays
    * verbatim; a float L2 norm would drift cross-engine). Per round:
    * two edge joins + two narrow node-keyed aggs + one 1-row
    * broadcast max — the PageRank scale shape, checkpointed per
    * round so the lineage stays flat. Hub = function that calls many
    * authorities; authority = function many hubs call — ON a call
    * graph, the utility-vs-dispatcher split.
    */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = {
    val e = simpleEdgesOf(edges)
    val nodes = nodesOf(edges)
    val start = nodes.select(col("node"), lit(1000000L).as("hub"),
      lit(1000000L).as("auth"))
    // a round keeps its raw sums and the next round scales them, so
    // the start (already at max 10⁶) costs no max job
    val raw = iterate(start, iters) { r =>
      val s = if (r eq start) start else scaleToPpm(r, "hub", "auth")
      val a1 = e.join(s.select(col("node"), col("hub")), col("src") === col("node"))
        .groupBy(col("dst").as("an")).agg(sum(col("hub")).as("av"))
      val h1 = e.join(s.select(col("node"), col("auth")), col("dst") === col("node"))
        .groupBy(col("src").as("hn")).agg(sum(col("auth")).as("hv"))
      nodes
        .join(h1, col("node") === col("hn"), "left")
        .join(a1, col("node") === col("an"), "left")
        .select(col("node"), coalesce(col("hv"), lit(0L)).as("hub"),
          coalesce(col("av"), lit(0L)).as("auth"))
    }
    scaleToPpm(raw, "hub", "auth")
      .select(col("node"), col("hub").as("hub_ppm"), col("auth").as("auth_ppm"))
  }

  /** (node, cols…) with each of `cols` scaled to max = 10⁶ by floor
    * division (a max below 1 divides by 1), from one broadcast 1-row
    * max. Widened through DECIMAL(38,0): a score ≤ indeg·10⁶, so the
    * long product 10⁶·x would silently wrap past indeg ≈ 9.2M —
    * exactly the wrap-vs-throw cross-engine divergence the sketches
    * module documents; the oracle widens to HUGEINT. */
  private def scaleToPpm(s: DataFrame, cols: String*): DataFrame = {
    val maxes = cols.map(c => greatest(max(col(c)), lit(1L)).as(s"max_$c"))
    s.crossJoin(broadcast(s.agg(maxes.head, maxes.tail: _*)))
      .select(col("node") +: cols.map(c => expr(
        s"CAST((CAST(1000000 AS DECIMAL(38,0)) * $c) div max_$c AS BIGINT)").as(c)): _*)
  }

  /** Eigenvector centrality — SHIFTED power iteration on the in-edge
    * adjacency (A + I): x₊(j) = x(j) + Σ_{i→j} x(i), floor-normalized
    * to max = 10⁶ each round (the [[hits]] fixed-point integer
    * contract, single score instead of the alternating pair). The +I
    * shift is the textbook spectral fix: A and A+I share eigenvectors
    * (eigenvalues shifted by 1), but the shift keeps the iteration
    * alive on DAG-shaped graphs — pure Aᵏx dies to the zero vector on
    * a call graph once every length-k walk has left the sources —
    * and damps period-2 oscillation on bipartite structure. Distinct
    * from pagerank (no damping, no outdeg normalization — a node's
    * full score flows to EVERY successor) and from HITS (power
    * iteration on A, not AᵀA). Per round: one edge join + one
    * node-keyed agg + one broadcast 1-row max — the same shuffle
    * shape as one pagerank round, linear in edges at any scale. */
  def eigenCentrality(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = simpleEdgesOf(edges)
    val start = nodesOf(edges).select(col("node"), lit(1000000L).as("x"))
    // raw sums per round, scaled by the next one (as in [[hits]])
    val raw = iterate(start, iters) { r =>
      val s = if (r eq start) start else scaleToPpm(r, "x")
      val v1 = e.join(s.select(col("node"), col("x")), col("src") === col("node"))
        .groupBy(col("dst").as("vn")).agg(sum(col("x")).as("v"))
      s.join(v1, col("node") === col("vn"), "left")
        .select(col("node"), (col("x") + coalesce(col("v"), lit(0L))).as("x"))
    }
    scaleToPpm(raw, "x").select(col("node"), col("x").as("eigen_ppm"))
  }

  /** SALSA hubs/authorities (Lempel & Moran 2000) — [[hits]]'s
    * random-walk sibling: contributions are DEGREE-NORMALIZED
    * (aₜ₊₁(j) = Σ_{i→j} ⌊hₜ(i)/outdeg(i)⌋, hₜ₊₁(i) = Σ_{i→j}
    * ⌊aₜ₊₁(j)/indeg(j)⌋), which kills HITS's topic-drift pathology —
    * a hub linking 10⁴ authorities no longer floods each of them with
    * its full score. The walk is a contraction, so no per-round
    * normalization is needed: exact integer floor division per edge
    * term, one max-scaling to ppm at the very end (DECIMAL(38,0)
    * widened, the hits/oracle HUGEINT contract). Per round: two edge
    * joins + two node-keyed narrow aggs — identical shuffle shape to
    * [[hits]], degree frames computed once. */
  def salsa(edges: DataFrame, iters: Int = 2): DataFrame = {
    val e = simpleEdgesOf(edges)
    val outd = e.groupBy(col("src").as("on")).agg(count(lit(1)).as("outdeg"))
    val ind = e.groupBy(col("dst").as("in")).agg(count(lit(1)).as("indeg"))
    val ew = e.join(outd, col("src") === col("on"))
      .join(ind, col("dst") === col("in"))
      .select(col("src"), col("dst"), col("outdeg"), col("indeg"))
      .localCheckpoint(true)
    val nodes = nodesOf(edges)
    val start = nodes.select(col("node"), lit(1000000L).as("hub"),
      lit(1000000L).as("auth"))
    val s = iterate(start, iters, ew) { s =>
      val a1 = ew.join(s.select(col("node"), col("hub")), col("src") === col("node"))
        .groupBy(col("dst").as("an")).agg(sum(expr("hub div outdeg")).as("av"))
      val h1 = ew.join(a1, col("dst") === col("an"))
        .groupBy(col("src").as("hn")).agg(sum(expr("av div indeg")).as("hv"))
      nodes
        .join(h1, col("node") === col("hn"), "left")
        .join(a1, col("node") === col("an"), "left")
        .select(col("node"), coalesce(col("hv"), lit(0L)).as("hub"),
          coalesce(col("av"), lit(0L)).as("auth"))
    }
    scaleToPpm(s, "hub", "auth")
      .select(col("node"), col("hub").as("hub_ppm"), col("auth").as("auth_ppm"))
  }

  /** Square (4-cycle) census over the hub-capped undirected graph —
    * the quadrangle companion to C8's triangles (bipartite-ish
    * structure shows up as squares without triangles; the
    * squares:triangles ratio separates mesh topologies from
    * clique-ish ones). Count = ½·Σ_{a<c} C(codeg(a,c), 2) over
    * common-neighbor counts — each 4-cycle is seen once from each of
    * its two diagonals. Middle nodes with degree > `hubCap` are
    * dropped BEFORE the pair join (both engines identically — the
    * bounded-candidate contract shared with C26/C45; a hub middle
    * would explode the codegree pair space quadratically at scale).
    * One capped self-join on the middle key + one pair agg + a
    * 1-row rollup. */
  def squareCount(edges: DataFrame, hubCap: Int = 100): DataFrame = {
    val und = undirected(edges)
    val nb = und.select(col("a").as("node"), col("b").as("z"))
      .unionByName(und.select(col("b").as("node"), col("a").as("z")))
      .localCheckpoint(true)
    val okMid = nb.groupBy("z").agg(count(lit(1)).as("dz"))
      .filter(col("dz") <= hubCap).select("z")
    val capped = nb.join(okMid, "z")
    capped.as("x").join(capped.as("y"),
        col("x.z") === col("y.z") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("u"), col("y.node").as("v"))
      .agg(count(lit(1)).as("w"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum((w * (w - 1)) div 2) div 2").as("n_squares"))
      .select(col("n_pairs"), coalesce(col("n_squares"), lit(0L)).as("n_squares"))
  }

  /** Edge reciprocity: how much of the call graph is mutual (a calls b
    * AND b calls a). One equality self-join of the distinct non-loop
    * edge set on the REVERSED key — never a pair enumeration; the
    * `src < dst` guard counts each mutual pair once. Single-row
    * output: edge count, mutual-pair count, and the classic ratio
    * 2·pairs/edges in ppm (exact integer floor division).
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val ed = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
      .filter(col("s") =!= col("t")).distinct()
      .localCheckpoint(true)
    val pairs = ed
      .join(ed.select(col("s").as("s2"), col("t").as("t2")),
        col("s") === col("t2") && col("t") === col("s2") && col("s") < col("t"))
      .agg(count(lit(1)).as("n_mutual_pairs"))
    ed.agg(count(lit(1)).as("n_edges"))
      .crossJoin(pairs)
      .select(col("n_edges"), col("n_mutual_pairs"),
        when(col("n_edges") === 0, lit(0L))
          .otherwise(expr("(2000000 * n_mutual_pairs) div n_edges"))
          .as("reciprocity_ppm"))
  }

  /** Directed triad motif census: counts of the two closed 3-node
    * motifs of a digraph — feed-forward loops (a→b, b→c, a→c: the
    * shortcut/delegation pattern; each ordered triple is unique so
    * no dedup is needed) and directed 3-cycles (a→b→c→a, counted once
    * by anchoring on the minimum node: a < b ∧ a < c kills the two
    * rotations). On a call graph the FFL:cycle ratio separates
    * layered designs from mutually-recursive tangles.
    *
    * Plan: the 2-path frame e(a,b)⋈e(b,c) is built ONCE (the
    * expensive Σ in(b)·out(b) join, shuffled on the middle node) and
    * closed against the edge set twice — hash joins on (a,c)/(c,a).
    * At scale the middle-node join is the skew point: a hub with
    * in·out = 10⁸ paths wants the same degree-cap/salting treatment
    * as triangleCount's degree ordering.
    */
  def triadCensus(edges: DataFrame): DataFrame = {
    val ed = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
      .filter(col("s") =!= col("t")).distinct()
      .localCheckpoint(true)
    val paths = ed.select(col("s").as("a"), col("t").as("b"))
      .join(ed.select(col("s").as("b2"), col("t").as("c")), col("b") === col("b2"))
      .select(col("a"), col("b"), col("c"))
      .filter(col("a") =!= col("c"))
    // ONE pass over the (large) path frame: both closures are LEFT
    // broadcast-hash probes against the edge set, then a single count
    // aggregate — the first cut ran one shuffle join per closure,
    // each RECOMPUTING the Σ in·out rows (8.9 s at sf0.1); this form
    // pipelines them through whole-stage codegen in one pass
    // (0.96 s). The broadcast is the edge LIST itself — fine while
    // |E| ships (an 8 MB packed table here); past that, fall back to
    // two shuffle joins keyed on (a,c)/(c,a).
    val fflEdge = ed.select(col("s").as("fa"), col("t").as("fc"),
      lit(1L).as("ffl_hit"))
    val cycEdge = ed.select(col("s").as("cc"), col("t").as("ca"),
      lit(1L).as("cyc_hit"))
    paths
      .join(broadcast(fflEdge),
        col("a") === col("fa") && col("c") === col("fc"), "left")
      .join(broadcast(cycEdge),
        col("c") === col("cc") && col("a") === col("ca"), "left")
      .agg(
        sum(coalesce(col("ffl_hit"), lit(0L))).as("_ffl"),
        sum(when(col("cyc_hit").isNotNull &&
          col("a") < col("b") && col("a") < col("c"), 1L)
          .otherwise(0L)).as("_cyc"))
      // a graph with NO composable 2-paths leaves the aggregate with
      // NULL sums; the oracle's COUNT(*) says 0 — align.
      .select(coalesce(col("_ffl"), lit(0L)).as("n_feedforward"),
        coalesce(col("_cyc"), lit(0L)).as("n_cycles"))
  }

  /** Bipartite co-occurrence projection: from (entity, item) pairs,
    * the entity-pair graph weighted by shared-item counts — supplier
    * pairs sharing parts, functions sharing strings, docs sharing
    * shingles. The classic scale hazard is the frequent item: one
    * item held by k entities emits C(k,2) pairs, so items with more
    * than `maxItemDeg` entities are DROPPED up front (the standard
    * frequent-token cut from similarity joins — they carry the least
    * signal and all of the blowup; the cap bounds per-item fanout at
    * C(cap,2) and makes total work linear in items).
    *
    * Pair generation is NOT a self-join, and there is no separate
    * distinct() pass either: one aggregation collects each item's
    * entity set through [[graft.functions.BoundedDistinctLongs]] — a
    * cap+1-BOUNDED distinct-set partial aggregate, so every map task
    * ships ≤ cap+1 longs per item (duplicates collapse map-side, a
    * hot item's members never materialize beyond the cap anywhere,
    * and a returned set of exactly cap+1 proves ideg > cap → drop,
    * losslessly). The a<b pairs then expand inline from the sorted
    * array through codegen'd nested `transform`s into the stage whose
    * partial (a,b) aggregate immediately folds them. Net plan: TWO
    * shuffles total (item-keyed bounded sets, then (a,b) counts) vs
    * the self-join's four (distinct + two join sides + pair counts)
    * — and zero corpus-sized state on any executor.
    *
    * SCALE DISPATCH (the embeddingNearDup discipline): a cheap
    * worst-case bound — (cap−1)/2 pairs per input row from one
    * count() — gates a measured pass; past `graft.cooc.pair.budget`
    * (default 10⁹ pairs ≈ 25 GB of (a,b) shuffle, the betweenness
    * cell-budget spill class) the items split into hash chunks
    * processed sequentially (eager per-chunk materialization bounds
    * peak spill at one chunk; only the pair-AGGREGATED outputs, ≤
    * budget rows, are ever cached), and per-chunk partial counts SUM
    * exactly: chunks are item-disjoint, so n_shared(a,b) = Σ_chunks
    * shared items there. The measured statistic uses RAW per-item row
    * counts CLAMPED at the cap (no distinct pass): an item's true
    * pair yield is C(distinct, 2) with distinct ≤ min(raw, cap) when
    * kept and 0 when cap-dropped — both ≤ C(least(raw, cap), 2), so
    * the clamped sum is an upper bound on true pair volume at any
    * duplicate density. Duplicate-heavy inputs may over-chunk, never
    * under-chunk. (A raw-count FILTER here would under-estimate: an
    * item with raw > cap but distinct ≤ cap emits real pairs yet
    * would contribute 0 — the r13 advice finding.)
    */
  def cooccurrence(pairs: DataFrame, maxItemDeg: Int = 30,
      minShared: Long = 1L): DataFrame = {
    val pi = pairs.toDF("entity", "item")
      .select(col("entity").cast("long"), col("item").cast("long"))
    def pairCounts(pe: DataFrame): DataFrame = pe
      .groupBy("item")
      .agg(graft.functions.BoundedSetAgg
        .boundedDistinct(col("entity"), maxItemDeg + 1).as("es"))
      .filter(size(col("es")).between(2, maxItemDeg))
      .select(explode(expr(
        "flatten(transform(es, (x, i) -> " +
          "transform(slice(es, i + 2, size(es)), y -> named_struct('a', x, 'b', y))))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
    val pairBudget: Long = knob("graft.cooc.pair.budget",
      "GRAFT_COOC_PAIR_BUDGET").getOrElse(1000000000L)
    val worst = pairs.count().toDouble * (maxItemDeg - 1).toDouble / 2
    if (worst <= pairBudget.toDouble)
      pairCounts(pi).filter(col("n_shared") >= minShared)
    else {
      val measured = pi.groupBy("item").agg(count(lit(1)).as("c"))
        .agg(sum(expr(
          s"least(c, ${maxItemDeg}L) * (least(c, ${maxItemDeg}L) - 1) div 2"))
          .as("p")).head()
      val totalPairs = if (measured.isNullAt(0)) 0L else measured.getLong(0)
      if (totalPairs <= pairBudget)
        pairCounts(pi).filter(col("n_shared") >= minShared)
      else {
        val nChunks = math.min(1024L, totalPairs / pairBudget + 1).toInt
        val parts = (0 until nChunks).map { i =>
          pairCounts(pi.filter(pmod(hash(col("item")), lit(nChunks)) === i))
            .localCheckpoint(true) // eager: one chunk's spill at a time
        }
        parts.reduce(_.unionAll(_))
          .groupBy("a", "b").agg(sum(col("n_shared")).as("n_shared"))
          .filter(col("n_shared") >= minShared)
      }
    }
  }

  /** Rich-club coefficient ladder (Colizza et al. 2006): for each
    * degree threshold k, the edge density φ(k) = 2·E_k / (N_k·(N_k−1))
    * among the N_k nodes of degree > k, in ppm. Rising φ(k) means
    * hubs preferentially wire to each other — on a call graph, a
    * dispatcher core.
    *
    * Plan shape: the triangle family's [[orientedAdjOf]] frame (one
    * undirected distinct edge set + its degrees), then BOTH ladder counts
    * come from tiny pre-aggregated histograms — nodes collapse to
    * (degree → count) and edges to (min-end-degree → count) BEFORE
    * the ladder join, so the k-ladder multiplies histogram rows, not
    * graph rows. The edge scan happens exactly once at any scale.
    * E_k·2·10⁶ and N_k² ride DECIMAL(38,0): at 100 TB both products
    * wrap a long silently (the modularity lesson).
    */
  def richClub(edges: DataFrame, ks: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // histograms: (d → n_nodes) and (min(dx,dy) → n_edges) — ≤ d_max rows
    val nodeHist = orientedAdjOf(edges).groupBy("d").agg(count(lit(1)).as("nn"))
    val edgeHist = orientedEdges(edges)
      .select(least(col("dx"), col("dy")).as("me"))
      .groupBy("me").agg(count(lit(1)).as("ne"))
    val ladder = ks.toDF("k")
    ladder.join(broadcast(nodeHist), col("d") > col("k"), "left")
      .groupBy("k").agg(coalesce(sum(col("nn")), lit(0L)).as("n_nodes"))
      .join(
        ladder.join(broadcast(edgeHist), col("me") > col("k"), "left")
          .groupBy(col("k").as("k2"))
          .agg(coalesce(sum(col("ne")), lit(0L)).as("n_edges")),
        col("k") === col("k2"))
      .select(col("k").cast("long").as("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") < 2, lit(0L)).otherwise(
          expr("""CAST((CAST(2000000 AS DECIMAL(38,0)) * n_edges) div
                 (CAST(n_nodes AS DECIMAL(38,0)) * (n_nodes - 1)) AS BIGINT)"""))
          .as("phi_ppm"))
      .orderBy("k")
  }

  /** Discrete-attribute homophily + assortativity (Newman 2003): how
    * much the graph wires within an attribute class vs across. Over
    * the both-orientations end list (2m rows): n_same = same-class
    * ends, homophily_ppm = ⌊10⁶·n_same/2m⌋, and the chance-corrected
    * assortativity r = (Σe_ii − Σa_i²)/(1 − Σa_i²) computed in exact
    * integers as (n_same·2m − Σc_i²) / ((2m)² − Σc_i²) with c_i the
    * per-class end counts — every product in DECIMAL(38,0) ((2m)²
    * wraps a long past m ≈ 2·10⁹; 100 TB graphs are past it).
    *
    * Plan: one edge scan → two tiny aggs (per-class counts broadcast
    * back); no joins against node frames since the class is a pure
    * function of the node id (`classOf`). With a real attribute
    * table this becomes two hash joins on node — same shape.
    */
  def attributeMixing(edges: DataFrame, classOf: Column => Column): DataFrame = {
    val ends = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x") =!= col("y")).distinct()
    val both = ends.select(classOf(col("x")).as("cx"), classOf(col("y")).as("cy"))
      .unionByName(ends.select(classOf(col("y")).as("cx"), classOf(col("x")).as("cy")))
      .localCheckpoint(true)
    val tot = both.agg(count(lit(1)).as("n_ends"),
      sum(when(col("cx") === col("cy"), 1L).otherwise(0L)).as("n_same"))
    val sq = both.groupBy("cx").agg(count(lit(1)).as("c"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sum_c2"))
    tot.crossJoin(broadcast(sq))
      .select(col("n_ends"), col("n_same"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_same) div n_ends AS BIGINT)")
          .as("homophily_ppm"),
        // the numerator can be negative (heterophil graphs) and `div`
        // truncates toward zero while DuckDB's `//` floors — so the
        // ppm goes through the graph_assortativity floor(x·10⁶+0.5)
        // double contract instead (both engines round the same
        // DECIMAL → DOUBLE, and the ratio is in [−1, 1] so the
        // double is exact to far beyond 6 dp)
        when(expr("CAST(n_ends AS DECIMAL(38,0)) * n_ends - sum_c2") === 0, lit(0L))
          .otherwise(expr(
            """CAST(floor(CAST(CAST(n_same AS DECIMAL(38,0)) * n_ends - sum_c2 AS DOUBLE)
                 / CAST(CAST(n_ends AS DECIMAL(38,0)) * n_ends - sum_c2 AS DOUBLE)
                 * 1000000 + 0.5) AS BIGINT)"""))
          .as("assortativity_ppm"))
  }

  /** Neighborhood-function ladder over a sampled source set (the
    * Palmer/ANF curve the effective-diameter estimate reads off):
    * per depth d ≤ maxDepth, the count of first-touch (start, node)
    * pairs at exactly d, the running cumulative, and the cumulative
    * share in exact ppm — the d where cum_ppm crosses 900000 is the
    * sampled bounded effective diameter (iFUB discipline: the depth
    * bound and 1-in-k source sample ARE the production form; exact
    * all-pairs NF is Θ(n·m)). Rides [[Traversal.reachLevels]] (the
    * shared prepared-edge memo, per-start visited anti-joins), then
    * everything lives on the ≤maxDepth-row histogram — the
    * unpartitioned window is over that frame, never the data. */
  def neighborhoodLadder(edges: DataFrame, starts: DataFrame,
      maxDepth: Int = 3): DataFrame =
    neighborhoodLadderFrom(Traversal.reachLevels(edges, starts, maxDepth))

  /** [[neighborhoodLadder]] over a precomputed reach frame
    * ([[closenessFrom]] discipline). */
  def neighborhoodLadderFrom(reach: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byD = reach
      .groupBy("depth").agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint(true)
    val tot = byD.agg(coalesce(sum("n_pairs"), lit(0L)).as("t"))
    byD.withColumn("cum_pairs",
        sum("n_pairs").over(Window.orderBy("depth")))
      .crossJoin(broadcast(tot))
      .select(col("depth").cast("long").as("depth"), col("n_pairs"),
        col("cum_pairs").cast("long").as("cum_pairs"),
        expr("""CAST(CASE WHEN t = 0 THEN 0 ELSE
             (CAST(1000000 AS DECIMAL(38,0)) * cum_pairs) div t
             END AS BIGINT)""").as("cum_ppm"))
      .orderBy("depth")
  }

  /** Degree-distribution power-law fit: least-squares slope of
    * ln(n_nodes) on ln(out_degree) over the full C2 degree histogram
    * — the "is this callgraph scale-free" one-liner (organic
    * callgraphs read slope ≈ −2…−3; a flat slope means synthetic or
    * truncated data). The zipfFit regression contract verbatim:
    * 6dp-rounded float sums, floor-form 4dp slope and intercept with
    * the intercept reusing the ROUNDED slope; the regression runs on
    * the ≤ d_max-row histogram, so nothing after the degree agg
    * scales with the graph. Degenerate single-point histograms
    * report slope 0 on both engines. */
  /** Freeman degree centralization over OUT-degrees: how
    * hub-dominated the graph is, as the single scalar
    * ⌊10⁶·Σ_v(dmax−d_v) / (n−1)²⌋ — 0 for an out-regular graph,
    * exactly 10⁶ for the perfect out-star (the (n−1)² denominator is
    * the star's attainable maximum: n−1 spokes each dmax−0 = n−1
    * below the hub). The distribution-shape companion to the C44
    * power-law fit and C19's assortativity. Every sum is an exact
    * long widened through DECIMAL(38,0) for the ppm scale (Σgap ≤
    * n·dmax can top 2⁶³/10⁶ on hub graphs); rides the shared node
    * memo + ONE edge-keyed degree agg; output is 1 row. */
  def degreeCentralization(edges: DataFrame): DataFrame = {
    val deg = nodesOf(edges)
      .join(edges.groupBy(col("src").cast("long").as("u"))
          .agg(count(lit(1)).as("dd")),
        col("node") === col("u"), "left")
      .select(col("node"), coalesce(col("dd"), lit(0L)).as("d"))
    val mx = deg.agg(max(col("d")).as("dmax"), count(lit(1)).as("n"))
    deg.crossJoin(broadcast(mx))
      .agg(max(col("n")).as("n_nodes"), max(col("dmax")).as("dm"),
        sum(col("dmax") - col("d")).as("gap"))
      .select(col("n_nodes"), col("dm").as("max_out_deg"),
        when(col("n_nodes") < 2, lit(0L)).otherwise(expr(
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * gap)
             div ((n_nodes - 1) * (n_nodes - 1)) AS BIGINT)"""))
          .as("centralization_ppm"))
      // empty graph: Spark's global agg emits one all-null row where
      // the oracle's GROUP BY emits zero — drop it so both agree
      .where(col("n_nodes").isNotNull)
  }

  def degreePowerLaw(edges: DataFrame): DataFrame = {
    val pts = Traversal.outDegreeHistogram(edges)
      .select(log(col("out_deg").cast("double")).as("x"),
        log(col("n_nodes").cast("double")).as("y"))
    val s = pts.agg(count(lit(1)).as("k"),
      round(sum(col("x")), 6).as("sx"), round(sum(col("y")), 6).as("sy"),
      round(sum(col("x") * col("y")), 6).as("sxy"),
      round(sum(col("x") * col("x")), 6).as("sxx"))
    val rnd = graft.functions.Rounding.rnd _
    s.withColumn("slope",
        when(col("k") * col("sxx") - col("sx") * col("sx") === 0, lit(0.0))
          .otherwise(rnd((col("k") * col("sxy") - col("sx") * col("sy")) /
            (col("k") * col("sxx") - col("sx") * col("sx")), 4)))
      .select(col("k").cast("long").as("n_points"), col("slope"),
        rnd((col("sy") - col("slope") * col("sx")) / col("k"), 4)
          .as("intercept"))
  }

  /** Top-k out-edge sparsifier — the volume reducer that runs BEFORE
    * expensive graph analytics at 100 TB: keep each node's k heaviest
    * out-edges (weight desc, dst asc — the rankTopK tie contract),
    * annotated with the node's full out-degree and total out-weight
    * so the consumer can see exactly what the cut discarded. The
    * per-node cut is the PARTIAL top-k aggregate
    * (graft.functions.TopKAgg): every map task combines down to k
    * rows per node before the shuffle, where the window/row_number
    * formulation (what the oracle replays) first shuffles every edge
    * into one sorted partition per node. Integer weights quantize
    * monotonically, so the two rankings cannot diverge. */
  def sparsifyTopK(wEdges: DataFrame, k: Int = 4): DataFrame =
    wEdges.groupBy("src")
      .agg(graft.functions.TopKAgg.topK(
          col("weight").cast("double"), col("dst"), k).as("top"),
        count(lit(1)).as("n_edges"), sum("weight").as("w_total"))
      .select(col("src"), col("n_edges"), col("w_total"), posexplode(col("top")))
      .select(col("src"), col("col.id").as("dst"),
        col("col.score").cast("long").as("weight"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("n_edges"), col("w_total"))
      .orderBy("src", "rnk")

  /** Average-neighbor-degree curve k_nn(d) (Pastor-Satorras et al.
    * 2001) — the FUNCTION the single assortativity scalar (C19)
    * summarizes: per undirected degree d, the number of edge ends at
    * that degree and the mean neighbor degree in exact floor ppm
    * (10⁶·Σd_nbr div n_ends, DECIMAL(38,0)-widened). A falling curve
    * = hubs wire to leaves (disassortative callgraph plumbing), flat
    * = no degree correlation. Same both-orientations end frame as
    * C19 ([[degreeEnds]]) + a d_max-row agg. */
  def neighborDegreeCurve(edges: DataFrame): DataFrame =
    degreeEnds(edges).groupBy(col("x").as("degree"))
      .agg(count(lit(1)).as("n_ends"), sum(col("y")).as("sum_nbr"))
      .select(col("degree"), col("n_ends"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_nbr) div n_ends
               AS BIGINT)""").as("knn_ppm"))
      .orderBy("degree")

  /** Per-node local clustering coefficient (Watts–Strogatz 1998):
    * for every node with undirected degree d ≥ 2,
    * lcc_ppm = ⌊2·10⁶·t(v) / (d·(d−1))⌋ where t(v) counts the
    * triangles through v — the per-node refinement of the global
    * C18 coefficient (which this shares all machinery with).
    *
    * Triangles come from the degree-ordered edge iterator over
    * [[orientedAdjOf]]: each triangle materializes exactly ONCE as an
    * (x, y, w) row via explode(array_intersect) over the two sorted
    * out-arrays, so the exploded frame is exactly 3·#triangles rows —
    * never a wedge enumeration. Per-node counts are one narrow
    * union+agg over those rows; 2·10⁶·t and d·(d−1) ride
    * DECIMAL(38,0) (hub degrees square past a long at 100 TB — the
    * rich-club widening). */
  def localClustering(edges: DataFrame): DataFrame = {
    val tris = orientedEdges(edges)
      .select(col("x"), col("y"),
        explode(array_intersect(col("nx"), col("ny"))).as("w"))
    val perNode = tris.select(col("x").as("n"))
      .unionByName(tris.select(col("y").as("n")))
      .unionByName(tris.select(col("w").as("n")))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    orientedAdjOf(edges).filter(col("d") >= 2)
      .join(perNode.select(col("n").as("pn"), col("tri")), col("n") === col("pn"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).cast("long").as("n_tri"),
        expr("""CAST((CAST(2000000 AS DECIMAL(38,0)) * coalesce(tri, 0)) div
               (CAST(d AS DECIMAL(38,0)) * (d - 1)) AS BIGINT)""").as("lcc_ppm"))
      .orderBy("node")
  }
}

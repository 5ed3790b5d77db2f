package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.KeyedFrameMemo.{iterate, releaseRound}

/** Connected components via iterative min-label propagation.
  *
  * DataFrame analogue of GraphX's Pregel connected-components: each
  * node carries the minimum node id seen in its neighborhood and
  * propagates it until FIXPOINT — every iteration is one
  * shuffle-on-node-id, and the loop stops as soon as an iteration
  * changes no label (labels are monotonically non-increasing, so
  * "no change" is a true fixpoint). `maxIter` is only a safety
  * bound; iterations needed = graph diameter. Each round is
  * materialized with localCheckpoint so round d doesn't re-derive
  * rounds 1..d-1.
  */
object Components {

  /** edges: (src: long, dst: long), treated as undirected.
    * Returns (node, component) where component = min node id in the
    * component.
    */
  def labelPropagation(edges: DataFrame, maxIter: Int = 50): DataFrame =
    propagate(edges, maxIter)._1

  /** Min-label propagation loop; also reports whether the fixpoint was
    * reached within `maxIter` (false ⇒ the graph's diameter exceeds
    * the round budget — [[auto]] uses this to switch engines). */
  private def propagate(edges: DataFrame, maxIter: Int): (DataFrame, Boolean) = {
    // every iteration probes the symmetric frame on b, so it is
    // hash-partitioned on b once, meant to make each round exchange
    // only the 1-row-per-node label frame. On Spark 4.1 with AQE the
    // localCheckpoint does NOT keep that partitioning, so each round
    // still re-exchanges the edges (ROADMAP item 1, partition pinning)
    val und = edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .unionByName(edges.select(col("dst").cast("long").as("a"), col("src").cast("long").as("b")))
      .distinct()
      .repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions, col("b"))
      .localCheckpoint(true)
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    // the frame whose checkpoint blocks back `labels` — released as
    // soon as the round that superseded it is materialized (the
    // betweenness releaseRound discipline)
    var labelsBack = labels
    while (!converged && iter < maxIter) {
      // Next label = min over the node's own row (which also carries
      // the previous label for the convergence check) and its neighbour
      // messages, in one aggregation; the hint pins the build side (see
      // GraftSession on AQE-chosen sides). Labels only ever decrease, so
      // zero strict decreases is a true fixpoint.
      val messages = und
        .join(labels.hint("shuffle_hash"), und("b") === labels("node"))
        .select(col("a").as("node"), col("component"), lit(null).cast("long").as("own"))
      val nextWide = labels
        .select(col("node"), col("component"), col("component").as("own"))
        .unionByName(messages)
        .groupBy("node")
        .agg(max(col("own")).as("prev"), min(col("component")).as("component"))
        .localCheckpoint(true)
      converged = nextWide.filter(col("component") < col("prev")).isEmpty
      releaseRound(labelsBack)
      labels = nextWide.select("node", "component")
      labelsBack = nextWide
      iter += 1
    }
    releaseRound(und)
    (labels, converged)
  }

  /** Connected components via the ALTERNATING large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014): per round, large-star links every strictly-larger
    * neighbor of u to m(u) = min(Γ(u) ∪ {u}); small-star links the
    * ≤-neighbors and u itself to m(u). The edge set contracts to a
    * star forest around component minima in O(log n) rounds REGARDLESS
    * OF DIAMETER — the property min-label propagation (O(diameter)
    * rounds) lacks, and the reason this is the 100 TB path for deep
    * chains. Each round is two narrow (node-keyed) shuffles; the
    * convergence check is a count+hash fingerprint agg on the already-
    * checkpointed edge set.
    */
  def alternatingStar(edges: DataFrame, maxRounds: Int = 60): DataFrame = {
    val orig = edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
    val nodes = orig.select(col("a").as("node"))
      .unionByName(orig.select(col("b").as("node")))
      .distinct().localCheckpoint(true)
    def canon(df: DataFrame): DataFrame = df
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("a"), least(col("x"), col("y")).as("b"))
      .distinct()
    def neighbors(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    def withMin(nb: DataFrame): DataFrame =
      nb.join(nb.groupBy(col("a").as("u")).agg(min(col("b")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m")),
        col("a") === col("u"))
    def fingerprint(e: DataFrame): (Long, Long) = {
      // order-independent set fingerprint; bit_xor cannot overflow
      // under ANSI mode (sum of hashes would)
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var e = canon(orig.select(col("a").as("x"), col("b").as("y"))).localCheckpoint(true)
    var fp = fingerprint(e)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prevE = e
      val nb = withMin(neighbors(e))
      val ls = canon(nb.filter(col("b") > col("a"))
        .select(col("b").as("x"), col("m").as("y")))
      val nb2 = withMin(neighbors(ls))
      val ss = canon(
        nb2.filter(col("b") <= col("a")).select(col("b").as("x"), col("m").as("y"))
          .unionByName(nb2.select(col("a").as("x"), col("m").as("y"))))
        .localCheckpoint(true)
      val fp2 = fingerprint(ss)
      converged = fp2 == fp
      fp = fp2
      e = ss
      releaseRound(prevE)
      round += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"alternatingStar: round budget $maxRounds exhausted before the edge-set " +
          "fixpoint; returned components may be under-merged")
    // fixpoint edge set is a star forest: (v, component-min) rows;
    // centers and isolated nodes label themselves
    nodes.join(e.groupBy(col("a").as("node2")).agg(min(col("b")).as("c")),
        col("node") === col("node2"), "left")
      .select(col("node"), coalesce(col("c"), col("node")).as("component"))
  }

  /** Engine-choosing components: min-label propagation needs
    * O(diameter) shuffle rounds, so it wins on the low-diameter graphs
    * this engine mostly sees (hierarchies, call graphs with hubs) but
    * loses badly on long paths. `auto` gives propagation a bounded
    * round budget and, if the fixpoint isn't reached, restarts on the
    * O(log n)-round [[alternatingStar]] — the general-diameter scale
    * path. Both produce (node, component = min node id), so callers
    * can't tell which engine ran.
    */
  def auto(edges: DataFrame, lpRoundBudget: Int = 8): DataFrame = {
    val (labels, converged) = propagate(edges, lpRoundBudget)
    if (converged) labels
    else alternatingStar(edges)
  }

  /** COMMUNITY detection by synchronous label propagation (Raghavan
    * et al. 2007) — distinct from connected components: a node adopts
    * the label held by the PLURALITY of its neighbors each round, so
    * dense regions converge to one label while bridges don't spread
    * it. Deterministic throughout: the argmax breaks ties as
    * (count desc, label asc) via a single min(struct(-count, label))
    * aggregate — no RNG, no update-order dependence (synchronous), so
    * a bounded round count is exactly replayable by the oracle's
    * unrolled CTEs. Per round: one label join keyed on the neighbor +
    * two narrow node-keyed aggregations. Synchronous LPA can 2-cycle
    * on bipartite-ish regions — the fixed round budget is the
    * documented convention (GraphX's LabelPropagation ships the same
    * caveat), not a convergence claim.
    *
    * edges are treated as undirected; self-loops dropped (a self-vote
    * would just entrench the initial label). Returns (node, community).
    */
  def communities(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val und = neighbourPairs(edges)
    // every node in `und` has ≥1 neighbor (symmetric closure), so the
    // per-round argmax always produces a row per node — no carry join
    iterate(und.select(col("a").as("node")).distinct()
        .withColumn("lab", col("node")), rounds, und)(pluralityVote(und, _))
      .select(col("node"), col("lab").as("community"))
  }

  /** The symmetric, self-loop-free neighbour pairs (a, b) of `edges`,
    * deduplicated and checkpointed. Every label round probes them on
    * b, so they are hash-partitioned on b once, as in propagate(), and
    * re-exchanged each round all the same: the localCheckpoint drops
    * the partitioning (ROADMAP item 1). */
  private def neighbourPairs(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .unionByName(edges.select(col("dst").cast("long").as("a"), col("src").cast("long").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions, col("b"))
      .localCheckpoint(true)

  /** Each node's plurality label among its labelled neighbours b in
    * `und`, ties broken (count desc, label asc) by one
    * min(struct(-count, label)): (node, lab) for every node with at
    * least one labelled neighbour. */
  private def pluralityVote(und: DataFrame, lab: DataFrame): DataFrame =
    und
      .join(lab.select(col("node").as("nb"), col("lab")), col("b") === col("nb"))
      .groupBy(col("a"), col("lab"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("a").as("node"))
      .agg(min(struct((lit(0L) - col("c")).as("nc"), col("lab").as("l"))).as("m"))
      .select(col("node"), col("m.l").as("lab"))

  /** Seeded label SPREADING — the semi-supervised sibling of
    * [[communities]] (Zhu–Ghahramani with clamping, integer-vote
    * form): seed nodes carry fixed labels that never change; each
    * round every node with at least one labeled neighbor takes the
    * plurality label among labeled neighbors (count desc, label asc
    * tie-broken — the LPA argmin-struct contract), so the labeled
    * frontier grows one hop per round and `rounds` bounds the
    * propagation radius. Labels are monotone (a labeled node always
    * keeps SOME label: seeds are clamped, and a voted node's labeled
    * neighbor stays labeled), so no carry branch is needed. Per
    * round: one edge probe of the ≤n-row label frame + two narrow
    * aggs — the communities shuffle shape, linear in edges. Returns
    * (node, label) for nodes reached within `rounds` hops of a seed.
    */
  def labelSpread(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 3): DataFrame = {
    val und = neighbourPairs(edges)
    val seedsC = seeds.select(col("node").cast("long"), col("lab").cast("long"))
      .localCheckpoint(true)
    // seeds are the round-0 state AND a live input to every union
    iterate(seedsC, rounds, und, seedsC) { lab =>
      seedsC.unionByName(
        pluralityVote(und, lab).join(seedsC.select(col("node")), Seq("node"), "left_anti"))
    }.select(col("node"), col("lab").as("label"))
  }

  /** Modularity Q of the [[communities]] partition over the simple
    * undirected graph — the single-number partition-quality metric
    * (Newman 2006): Q = Σ_c [ m_c/m − (d_c/2m)² ], where m_c counts
    * within-community edges, d_c sums member degrees, and m is the
    * undirected edge count. Both terms ride exact integer ppm with a
    * PER-COMMUNITY floor — (10⁶·m_c) div m and (10⁶·d_c²) div (4m²) —
    * so the oracle replays the value bit-identically (10⁶·d_c² fits a
    * long while d_c < 3·10⁶; beyond that widen to DECIMAL(38,0) /
    * HUGEINT — the weighted-PageRank bound discipline). Plan shape:
    * the LPA labels, one degree agg, one label-pair edge join, three
    * narrow community-keyed aggs — nothing wider than the community
    * count after the first joins. Returns one
    * (n_communities, m_edges, q_ppm) row.
    */
  def modularity(edges: DataFrame, rounds: Int = 4): DataFrame =
    modularityOf(edges, communities(edges, rounds).localCheckpoint(true))

  /** [[modularity]] body over a prepared (node, community) labeling —
    * an engine serving both the partition query and its quality
    * scalar computes the LPA once and scores it here (the
    * edgeSupportIndex sharing discipline). */
  def modularityOf(edges: DataFrame, lab: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"), greatest(col("s"), col("t")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val m = und.agg(count(lit(1)).as("m"))
    val mIn = und
      .join(lab.select(col("node").as("a"), col("community").as("ca")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("community").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("m_in"))
    val degs = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val dc = lab.join(degs, "node")
      .groupBy("community").agg(sum(col("d")).as("d_c"))
    dc.join(mIn, Seq("community"), "left")
      .select(col("community"), coalesce(col("m_in"), lit(0L)).as("m_in"), col("d_c"))
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"),
        max(col("m")).as("m_edges"),
        // Both ppm terms ride DECIMAL(38,0): 10⁶·d_c² wraps a long
        // silently (non-ANSI multiply) once d_c ≥ ~3.03e6, and
        // 10⁶·m_in once m_in ≥ ~9.2e12 — decimal keeps the integral
        // division exact to d_c ≤ 1e15 (the 100 TB edge bound) while
        // the oracle widens identically via HUGEINT. `div` on decimals
        // still returns the floored BIGINT quotient both engines agree
        // on.
        coalesce(
          sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * m_in) div CAST(m AS DECIMAL(38,0))"))
          - sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * d_c * d_c) div " +
            "(CAST(4 AS DECIMAL(38,0)) * m * m)")), lit(0L))
          .as("q_ppm"))
      .select(col("n_communities"),
        coalesce(col("m_edges"), lit(0L)).as("m_edges"), col("q_ppm"))
  }

  /** Strongly connected components at FULL depth — the unbounded
    * complement of the bounded-radius mutual-recursion detector
    * (Neighborhood.recursionGroups): distributed FW-coloring with
    * trimming (Orzan 2004; McLendon et al. 2005's FW-BW-Trim;
    * Slota-Rajamanickam-Madduri 2014 — the standard Pregel-era SCC,
    * no transitive closure anywhere).
    *
    * Per outer round: (1) TRIM — a node missing an in- or out-edge in
    * the remaining graph is a singleton SCC, peeled to fixpoint
    * (chains and DAG fringes fall out here in O(longest chain)
    * cheap degree-filter rounds); (2) COLOR — propagate the minimum
    * forward-reaching node id to fixpoint (the [[labelPropagation]]
    * loop, directed); (3) EXTRACT — color roots p (color(p) = p) are
    * pivots, and the nodes of color p that reach p BACKWARD through
    * same-color edges are exactly SCC(p), all extracted at once with
    * scc_id = p. Removing a complete SCC never severs another SCC's
    * internal paths (a path between mutually-reachable nodes cannot
    * leave their SCC), so every extraction is final.
    *
    * The emitted scc_id is CANONICAL — the minimum member id: a
    * color root has no smaller id reaching it, and any SCC member
    * reached by a smaller outside id would relay that id to the
    * root. That makes the output algorithm-independent, so the
    * DuckDB oracle can replay it from a recursive-CTE transitive
    * closure (fine at gate scale, Θ(n·m) and NOT the scale path)
    * while Spark runs the iterative form whose rounds are all
    * node-keyed joins/aggs.
    *
    * Budgets mirror [[alternatingStar]]: generous bounds + a WARN on
    * exhaustion (inner fixpoints need ~diameter rounds; outer rounds
    * ~pivot layers — both small on real callgraphs).
    */
  def stronglyConnected(edges: DataFrame, maxOuter: Int = 10,
      maxInner: Int = 40): DataFrame = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // no dedup: every step (min-aggs, degree presence, distinct
    // frontiers) is insensitive to duplicate edges, so the input
    // rides as-is — one full shuffle saved up front
    // round 0 rides the SHARED distinct prepared-edge memos (the
    // betweenness/traversal amortization): src-partitioned for the
    // trim aggs + color probes, dst-partitioned for the backward
    // coloring — in a bench/CLI session the exchanges are paid once
    // across the whole operator family. Dedup is semantics-neutral
    // here (trim compares counts only to zero; min-aggs and
    // reachability are set-valued). Alias-aware output partitioning
    // keeps the rename projection exchange-free.
    var e = Traversal.srcPreparedDistinct(edges)
      .select(col("_src").as("src"), col("_dst").as("dst"))
    var eShared = true
    // the node universe falls out of the first trim round's degree
    // agg — no standalone distinct pass over the endpoint union
    var nodes: DataFrame = null
    val found = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    var done = false
    val nPart = e.sparkSession.sessionState.conf.numShufflePartitions
    while (!done && outer < maxOuter) {
      // ---- trim singleton SCCs to fixpoint, as DEGREE-DECREMENT
      // waves (the peelDegrees/coreness discipline, r5's 8× k-core
      // win applied here): state is the per-node alive (out, in)
      // counter pair, never a re-aggregated edge set. A wave removes
      // every node missing a side (in = 0 or out = 0 — it cannot sit
      // on a cycle), then decrements its alive neighbors' counters by
      // probing the two pinned edge projections with ONLY the removed
      // frame — wave work ∝ removed adjacency, not m. The old form
      // re-aggregated all 2m endpoint rows AND re-filtered + re-
      // checkpointed the full edge frame every wave. The edge set is
      // filtered ONCE, at the fixpoint. Wave-by-wave removal order is
      // identical (a node's counters hit zero exactly when the
      // re-aggregated form stops seeing its side), so the emitted
      // singleton SCCs are bit-identical.
      // the pinned probe copies are built LAZILY, on the first wave
      // that actually removes something: a graph whose every node
      // sits on a cycle (common after the first flood — and on the
      // derived call graph even at round 0) pays one degree agg and
      // nothing else for the trim phase
      var probeSrc: DataFrame = null
      var probeDst: DataFrame = null
      lazy val eBySrc =
        if (eShared) e
        else {
          probeSrc = e.repartition(nPart, col("src")).localCheckpoint(true)
          probeSrc
        }
      lazy val eByDst =
        if (eShared) Traversal.dstPreparedDistinct(edges)
          .select(col("_src").as("src"), col("_dst").as("dst"))
        else {
          probeDst = e.repartition(nPart, col("dst")).localCheckpoint(true)
          probeDst
        }
      val outAgg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("o"))
      val inAgg = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("i"))
      // survivors of earlier outer rounds that lost ALL edges to an
      // extracted SCC are no longer edge endpoints — the carried node
      // set (not the endpoint union) is the degree universe, so they
      // surface as (0, 0) rows and trim away in the first wave
      var deg = (if (nodes == null) outAgg.join(inAgg, Seq("node"), "full")
        else nodes.join(outAgg, Seq("node"), "left")
          .join(inAgg, Seq("node"), "left"))
        .select(col("node"), coalesce(col("o"), lit(0L)).as("out"),
          coalesce(col("i"), lit(0L)).as("in"))
        .localCheckpoint(true)
      var trimming = true
      var trims = 0
      var trimmedAny = false
      while (trimming && trims < maxInner) {
        val removed = deg.filter(col("in") === 0 || col("out") === 0)
          .select("node").localCheckpoint(true)
        if (removed.isEmpty) trimming = false
        else {
          trimmedAny = true
          found += removed.select(col("node"), col("node").as("scc_id"))
          val decIn = eBySrc
            .join(removed.select(col("node").as("r")).hint("shuffle_hash"),
              col("src") === col("r"))
            .groupBy(col("dst").as("node")).agg(count(lit(1)).as("di"))
          val decOut = eByDst
            .join(removed.select(col("node").as("r")).hint("shuffle_hash"),
              col("dst") === col("r"))
            .groupBy(col("src").as("node")).agg(count(lit(1)).as("dout"))
          val prevDeg = deg
          deg = deg
            .join(removed.select(col("node").as("r")), col("node") === col("r"),
              "left_anti")
            .join(decIn, Seq("node"), "left")
            .join(decOut, Seq("node"), "left")
            .select(col("node"),
              (col("out") - coalesce(col("dout"), lit(0L))).as("out"),
              (col("in") - coalesce(col("di"), lit(0L))).as("in"))
            .localCheckpoint(true)
          // the superseded wave's counter frame has no consumer left
          // (`removed` keeps its OWN checkpoint for the final union)
          releaseRound(prevDeg)
        }
        trims += 1
      }
      // trim-private probe copies die with the trim loop
      if (probeSrc != null) releaseRound(probeSrc)
      if (probeDst != null) releaseRound(probeDst)
      val prevNodes = nodes
      nodes = deg.select("node").localCheckpoint(true)
      releaseRound(deg)
      if (prevNodes != null) releaseRound(prevNodes)
      if (nodes.isEmpty) done = true
      else {
        // one-shot restriction of the edge set to the trim survivors
        // (the per-wave re-filter this trim no longer pays), pinned on
        // src for the color sweep: each inner round then exchanges
        // only the 1-row-per-node label frame. Skipped entirely when
        // the trim removed nothing — e is already exactly the induced
        // edge set.
        if (trimmedAny) {
          val prevE = e
          val prevShared = eShared
          eShared = false
          e = e
            .join(nodes.select(col("node").as("u")), col("src") === col("u"), "left_semi")
            .join(nodes.select(col("node").as("w")), col("dst") === col("w"), "left_semi")
            .localCheckpoint(true)
          // a PRIVATE prior restriction is dead now; the round-0
          // shared memo frame is never released (other operators ride it)
          if (!prevShared) releaseRound(prevE)
        }
        // the shared frame is already src-partitioned — no re-exchange
        val ep =
          if (eShared) e
          else e.repartition(nPart, col("src")).localCheckpoint(true)
        var c = nodes.withColumn("color", col("node")).localCheckpoint(true)
        var cBack = c
        var converged = false
        var it = 0
        while (!converged && it < maxInner) {
          // SHUFFLE_HASH on the label side: the default sort-merge
          // join re-sorts the full pinned edge frame on EVERY round;
          // hashing the 1-row-per-node label frame streams it instead
          // (the betweenness probe lesson; partition-local at any m)
          val nbrMin = ep
            .join(c.select(col("node").as("u"), col("color").as("cu"))
              .hint("shuffle_hash"), col("src") === col("u"))
            .groupBy(col("dst").as("node2"))
            .agg(min(col("cu")).as("m"))
          val relaxed = c
            .join(nbrMin, col("node") === col("node2"), "left")
            .select(col("node"), col("color").as("prev"),
              least(col("color"), coalesce(col("m"), col("color"))).as("color"))
          // POINTER JUMP (pointer-doubling shortcut): forward
          // reachability is transitive, so color(color(v)) is also a
          // valid forward-reacher of v — composing it each round
          // turns the O(diameter) min-flood into O(log diameter)
          // without changing the fixpoint (a state stable under
          // relax+jump is stable under relax alone, and the oracle's
          // transitive closure never sees intermediate rounds)
          val next = relaxed
            .join(relaxed.select(col("node").as("rn"), col("color").as("rc"))
              .hint("shuffle_hash"), col("color") === col("rn"), "left")
            .select(col("node"), col("prev"),
              least(col("color"), coalesce(col("rc"), col("color"))).as("color"))
            .localCheckpoint(true)
          converged = next.filter(col("color") < col("prev")).isEmpty
          releaseRound(cBack)
          c = next.select("node", "color")
          cBack = next
          it += 1
        }
        if (!converged)
          log.warn(s"stronglyConnected: color fixpoint not reached in $maxInner " +
            "rounds — graph diameter exceeds the inner budget; raise maxInner")
        // ---- backward sweep inside each color class, from the pivots:
        // frontier-style BFS (probe only the newly-reached level each
        // round, not the whole reached set), same-color edges
        // pre-partitioned on the probe key dst. When one color flooded
        // the whole remaining graph (the giant-SCC round — the common
        // case on real callgraphs) every edge is same-color by
        // construction and the two restriction joins are skipped.
        // one color left ⇔ min == max — two simple aggs, not a
        // two-phase countDistinct over the label frame
        val cr = c.agg(min(col("color")).as("mn"), max(col("color")).as("mx")).first()
        val oneColor = cr.getLong(0) == cr.getLong(1)
        val sameColor =
          if (oneColor) ep
          else ep
            .join(c.select(col("node").as("u"), col("color").as("cu"))
              .hint("shuffle_hash"), col("src") === col("u"))
            .join(c.select(col("node").as("w"), col("color").as("cw"))
              .hint("shuffle_hash"), col("dst") === col("w"))
            .filter(col("cu") === col("cw"))
            .select(col("src"), col("dst"))
        // the common giant-SCC round (one color, untrimmed graph)
        // needs exactly the dst-partitioned distinct frame the shared
        // memo already holds — zero new exchanges
        val ec =
          if (oneColor && eShared) Traversal.dstPreparedDistinct(edges)
            .select(col("_src").as("src"), col("_dst").as("dst"))
          else sameColor
            .repartition(
              e.sparkSession.sessionState.conf.numShufflePartitions, col("dst"))
            .localCheckpoint(true)
        // ---- extraction as a BACKWARD min-coloring with the same
        // pointer jump: bcolor(v) = min id v REACHES through
        // same-color edges (propagated src←dst, shortcut each round).
        // A color class's root p is its minimum id, so v ∈ SCC(p) ⇔
        // color(v) = p ∧ bcolor(v) = p — the frontier BFS from the
        // roots computed the same set in O(SCC diameter) rounds; the
        // doubled coloring needs O(log diameter).
        var b = c.select(col("node"), col("node").as("bcolor"))
          .localCheckpoint(true)
        var bBack = b
        var settled = false
        it = 0
        while (!settled && it < maxInner) {
          val nbrMin2 = ec
            .join(b.select(col("node").as("w2"), col("bcolor").as("bw"))
              .hint("shuffle_hash"), col("dst") === col("w2"))
            .groupBy(col("src").as("node2"))
            .agg(min(col("bw")).as("m2"))
          val relaxed2 = b
            .join(nbrMin2, col("node") === col("node2"), "left")
            .select(col("node"), col("bcolor").as("prev2"),
              least(col("bcolor"), coalesce(col("m2"), col("bcolor"))).as("bcolor"))
          val next2 = relaxed2
            .join(relaxed2.select(col("node").as("rn2"), col("bcolor").as("rc2"))
              .hint("shuffle_hash"), col("bcolor") === col("rn2"), "left")
            .select(col("node"), col("prev2"),
              least(col("bcolor"), coalesce(col("rc2"), col("bcolor"))).as("bcolor"))
            .localCheckpoint(true)
          settled = next2.filter(col("bcolor") < col("prev2")).isEmpty
          releaseRound(bBack)
          b = next2.select("node", "bcolor")
          bBack = next2
          it += 1
        }
        if (!settled)
          log.warn(s"stronglyConnected: backward coloring not settled in " +
            s"$maxInner rounds — raise maxInner")
        val members = c.join(b.hint("shuffle_hash"), Seq("node"))
          .filter(col("bcolor") === col("color"))
          .select(col("node"), col("color").as("scc_id"))
          .localCheckpoint(true)
        found += members
        // members is the last consumer of both fixpoint frames and
        // of the private edge copies — release them (never the
        // shared memo frames other operators ride)
        releaseRound(cBack)
        releaseRound(bBack)
        if (!eShared) releaseRound(ep)
        if (!(oneColor && eShared)) releaseRound(ec)
        nodes = nodes.join(members.select("node"), Seq("node"), "left_anti")
          .localCheckpoint(true)
        done = nodes.isEmpty
        // restrict e only if another outer round will actually run —
        // on the (common) final round the filter's output is dead
        if (!done) {
          val prevE = e
          val prevShared = eShared
          e = e.join(nodes.select(col("node").as("u")), col("src") === col("u"), "left_semi")
            .join(nodes.select(col("node").as("w")), col("dst") === col("w"), "left_semi")
            .localCheckpoint(true)
          if (!prevShared) releaseRound(prevE)
        }
      }
      outer += 1
    }
    if (!done)
      log.warn(s"stronglyConnected: outer budget $maxOuter exhausted with nodes " +
        "remaining — their SCCs are NOT emitted; raise maxOuter")
    if (found.isEmpty) nodes.select(col("node"), col("node").as("scc_id"))
    else found.reduce(_ unionByName _)
  }

  /** Bow-tie decomposition (Broder et al., "Graph structure in the
    * Web", WWW 2000) relative to the LARGEST strongly connected
    * component: CORE = the giant SCC ([[stronglyConnected]], ties on
    * size broken by min scc_id), OUT = non-core nodes the core
    * reaches within `maxDepth` hops, IN = non-core nodes reaching
    * the core within `maxDepth`, OTHER = the rest (tendrils, tubes,
    * disconnected pieces — collapsed into one bucket). A node found
    * in BOTH cones would be mutually reachable with the core and
    * hence inside it, so the three non-other classes are disjoint by
    * construction and the classification is order-free.
    *
    * On a call graph this is the macro architecture report: CORE =
    * the mutually-recursive engine, IN = entry points/drivers, OUT =
    * leaf utilities, OTHER = dead or peripheral code. Plan shape:
    * the SCC pass + two set-level frontier BFS sweeps
    * ([[Traversal.bfs]] — per-level distinct + visited anti-join,
    * node-keyed shuffles only) + three left joins and a 4-row agg.
    * The depth bound is the documented production compromise (the
    * closeness/ecc discipline); both engines replay the same bound.
    */
  def bowTie(edges: DataFrame, maxDepth: Int = 8): DataFrame =
    bowTieFrom(stronglyConnected(edges).localCheckpoint(true), edges, maxDepth)

  /** [[bowTie]] body over a PREPARED (node, scc_id) frame — an engine
    * serving both the SCC query and its bow-tie rollup computes the
    * SCC once and feeds it here (the modularityOf sharing
    * discipline). */
  def bowTieFrom(scc: DataFrame, edges: DataFrame, maxDepth: Int = 8): DataFrame = {
    val core1 = scc.groupBy("scc_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc_id")).limit(1).select("scc_id")
    val coreNodes = scc.join(broadcast(core1), Seq("scc_id"))
      .select("node").localCheckpoint(true)
    val fwd = Traversal.bfs(edges, coreNodes, maxDepth)
      .select("node").distinct()
    val bwd = Traversal.bfs(edges, coreNodes, maxDepth, reverse = true)
      .select("node").distinct()
    scc.select("node")
      .join(coreNodes.select(col("node"), lit(1).as("in_core")), Seq("node"), "left")
      .join(fwd.select(col("node"), lit(1).as("in_fwd")), Seq("node"), "left")
      .join(bwd.select(col("node"), lit(1).as("in_bwd")), Seq("node"), "left")
      .select(col("node"),
        when(col("in_core") === 1, lit("core"))
          .when(col("in_fwd") === 1, lit("out"))
          .when(col("in_bwd") === 1, lit("in"))
          .otherwise(lit("other")).as("component"))
      .groupBy("component").agg(count(lit(1)).as("n_nodes"))
      .orderBy("component")
  }

  /** Checkpoint + RESET PLAN STATISTICS. `localCheckpoint` alone
    * intentionally carries the parent plan's estimated stats into the
    * LogicalRDD leaf — correct for one-shot plans, catastrophic for a
    * fixpoint whose round joins the state frame WITH ITSELF: the
    * estimated sizeInBytes then compounds (product of children per
    * join), its DIGIT COUNT multiplying every round, until Catalyst
    * burns hours multiplying million-digit BigIntegers inside
    * SizeInBytesOnlyStatsPlanVisitor (observed: graph_msf hung 20+
    * minutes at sf0.01 purely in driver-side BigInteger.multiply).
    * Re-anchoring through createDataFrame(rdd, schema) drops the
    * inherited estimate so every round re-plans from the default
    * leaf size. Costs one InternalRow→Row conversion on access —
    * only used on the component/label frames, never the edge data. */
  private def ckptFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** [[releaseRound]] for a [[ckptFresh]] frame: its leaf is the
    * re-anchored RDD, so the checkpoint to unpersist is the first
    * persisted RDD down that leaf's lineage. Same contract: only once
    * every consumer has been materialized. */
  private def releaseFresh(df: DataFrame): Unit = {
    def persisted(r: org.apache.spark.rdd.RDD[_]): Option[org.apache.spark.rdd.RDD[_]] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
      else r.dependencies.headOption.flatMap(d => persisted(d.rdd))
    try if (!df.sparkSession.sparkContext.isStopped)
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.flatMap(persisted).foreach(_.unpersist(false))
    catch { case _: Exception => () }
  }

  /** Minimum spanning forest by BORŮVKA's algorithm — the canonical
    * DISTRIBUTED MSF (Kruskal/Prim are inherently sequential; Borůvka
    * rounds are pure groupBy/join): each surviving component picks
    * its cheapest outgoing edge (min of struct(w, a, b) — fully
    * tie-broken, so the forest is unique and deterministic even with
    * duplicate weights), the picked edges join the forest, and the
    * components they connect merge. Merging runs `innerRounds` of
    * pointer-jumped min-label propagation over the COMPONENT graph
    * (which has one edge per picked edge — at most one per component,
    * so it is tiny relative to the data); pointer jumping doubles the
    * collapsed chain length per round, so 8 rounds collapse 2⁸-long
    * selection chains. Both budgets are FIXED and replayed verbatim
    * by the oracle (converged rounds are no-ops: no cross-component
    * edge ⇒ empty pick ⇒ stable labels), the kCore bounded-recursion
    * contract.
    *
    * Scale shape per outer round: one edge⋈labels join (edge-keyed,
    * the only data-sized shuffle), one comp-keyed min agg, and the
    * inner loop touching only the component frame — at 100 TB the
    * component frame shrinks geometrically (Borůvka at least halves
    * components per effective round) while the edge frame is never
    * rewritten, only re-filtered against the label frame.
    *
    * Returns the forest edges (edge_a, edge_b, w) sorted — n−k rows
    * for n nodes in k components (when converged within budget).
    */
  def minSpanningForest(edges: DataFrame, weightCol: String = "offset",
      outerRounds: Int = 6, innerRounds: Int = 8): DataFrame = {
    // The working frame is the CONTRACTED multigraph: (u, v) are
    // current component ids (u < v), (oa, ob, w) the cheapest ORIGINAL
    // edge between them — after round 1 only component-pair minima
    // survive, so every later round's joins run on a geometrically
    // shrinking frame (classic Borůvka contraction); the full edge set
    // is touched exactly once. Keeping (oa, ob) through contraction is
    // what lets picks emit original forest edges. The per-pair min is
    // lexicographic (w, oa, ob), so per-component minima over the
    // contracted frame equal minima over ALL cross edges — the
    // uncontracted oracle replay stays bit-identical.
    // m carries the component endpoints (u, v) BEHIND the (w, oa, ob)
    // sort key: (oa, ob) already uniquely identifies the edge, so the
    // trailing fields never influence a min — but they ride along, so
    // the pick phase needs no join back into g to learn which
    // components an edge merges
    var g = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"),
        col(weightCol).cast("long").as("w0"))
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"), col("w0"))
      .groupBy("a", "b").agg(min(col("w0")).as("w"))
      .select(col("a").as("u"), col("b").as("v"),
        struct(col("w"), col("a").as("oa"), col("b").as("ob"),
          col("a").as("cu"), col("b").as("cv")).as("m"))
      .localCheckpoint(true)
    var forest: DataFrame = null
    var round = 0
    var done = false
    while (round < outerRounds && !done) {
      if (g.isEmpty) done = true
      else {
        // each component's cheapest outgoing edge, fully tie-broken
        val pickedW = g
          .select(col("u").as("comp"), col("m"))
          .unionByName(g.select(col("v").as("comp"), col("m")))
          .groupBy("comp").agg(min(col("m")).as("m"))
          .select(col("m.oa").as("a"), col("m.ob").as("b"), col("m.w").as("w"),
            col("m.cu").as("x"), col("m.cv").as("y"))
          .distinct()
          .localCheckpoint(true)
        val picked = pickedW.select("a", "b", "w")
        val prevForest = forest
        forest =
          if (forest == null) picked.localCheckpoint(true)
          else forest.unionByName(picked).distinct().localCheckpoint(true)
        if (prevForest != null) releaseRound(prevForest)
        // merge picked components over the pick graph (one edge per
        // component — comp-count-sized, already carried in m)
        val h = pickedW.select("x", "y")
        // Merge the picked components. The pick graph has AT MOST one
        // edge per surviving component, so after round 0 it shrinks
        // geometrically; when it fits the driver comfortably the merge
        // is an exact min-root union-find collected once (2 jobs total
        // vs 2 jobs PER pointer-jump round — the inner loop was half
        // the operator's wall clock, all job latency on ≤5000-row
        // frames). The distributed pointer-jump loop remains the
        // billion-component scale path; both produce the min label per
        // merged group (union-find exactly, the bounded loop whenever
        // pick chains are shorter than 2^innerRounds — always in
        // practice, and the regime the oracle's fixed unroll pins).
        val hCnt = h.count()
        val onDriver = hCnt <= driverMergeCap
        val lab: DataFrame =
          if (onDriver) {
            // Driver fast path — NOT an exact union-find: it emulates
            // the distributed innerRounds-bounded pointer-jump below
            // step for step (synchronous l ← min(l, min-neighbor-l,
            // l(l)) with early stop on a stable round), so a pick
            // chain longer than 2^innerRounds collapses PARTIALLY here
            // exactly as it does distributed and in the oracle's fixed
            // unroll — same labels, same budget, 2 Spark jobs instead
            // of 2 per inner round (MsfMergeParitySpec pins driver ≡
            // distributed on a >2^innerRounds chain).
            val edgesArr = h.collect().map(r => (r.getLong(0), r.getLong(1)))
            val lmap = driverBoundedMerge(edgesArr, innerRounds)
            val spark = g.sparkSession
            val sqlImplicits = spark.implicits
            import sqlImplicits._
            broadcast(spark.createDataset(lmap.toSeq).toDF("c", "l"))
          } else distributedBoundedMerge(h, innerRounds)
        // contract: relabel endpoints (components without a pick keep
        // their label — the left join's coalesce), drop intra-component
        // edges, keep the cheapest original edge per new component pair
        val prevG = g
        g = g
          .join(lab.select(col("c").as("u"), col("l").as("plu")), Seq("u"), "left")
          .join(lab.select(col("c").as("v"), col("l").as("plv")), Seq("v"), "left")
          .select(coalesce(col("plu"), col("u")).as("lu"),
            coalesce(col("plv"), col("v")).as("lv"), col("m"))
          .filter(col("lu") =!= col("lv"))
          .select(least(col("lu"), col("lv")).as("u"),
            greatest(col("lu"), col("lv")).as("v"), col("m"))
          .groupBy("u", "v").agg(min(col("m")).as("m0"))
          .select(col("u"), col("v"),
            struct(col("m0.w").as("w"), col("m0.oa").as("oa"),
              col("m0.ob").as("ob"), col("u").as("cu"), col("v").as("cv"))
              .as("m"))
          .localCheckpoint(true)
        // the new round is materialized: nothing reads the one it
        // superseded, this round's picks or a distributed merge's labels
        releaseRound(prevG)
        releaseRound(pickedW)
        if (!onDriver) releaseFresh(lab)
      }
      round += 1
    }
    releaseRound(g)
    forest match {
      case null => edges.sparkSession.range(0)
        .select(col("id").as("edge_a"), col("id").as("edge_b"), col("id").as("w"))
        .filter(lit(false))
      case f => f.select(col("a").as("edge_a"), col("b").as("edge_b"), col("w"))
        .orderBy("edge_a", "edge_b")
    }
  }

  /** The distributed innerRounds-bounded min-label pointer-jump over a
    * pick graph `h(x, y)` — synchronous l ← min(l, min-neighbor-l,
    * l(l)) per round with early stop on a stable round (a no-op under
    * the oracle's fixed unroll, since labels only decrease). Package-
    * visible so MsfMergeParitySpec can pin it against the driver
    * emulation on a chain longer than 2^innerRounds. */
  private[graft] def distributedBoundedMerge(h: DataFrame,
      innerRounds: Int): DataFrame = {
    val hs = ckptFresh(
      h.unionByName(h.select(col("y").as("x"), col("x").as("y")))
        .repartition(1))
    var labD = ckptFresh(h.select(col("x").as("c"))
      .unionByName(h.select(col("y").as("c"))).distinct()
      .select(col("c"), col("c").as("l")).repartition(1))
    var labStable = false
    var inner = 0
    // labels only decrease, so one unchanged round is a true
    // inner fixpoint — further rounds are no-ops (what the
    // oracle's fixed unroll replays)
    while (inner < innerRounds && !labStable) {
      val viaNbr = hs.join(labD.select(col("c").as("y"), col("l").as("ln")),
          Seq("y"))
        .groupBy(col("x").as("c")).agg(min(col("ln")).as("nm"))
      val viaJump = labD.as("p")
        .join(labD.select(col("c").as("pl"), col("l").as("lj")),
          col("p.l") === col("pl"))
        .select(col("p.c").as("c"), col("lj"))
      val wide = ckptFresh(labD
        .join(viaNbr, Seq("c"), "left")
        .join(viaJump, Seq("c"), "left")
        .select(col("c"), col("l").as("prev"),
          least(col("l"), coalesce(col("nm"), col("l")),
            coalesce(col("lj"), col("l"))).as("l"))
        .repartition(1))
      labStable = wide.filter(col("l") < col("prev")).isEmpty
      releaseFresh(labD)
      labD = wide.select("c", "l")
      inner += 1
    }
    releaseFresh(hs)
    labD
  }

  /** Admission cap for the driver-side merge fast path, DERIVED from
    * the driver heap instead of a fixed row count (r9 verdict #7).
    * The steady-state cost is ~128 B/edge (boxed (Long, Long) tuple
    * array plus the label-table entries), but the PEAK is ~3× that:
    * `collect()` materializes the Array[Row] (boxed fields), the
    * mapped tuple array coexists with it, and the fetched task-result
    * buffers are still live — so the budget models 384 B/edge against
    * 1/8 of max heap (equivalently 128 B against 1/24): an 8 GiB
    * driver admits ~2.7M edges, a 1 GiB test JVM ~350k; anything
    * larger takes the distributed pointer-jump path (identical
    * labels, MsfMergeParitySpec). Floor of 64k keeps tiny-heap test
    * runs on the fast path for the trivial graphs they use. */
  private[graph] def driverMergeCap: Long =
    math.max(65536L, Runtime.getRuntime.maxMemory / 8L / 384L)

  /** Driver-side emulation of [[distributedBoundedMerge]]: the SAME
    * synchronous bounded recursion (min of own label, neighbor labels,
    * label-of-label; early stop on a stable round) on in-heap maps —
    * NOT an exact union-find, so a >2^innerRounds pick chain collapses
    * partially here exactly as it does distributed / in the oracle's
    * fixed unroll. Keeps minSpanningForest's driver fast path at 2
    * Spark jobs while preserving the bounded-budget parity contract. */
  private[graft] def driverBoundedMerge(edges: Array[(Long, Long)],
      innerRounds: Int): scala.collection.Map[Long, Long] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    def add(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty[Long]) += b
    edges.foreach { case (x, y) => add(x, y); add(y, x) }
    var lab = mutable.HashMap.empty[Long, Long]
    adj.keysIterator.foreach(c => lab(c) = c)
    var stable = false
    var inner = 0
    while (inner < innerRounds && !stable) {
      val next = mutable.HashMap.empty[Long, Long]
      stable = true
      adj.foreach { case (c, ns) =>
        var m = lab(c)
        var i = 0
        while (i < ns.length) {
          val ln = lab(ns(i)); if (ln < m) m = ln; i += 1
        }
        val lj = lab.getOrElse(lab(c), lab(c))
        if (lj < m) m = lj
        if (m < lab(c)) stable = false
        next(c) = m
      }
      lab = next
      inner += 1
    }
    lab
  }
}

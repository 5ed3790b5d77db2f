package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge.localCheckpointNoStats

import graft.functions.DriverCollect.bounded
import graft.functions.KeyedFrameMemo.{iterate, releaseRound}

/** Connected components via iterative min-label propagation.
  *
  * DataFrame analogue of GraphX's Pregel connected-components: each
  * node carries the minimum node id seen in its neighborhood and
  * propagates it until FIXPOINT — every iteration is one
  * shuffle-on-node-id, and the loop stops as soon as an iteration
  * changes no label (labels are monotonically non-increasing, so
  * "no change" is a true fixpoint). `maxIter` is only a safety
  * bound; iterations needed = graph diameter. Components, both SCC
  * colourings and the MSF merge run on one loop, [[minLabels]]: each
  * round is stored without Spark's inherited size estimate, which
  * would otherwise compound through the rounds' joins until planning
  * alone takes minutes, and the round it superseded is released.
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
    val (labels, converged) = minLabels(und, identityLabels(und), jump = false, maxIter)
    releaseRound(und)
    (labels.select(col("node"), col("l").as("component")), converged)
  }

  /** Each `a` of the probe frame `(a, b)` labelled with itself: (node, l). */
  private def identityLabels(probe: DataFrame): DataFrame =
    probe.select(col("a").as("node")).distinct().withColumn("l", col("node"))

  /** The one min-label fixpoint loop. `probe` holds (a, b) rows: b's
    * label flows to a. `start` is the round-0 labelling (node, l) and
    * labels every node the probe names. Each round takes, per node,
    * the min of three labels of the round before: its own, those
    * reaching it through the probe, and with `jump` the label of its
    * label. The jump is pointer doubling: a chain whose ids rise in
    * the direction its labels flow collapses in O(log length) rounds
    * instead of O(length), and every label taken still reaches the
    * node through the probe, so the fixpoint is the same. Labels only fall, so the loop stops at the first round that
    * lowers none, or after `rounds`. Returns (node, l) and whether
    * that fixpoint was reached.
    *
    * A round is one aggregation over each node's own row and its
    * messages; every join hints the label side as the hash build side,
    * so the plan does not depend on which input AQE sees finish first
    * (see GraftSession). Each round is stored without the inherited
    * size estimate ([[localCheckpointNoStats]]): the jump joins the
    * labels with themselves, and a carried estimate would multiply
    * every round. The superseded round is released once its successor
    * is stored. The caller owns `probe`. [[LocalGraph.minLabels]] is
    * the same loop on the driver. */
  private[graft] def minLabels(probe: DataFrame, start: DataFrame, jump: Boolean,
      rounds: Int): (DataFrame, Boolean) = {
    var labels = localCheckpointNoStats(start.select(col("node"), col("l")))
    var converged = false
    var round = 0
    while (!converged && round < rounds) {
      val viaProbe = probe
        .join(labels.select(col("node").as("b"), col("l").as("lb")).hint("shuffle_hash"), "b")
        .select(col("a").as("node"), col("lb").as("l"))
      val viaJump = labels
        .join(labels.select(col("node").as("j"), col("l").as("lj")).hint("shuffle_hash"),
          col("l") === col("j"))
        .select(col("node"), col("lj").as("l"))
      val messages = (if (jump) viaProbe.unionByName(viaJump) else viaProbe)
        .withColumn("own", lit(null).cast("long"))
      val next = localCheckpointNoStats(labels
        .select(col("node"), col("l"), col("l").as("own"))
        .unionByName(messages)
        .groupBy("node")
        .agg(max(col("own")).as("prev"), min(col("l")).as("l")))
      converged = next.filter(col("l") < col("prev")).isEmpty
      releaseRound(labels)
      labels = next.select("node", "l")
      round += 1
    }
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
    if (!converged) throw new IllegalStateException(
      s"alternatingStar: maxRounds = $maxRounds rounds did not reach the edge-set " +
        "fixpoint, so the components would be under-merged")
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
    * forward-reaching node id to fixpoint ([[minLabels]] over the
    * edges); (3) EXTRACT — color roots p (color(p) = p) are
    * pivots, and the nodes of color p that reach p BACKWARD through
    * same-color edges are exactly SCC(p), all extracted at once with
    * scc_id = p (the same loop, backward). Removing a complete SCC
    * never severs another SCC's internal paths (a path between
    * mutually-reachable nodes cannot leave their SCC), so every
    * extraction is final.
    *
    * Both colourings POINTER JUMP: color(color(v)) of the round before
    * also reaches v, so taking it each round turns the O(diameter)
    * min-flood into O(log diameter) rounds on a path whose ids rise
    * along its edges (the backward pass negates ids to favour the same
    * orientation; a long cycle whose ids fall along its edges still
    * needs a round per node). The fixpoint is unchanged: every label
    * taken reaches v, and at a fixpoint color(v) ≤ color(u) on every
    * edge u → v, so color(v) is the minimum forward reacher (and the
    * oracle's transitive closure never sees a round).
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
    * Budgets are generous (inner fixpoints need ~log diameter rounds;
    * outer rounds ~pivot layers — both small on real callgraphs). A
    * used-up budget raises an error: partial colours give wrong
    * scc_ids, and an unfinished outer loop would drop nodes.
    */
  def stronglyConnected(edges: DataFrame, maxOuter: Int = 10,
      maxInner: Int = 40): DataFrame = {
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
        // ---- forward colouring: each node's minimum forward reacher
        // (probe (dst, src): a src's colour flows to its dst)
        val (c, colored) = minLabels(ep.select(col("dst").as("a"), col("src").as("b")),
          nodes.select(col("node"), col("node").as("l")), jump = true, maxInner)
        if (!colored) throw new IllegalStateException(
          s"stronglyConnected: the forward colouring did not converge in maxInner = " +
            s"$maxInner rounds")
        // ---- the same-color edges the backward colouring runs on,
        // pre-partitioned on its probe key dst. When one color flooded
        // the whole remaining graph (the giant-SCC round — the common
        // case on real callgraphs) every edge is same-color by
        // construction and the two restriction joins are skipped.
        // one color left ⇔ min == max — two simple aggs, not a
        // two-phase countDistinct over the label frame
        val cr = c.agg(min(col("l")).as("mn"), max(col("l")).as("mx")).first()
        val oneColor = cr.getLong(0) == cr.getLong(1)
        val sameColor =
          if (oneColor) ep
          else ep
            .join(c.select(col("node").as("u"), col("l").as("cu"))
              .hint("shuffle_hash"), col("src") === col("u"))
            .join(c.select(col("node").as("w"), col("l").as("cw"))
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
        // ---- extraction as a BACKWARD colouring of the same-color
        // edges: v ∈ SCC(p) ⇔ color(v) = p ∧ v reaches p. The jump only
        // shortcuts a path whose ids rise in the direction its labels
        // flow, and labels flow against the edges here but along them
        // above, so with the same ids a cycle whose ids rise along its
        // edges would take one round per node in this pass. It runs on
        // NEGATED ids instead (ANSI mode fails loudly on Long.MinValue),
        // and each root starts from Long.MinValue, which no negated id
        // equals: a node ends on it exactly when it reaches its root.
        val (b, settled) = minLabels(
          ec.select((-col("src")).as("a"), (-col("dst")).as("b")),
          c.select((-col("node")).as("node"),
            when(col("l") === col("node"), lit(Long.MinValue)).otherwise(-col("node"))
              .as("l")),
          jump = true, maxInner)
        if (!settled) throw new IllegalStateException(
          s"stronglyConnected: the backward colouring did not converge in maxInner = " +
            s"$maxInner rounds")
        val members = c
          .join(b.filter(col("l") === Long.MinValue).select((-col("node")).as("node"))
            .hint("shuffle_hash"), Seq("node"))
          .select(col("node"), col("l").as("scc_id"))
          .localCheckpoint(true)
        found += members
        // members is the last consumer of both fixpoint frames and
        // of the private edge copies — release them (never the
        // shared memo frames other operators ride)
        releaseRound(c)
        releaseRound(b)
        if (!eShared) releaseRound(ep)
        if (!(oneColor && eShared)) releaseRound(ec)
        val unextracted = nodes
        nodes = nodes.join(members.select("node"), Seq("node"), "left_anti")
          .localCheckpoint(true)
        releaseRound(unextracted)
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
    if (!done) throw new IllegalStateException(
      s"stronglyConnected: maxOuter = $maxOuter rounds left nodes without an SCC")
    if (found.isEmpty) nodes.select(col("node"), col("node").as("scc_id"))
    else {
      releaseRound(nodes)
      found.reduce(_ unionByName _)
    }
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
        // merge the picked components over the pick graph (one edge
        // per component — comp-count-sized, already carried in m)
        val lab = mergePicks(pickedW.select("x", "y"), innerRounds)
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
        releaseRound(lab)
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

  /** MSF's merge: `rounds` pointer-jumped [[minLabels]] rounds over
    * the symmetric pick graph h(x, y), as (c, l). The pick graph has at
    * most one edge per surviving component, so after round 0 it
    * shrinks geometrically; when it fits under the broadcast threshold
    * ([[bounded]]) the same rounds run on the driver
    * ([[LocalGraph.minLabels]]), one job instead of two per round.
    * Both stop at the same round, so a pick chain longer than
    * 2^rounds collapses PARTIALLY on both, exactly as in the oracle's
    * fixed unroll (MsfMergeParitySpec). */
  private[graft] def mergePicks(h: DataFrame, rounds: Int): DataFrame =
    bounded(h).fold {
      val probe = h.select(col("x").as("a"), col("y").as("b"))
        .unionByName(h.select(col("y").as("a"), col("x").as("b")))
      minLabels(probe, identityLabels(probe), jump = true, rounds)._1
        .select(col("node").as("c"), col("l"))
    } { rows =>
      val (x, y) = (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
      val g = LocalGraph.Csr(x ++ y, y ++ x)
      val l = LocalGraph.minLabels(g, rounds, jump = true)
      val spark = h.sparkSession
      import spark.implicits._
      broadcast(g.ids.indices.map(i => (g.ids(i), g.ids(l(i)))).toDF("c", "l"))
    }
}

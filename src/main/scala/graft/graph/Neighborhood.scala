package graft.graph

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.KeyedFrameMemo

/** Neighborhood-structure analytics over the call graph: function
  * similarity by shared callees (the binary-diffing primitive — two
  * functions that call the same set of helpers are near-certain
  * port/clone candidates) and mutual-recursion group extraction
  * (bounded SCC families, the multi-node generalization of the
  * reference's per-node recursion detection,
  * call_path_analyzer.rs:253-331).
  */
object Neighborhood {

  private def rnd(c: Column, s: Int): Column = graft.functions.Rounding.rnd(c, s)

  /** Callee-set Jaccard similarity between caller functions: pairs
    * (fn_a < fn_b) whose deduped out-neighbor sets satisfy
    * J = |∩|/|∪| ≥ tauNum/tauDen, with the threshold tested as the
    * EXACT integer inequality tauDen·|∩| ≥ tauNum·(|A|+|B|−|∩|) — no
    * float compare anywhere near the cut.
    *
    * Scale shape: candidates come from an equality self-join on the
    * shared callee, so a "hub" callee of in-degree h contributes h²/2
    * candidate pairs while carrying no discriminative signal (every
    * function calls memcpy). Callees with in-degree > `hubCap` are
    * dropped from the universe BEFORE sizes and intersections are
    * computed — the same stopword move the text-dedup prefix filter
    * makes — which bounds the join at hubCap·|callees| pairs. Both
    * set sizes are measured over the same capped universe, so the
    * scores stay internally consistent and the oracle replays the cap
    * exactly. `callers` (column `node`) scopes both pair endpoints.
    */
  def calleeJaccard(edges: DataFrame, callers: DataFrame, hubCap: Int = 100,
      tauNum: Int = 1, tauDen: Int = 2): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
    val capped = e.join(
        e.groupBy(col("dst").as("hd")).agg(count(lit(1)).as("indeg"))
          .filter(col("indeg") <= hubCap).select("hd"),
        col("dst") === col("hd"), "left_semi")
      .join(callers.select(col("node").cast("long").as("node")).distinct(),
        col("src") === col("node"), "left_semi")
      .localCheckpoint(true)
    val sizes = capped.groupBy(col("src").as("fn")).agg(count(lit(1)).as("deg"))
    val shared = capped.as("x").join(capped.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("fn_a"), col("y.src").as("fn_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("fn").as("fa"), col("deg").as("da")), col("fn_a") === col("fa"))
      .join(sizes.select(col("fn").as("fb"), col("deg").as("db")), col("fn_b") === col("fb"))
      .filter(col("shared") * tauDen >= (col("da") + col("db") - col("shared")) * tauNum)
      .select(col("fn_a"), col("fn_b"), col("shared"),
        (col("da") + col("db") - col("shared")).as("union_size"),
        rnd(col("shared") / (col("da") + col("db") - col("shared")), 4).as("jaccard"))
      .orderBy("fn_a", "fn_b")
  }

  /** Mutual-recursion groups: connected components over the
    * bounded-mutual-reachability pair graph. Two scoped functions a, b
    * are a mutual pair when each reaches the other within ≤ maxDepth
    * hops ([[Traversal.reachWithin]] both ways: one reach table,
    * grouped on the unordered pair); groups are then BOUNDED
    * min-label components over those pairs (`ccRounds` fixed — labels
    * are fixpoint-stable, so early convergence equals running all
    * rounds and the oracle replays the identical recursion, the
    * Dedup.clusters contract). Returns (node, group_id, group_size)
    * for every node in a mutual pair; group_id = min node id in the
    * group.
    *
    * Bounded mutual reachability is NOT transitive, which is exactly
    * why the honest group definition is components over the pair
    * graph, not "nodes sharing a reach set". Direct self-cycles are
    * excluded by construction (reachWithin never emits start = node);
    * they belong to the Direct bucket of recursion().
    *
    * When the edges and the scope fit under
    * `spark.sql.autoBroadcastJoinThreshold` the whole analysis runs on
    * the driver ([[LocalGraph.recursionGroups]]), already in node
    * order; a threshold of -1 forces the distributed rounds below.
    */
  def recursionGroups(edges: DataFrame, scope: DataFrame, maxDepth: Int = 3,
      ccRounds: Int = 12): DataFrame =
    LocalGraph.recursionGroups(edges, scope, maxDepth, ccRounds).getOrElse {
      val reach = Traversal.reachWithin(edges, scope, maxDepth)
        .join(scope.select(col("node").cast("long").as("node")).distinct(),
          Seq("node"), "left_semi")
        .localCheckpoint(true)
      // reach rows are distinct and never start = node: a pair is mutual
      // when it has two rows (grouped, not self-joined: see GraftSession)
      val pairs = reach
        .groupBy(least(col("start"), col("node")).as("src"),
          greatest(col("start"), col("node")).as("dst"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") === 2)
        .select("src", "dst")
      val labels = Components.labelPropagation(pairs, maxIter = ccRounds)
      labels
        .select(col("node"), col("component").as("group_id"),
          count(lit(1)).over(Window.partitionBy("component")).as("group_size"))
        .orderBy("node")
    }

  /** Cross-binary call-graph diff — the reference's raison d'être
    * (comparing binaries) at the graph level: per caller present in
    * EITHER graph, how its callee set changed from `before` to
    * `after`. One full-outer edge-keyed merge + one narrow caller-
    * keyed aggregation — at 100 TB this is two co-partitioned
    * shuffles, never a per-function loop. Jaccard(old, new) rides the
    * exact integer counts with one floor-form-rounded divide; a
    * function missing from one side scores 0.0 (nothing in common
    * with nothing is a changed function, not a div-by-zero).
    * Returns (node, n_kept, n_added, n_removed, callee_jaccard) for
    * callers whose sets changed at all.
    */
  def graphDiff(before: DataFrame, after: DataFrame): DataFrame = {
    def ed(df: DataFrame, tag: String) = df
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
      .withColumn(tag, lit(1))
    val merged = ed(before, "in_before")
      .join(ed(after, "in_after"), Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"),
        coalesce(col("in_before"), lit(0)).as("b"),
        coalesce(col("in_after"), lit(0)).as("a"))
    merged.groupBy(col("src").as("node"))
      .agg(
        sum(col("b") * col("a")).as("n_kept"),
        sum((lit(1) - col("b")) * col("a")).as("n_added"),
        sum(col("b") * (lit(1) - col("a"))).as("n_removed"))
      .filter(col("n_added") + col("n_removed") > 0)
      .select(col("node"), col("n_kept"), col("n_added"), col("n_removed"),
        rnd(col("n_kept") / (col("n_kept") + col("n_added") + col("n_removed")), 4)
          .as("callee_jaccard"))
      .orderBy("node")
  }

  /** Adamic-Adar link prediction over shared callees: for caller
    * pairs NOT already connected, score Σ_z 1/ln(indeg z) over their
    * common callees z — the common-neighbors heuristic that discounts
    * promiscuous helpers (calling the same rare internal pair of
    * functions is strong clone/port evidence; both calling memcpy is
    * none). Each z's weight is the ppm fixed point ⌊10⁶/ln(indeg)+0.5⌋
    * computed ONCE per callee from its exact integer in-degree —
    * after that one floor, every score is an exact integer sum, so
    * ordering and the top-k cut cannot drift across engines (ln(int)
    * is the same libm double both sides; the floor boundary would
    * need an ulp-level coincidence on a transcendental, the
    * [[graft.functions.Rounding]] contract).
    *
    * Scale shape = [[calleeJaccard]]'s: candidates come from the
    * equality self-join on z, in-degree > `hubCap` drops hub callees
    * BEFORE the join (bounding it at hubCap·|callees| pairs), and the
    * already-adjacent exclusion is two edge-keyed anti joins, never a
    * per-pair lookup. indeg ≥ 2 is implied for any common neighbor;
    * the weight frame filters it anyway so ln(1)=0 can't divide.
    * Returns the top-k (score desc, fn_a, fn_b — fully tie-broken)
    * pairs with ≥ `minShared` common callees.
    */
  /** The shared hub-capped common-neighbor pair frame behind
    * [[adamicAdar]] and [[resourceAllocation]] — the two link
    * predictors differ ONLY in the per-common-neighbor weight
    * (⌊10⁶/ln indeg⌋ vs ⌊10⁶/indeg⌋), so the expensive machinery
    * (the z-keyed self-join, the pair aggregation, both adjacency
    * anti-joins) runs ONCE per (edges, hubCap) and carries BOTH
    * weight sums; each predictor projects its column. Memoized per
    * (edge frame identity, hubCap), checkpointed. Returns
    * (fn_a, fn_b, score_aa, score_ra, shared) for non-adjacent pairs
    * with ≥ 1 common sub-cap neighbor. */
  private val pairMemo = new KeyedFrameMemo[(DataFrame, Int)]
  private def commonNeighborPairs(edges: DataFrame, hubCap: Int): DataFrame =
    pairMemo.getOrBuild((edges, hubCap)) {
      val e = Ranking.simpleEdgesOf(edges)
      val w = e.groupBy("dst").agg(count(lit(1)).as("indeg"))
        .filter(col("indeg") >= 2 && col("indeg") <= hubCap)
        .select(col("dst"),
          floor(lit(1e6) / log(col("indeg").cast("double")) + 0.5)
            .cast("long").as("wz_aa"),
          expr("1000000 div indeg").as("wz_ra"))
      val cap = e.join(w, "dst")
      cap.as("x").join(cap.as("y"),
          col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
        .groupBy(col("x.src").as("fn_a"), col("y.src").as("fn_b"))
        .agg(sum(col("x.wz_aa")).as("score_aa"),
          sum(col("x.wz_ra")).as("score_ra"),
          count(lit(1)).as("shared"))
        .join(e.select(col("src").as("fn_a"), col("dst").as("fn_b")),
          Seq("fn_a", "fn_b"), "left_anti")
        .join(e.select(col("dst").as("fn_a"), col("src").as("fn_b")),
          Seq("fn_a", "fn_b"), "left_anti")
        .localCheckpoint(true)
    }

  def adamicAdar(edges: DataFrame, hubCap: Int = 100, minShared: Int = 2,
      topK: Int = 100): DataFrame =
    commonNeighborPairs(edges, hubCap)
      .select(col("fn_a"), col("fn_b"), col("score_aa").as("score_ppm"),
        col("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("score_ppm").desc, col("fn_a"), col("fn_b"))
      .limit(topK)

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009) —
    * [[adamicAdar]]'s harder-decaying sibling: each common callee z
    * contributes 1/indeg(z) instead of 1/ln indeg(z), so hub-mediated
    * coincidences are suppressed quadratically harder — empirically
    * the strongest of the local similarity indices on dense graphs.
    * Weights are ⌊10⁶/indeg⌋ — PURE integer floor division, no
    * transcendental anywhere, so the score is exact (not merely
    * tie-safe) on both engines. Identical scale shape to adamicAdar:
    * hub cap before the z-keyed self-join, two anti joins for
    * adjacency exclusion, fully tie-broken top-k. */
  def resourceAllocation(edges: DataFrame, hubCap: Int = 100,
      minShared: Int = 2, topK: Int = 100): DataFrame =
    commonNeighborPairs(edges, hubCap)
      .select(col("fn_a"), col("fn_b"), col("score_ra").as("score_ppm"),
        col("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("score_ppm").desc, col("fn_a"), col("fn_b"))
      .limit(topK)
}

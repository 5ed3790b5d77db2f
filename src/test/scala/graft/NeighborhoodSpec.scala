package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Neighborhood, Ranking}

/** Unit semantics for the neighborhood analytics (callee-set Jaccard,
  * mutual-recursion groups) and personalized PageRank on hand-checked
  * graphs.
  */
class NeighborhoodSpec extends AnyFunSuite with BroadcastOff {
  lazy val spark: SparkSession = GraftSession.local(4)

  def edges(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "offset")
  }
  def nodes(ids: Long*) = {
    import spark.implicits._
    ids.toDF("node")
  }

  test("calleeJaccard: clones score 1.0, partial overlap scores fractionally") {
    // 1 and 2 call exactly {10,11,12} (clones); 3 shares two of three
    // with 1 → J = 2/4 = 0.5; 4 shares nothing.
    val g = edges(
      1L -> 10L, 1L -> 11L, 1L -> 12L,
      2L -> 10L, 2L -> 11L, 2L -> 12L,
      3L -> 10L, 3L -> 11L, 3L -> 13L,
      4L -> 14L)
    val r = Neighborhood.calleeJaccard(g, nodes(1L, 2L, 3L, 4L),
        hubCap = 100, tauNum = 1, tauDen = 2)
      .collect()
      .map(x => ((x.getLong(0), x.getLong(1)),
        (x.getAs[Long]("shared"), x.getAs[Long]("union_size"),
          x.getAs[Double]("jaccard")))).toMap
    assert(r((1L, 2L)) == ((3L, 3L, 1.0)))
    assert(r((1L, 3L)) == ((2L, 4L, 0.5)))
    assert(r((2L, 3L)) == ((2L, 4L, 0.5)))
    assert(r.size == 3) // nothing with 4
  }

  test("calleeJaccard: a hub callee above the cap carries no signal") {
    // 1,2,3 all call hub 99 (in-degree 3 > cap 2) plus one private
    // callee each — with the hub capped away no pair shares anything.
    val g = edges(1L -> 99L, 2L -> 99L, 3L -> 99L,
      1L -> 10L, 2L -> 11L, 3L -> 12L)
    val r = Neighborhood.calleeJaccard(g, nodes(1L, 2L, 3L), hubCap = 2,
      tauNum = 1, tauDen = 10)
    assert(r.count() == 0)
    // raising the cap re-admits the hub and the pairs reappear
    val r2 = Neighborhood.calleeJaccard(g, nodes(1L, 2L, 3L), hubCap = 3,
      tauNum = 1, tauDen = 10)
    assert(r2.count() == 3) // J = 1/3 for each pair
  }

  test("recursionGroups: components over mutual pairs, not reach cliques") {
    // 1↔2 and 2↔3 mutual within depth 2, but 1 and 3 are NOT mutual
    // within 2 (1→2→3 forward needs 2 hops, 3→2→1 back needs 2 hops —
    // actually mutual at depth 2; use depth 1 to break transitivity):
    // at depth 1 only direct back-edges count: 1↔2, 2↔3. The group
    // must still be {1,2,3} via the PAIR GRAPH component, group_id 1.
    val g = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 4L -> 1L)
    // broadcast off, here and below: graphs this small would run the
    // reach rounds on the driver (LocalGraphSpec pins that path to these)
    val r = withoutBroadcast(Neighborhood.recursionGroups(g, nodes(1L, 2L, 3L, 4L), maxDepth = 1)
      .collect())
      .map(x => (x.getAs[Long]("node"), x.getAs[Long]("group_id"),
        x.getAs[Long]("group_size"))).toSet
    assert(r == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
  }

  test("recursionGroups: scope excludes out-of-scope mutuals; self-loops ignored") {
    val g = edges(1L -> 2L, 2L -> 1L, 5L -> 6L, 6L -> 5L, 7L -> 7L)
    // 5↔6 mutual but 6 is out of scope; 7's self-loop is Direct
    // recursion, not a group.
    val r = withoutBroadcast(Neighborhood.recursionGroups(g, nodes(1L, 2L, 5L, 7L), maxDepth = 2)
      .collect()).map(x => (x.getLong(0), x.getAs[Long]("group_id"))).toSet
    assert(r == Set((1L, 1L), (2L, 1L)))
  }

  test("graphDiff: kept/added/removed per caller, vanished callers score 0") {
    val before = edges(1L -> 2L, 1L -> 3L, 5L -> 6L)
    val after = edges(1L -> 3L, 1L -> 4L, 7L -> 8L)
    val d = Neighborhood.graphDiff(before, after)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(d == Seq(
      (1L, 1L, 1L, 1L, 0.3333), // kept {3}, added {4}, removed {2}
      (5L, 0L, 0L, 1L, 0.0),    // caller vanished entirely
      (7L, 0L, 1L, 0L, 0.0)),   // caller is new
      s"got $d")
  }

  test("graphDiff: identical graphs produce no rows") {
    val g = edges(1L -> 2L, 2L -> 3L)
    assert(Neighborhood.graphDiff(g, g).count() == 0)
  }

  test("personalizedPageRank: mass stays in the seed's forward cone") {
    // 1→2→3 chain with a detached 4→5: seeding {1} must rank only
    // {1,2,3}, seed highest, and monotonically decay down the chain.
    val g = edges(1L -> 2L, 2L -> 3L, 4L -> 5L)
    val r = Ranking.personalizedPageRank(g, nodes(1L), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getAs[Long]("ppr_ppm")).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) > r(2L) && r(2L) > r(3L))
    // exact fixed-point replay: pr(1) = 150000 every round;
    // pr(2) = 150000·17/20 → 127500 at the fixpoint the 3rd round hits
    assert(r(1L) == 150000L)
    assert(r(2L) == (17L * 150000L) / 20L)
  }

  test("adamicAdar: rare shared callees outscore hubs, adjacent pairs excluded") {
    // 1 and 2 share {10, 11}; 3 and 4 share {12, 13}. 10/11 have
    // in-degree 2 (weight ⌊1e6/ln 2+0.5⌋ = 1442695); 12/13 gain two
    // extra callers (5, 6 — in-degree 4, weight ⌊1e6/ln 4+0.5⌋ =
    // 721348), so (1,2) must outrank (3,4). 1→2 edge added: were the
    // pair not excluded, (1,2) would still appear — assert it doesn't.
    val g = edges(
      1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 11L, 1L -> 2L,
      3L -> 12L, 3L -> 13L, 4L -> 12L, 4L -> 13L,
      5L -> 12L, 5L -> 13L, 6L -> 12L, 6L -> 13L)
    val r = Neighborhood.adamicAdar(g, hubCap = 100, minShared = 2, topK = 100)
      .collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getAs[Long]("score_ppm"))).toMap
    assert(!r.contains((1L, 2L)), s"adjacent pair not excluded: $r")
    // the {3,4,5,6} clique over {12,13}: C(4,2)=6 pairs at 2·721348
    assert(r((3L, 4L)) == 2L * 721348L)
    assert(r.size == 6)
  }

  test("adamicAdar: a hub callee above the cap contributes nothing") {
    // 1 and 2 share only hub 99 (in-degree 3 > cap 2) → no pairs.
    val g = edges(1L -> 99L, 2L -> 99L, 3L -> 99L)
    assert(Neighborhood.adamicAdar(g, hubCap = 2, minShared = 1).count() == 0)
  }

  test("personalizedPageRank differs from global pageRank on the same graph") {
    val g = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 3L)
    val global = Ranking.pageRank(g).collect()
      .map(x => x.getLong(0) -> x.getAs[Long]("pagerank_ppm")).toMap
    val ppr = Ranking.personalizedPageRank(g, nodes(4L)).collect()
      .map(x => x.getLong(0) -> x.getAs[Long]("ppr_ppm")).toMap
    // global gives every node teleport mass; PPR gives 4 all of it
    assert(global(1L) > 0 && global(4L) > 0)
    assert(ppr(4L) == 150000L && !global.values.toSet.contains(0L))
    assert(ppr.getOrElse(2L, 0L) < global(2L)) // 2 is far from seed 4
  }

  test("resourceAllocation: pure 1/indeg weights, adjacency excluded") {
    // callers 1,2 share callees 10,11 (indeg 2 each → wz 500000);
    // caller 3 shares only 10 with them (shared 1 < minShared)
    val e = edges(1L -> 10L, 2L -> 10L, 1L -> 11L, 2L -> 11L, 3L -> 10L)
    val r = Neighborhood.resourceAllocation(e).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> ((x.getLong(2), x.getLong(3))))
      .toMap
    // indeg(10) = 3 → wz 333333; indeg(11) = 2 → wz 500000
    assert(r == Map((1L, 2L) -> ((833333L, 2L))), s"$r")
    // adjacency exclusion: linking 1→2 removes the pair
    val e2 = edges(1L -> 10L, 2L -> 10L, 1L -> 11L, 2L -> 11L, 1L -> 2L)
    assert(Neighborhood.resourceAllocation(e2).collect().isEmpty)
  }
}

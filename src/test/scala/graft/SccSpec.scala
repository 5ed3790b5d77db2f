package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Components

/** stronglyConnected == brute-force closure ground truth on graph
  * shapes that exercise every branch: trim chains, multiple cycles,
  * DAG bridges between SCCs, self-loops, and nested pivot layers. */
class SccSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Ground truth: scc_id(v) = min over {v} ∪ {u : u →* v ∧ v →* u},
    * via Floyd-Warshall-style closure — fine at fixture size. */
  private def bruteScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => reach(idx(a))(idx(b)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    nodes.map { v =>
      val mutual = nodes.filter(u =>
        reach(idx(u))(idx(v)) && reach(idx(v))(idx(u)))
      v -> (mutual :+ v).min
    }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.stronglyConnected(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bowTie: core/in/out/other counts on a hand bow-tie") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // core cycle {1,2,3}; 0 -> 1 (IN); 3 -> 4 (OUT); isolated pair
    // 10 -> 11 (OTHER). Larger cycle wins over the 10/11 singletons.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (0L, 1L), (3L, 4L),
      (10L, 11L))
      .toDF("src", "dst").withColumn("offset", lit(0L))
    val r = Components.bowTie(e, maxDepth = 4)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("core" -> 3L, "in" -> 1L, "out" -> 1L, "other" -> 2L), s"$r")
  }

  test("two cycles joined by a DAG bridge, plus a tail chain") {
    // cycle {1,2,3} -> bridge 4 -> cycle {5,6}, chain 7->8->1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (7L, 8L), (8L, 1L))
    assert(run(e) == bruteScc(e))
  }

  test("self-loops are singleton SCCs with their own id") {
    val e = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 3L))
    assert(run(e) == bruteScc(e))
  }

  test("pure DAG: every node is its own SCC") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = run(e)
    assert(got == bruteScc(e))
    assert(got.forall { case (v, s) => v == s })
  }

  test("nested pivot layers: SCC behind an SCC (sequential extraction)") {
    // cycle {10,11} feeds cycle {2,3} feeds cycle {5,6}: colors force
    // at least two outer rounds (min id 2 floods its forward cone,
    // hiding {5,6} until {2,3} is extracted)
    val e = Seq((10L, 11L), (11L, 10L), (11L, 2L), (2L, 3L), (3L, 2L),
      (3L, 5L), (5L, 6L), (6L, 5L))
    assert(run(e) == bruteScc(e))
  }

  test("duplicate edges and a long chain trim correctly") {
    val chain = (1L to 20L).sliding(2).map(p => (p(0), p(1))).toSeq
    val e = chain ++ chain ++ Seq((20L, 18L), (19L, 18L))
    assert(run(e) == bruteScc(e))
  }

  test("strongly connected whole graph collapses to min id") {
    val e = Seq((4L, 7L), (7L, 9L), (9L, 4L), (9L, 12L), (12L, 7L))
    val got = run(e)
    assert(got.values.toSet == Set(4L))
    assert(got == bruteScc(e))
  }

  /** A cycle 0 → 1 → … → n−1 → 0. */
  private def cycle(n: Long): Seq[(Long, Long)] = (0L until n).map(i => (i, (i + 1) % n))

  test("a 64-node cycle is one SCC") {
    assert(run(cycle(64)) == (0L until 64L).map(_ -> 0L).toMap)
  }

  test("a 1024-node cycle is one SCC") {
    assert(run(cycle(1024)) == (0L until 1024L).map(_ -> 0L).toMap)
  }

  /** Eight 6-node rings, alternately rising and falling along their
    * edges, each ring's last node feeding the next ring's first and
    * the eighth feeding the first: one 48-node SCC {0..75}. */
  private val rings: Seq[(Long, Long)] = (0 until 8).flatMap { k =>
    def ring(k: Int) = {
      val ids = (0L until 6L).map(_ + 10L * k)
      if (k % 2 == 0) ids else ids.reverse
    }
    val r = ring(k)
    (r :+ r.head).sliding(2).map(p => (p(0), p(1))).toSeq :+ (r.last, ring((k + 1) % 8).head)
  }

  test("cycle of cycles: a 48-node SCC and a tail chain") {
    val e = rings ++ Seq((200L, 201L), (201L, 3L))
    val want = bruteScc(e)
    assert(want.values.count(_ == 0L) == 48)
    assert(run(e) == want)
  }

  test("cycle of cycles with a larger-id cycle downstream: one round per hop backward") {
    // every node of the big SCC reaches the falling 5-cycle {100..104},
    // so the backward colouring first labels the SCC with a node of
    // that cycle, which never reaches the root: its jumps stop helping
    // and the root's label moves one hop per round (~43 rounds)
    import spark.implicits._
    val e = rings ++ Seq((104L, 103L), (103L, 102L), (102L, 101L), (101L, 100L), (100L, 104L),
      (75L, 104L))
    val m = budgetError(e, maxOuter = 10, maxInner = 40)
    assert(m.contains("backward colouring"))
    val got = Components.stronglyConnected(e.toDF("src", "dst"), maxInner = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == bruteScc(e))
  }

  // a used-up budget raises: partial colours would give wrong scc_ids,
  // and an unfinished outer loop would drop the remaining nodes
  private def budgetError(e: Seq[(Long, Long)], maxOuter: Int, maxInner: Int): String = {
    import spark.implicits._
    intercept[IllegalStateException](Components.stronglyConnected(
      e.toDF("src", "dst"), maxOuter = maxOuter, maxInner = maxInner).collect()).getMessage
  }

  test("stronglyConnected: a used-up forward colouring budget raises an error") {
    val m = budgetError(cycle(64), maxOuter = 10, maxInner = 2)
    assert(m.contains("stronglyConnected") && m.contains("forward colouring") &&
      m.contains("maxInner = 2"))
  }

  test("stronglyConnected: a used-up backward colouring budget raises an error") {
    // 0 calls every node, so the forward colouring settles in 2 rounds;
    // the backward one needs ~log2(64) rounds to carry the root's label
    val m = budgetError(cycle(64) ++ (1L until 64L).map(0L -> _), maxOuter = 10, maxInner = 3)
    assert(m.contains("stronglyConnected") && m.contains("backward colouring") &&
      m.contains("maxInner = 3"))
  }

  test("stronglyConnected: a used-up outer budget raises an error") {
    // {5,6} is hidden behind {2,3} until that SCC is extracted
    val e = Seq((10L, 11L), (11L, 10L), (11L, 2L), (2L, 3L), (3L, 2L),
      (3L, 5L), (5L, 6L), (6L, 5L))
    val m = budgetError(e, maxOuter = 1, maxInner = 40)
    assert(m.contains("stronglyConnected") && m.contains("maxOuter = 1"))
  }

  /** Ground truth MSF: Kruskal with (w, a, b) tie-break — union-find
    * over the same undirected dedup the operator performs. */
  private def bruteMsf(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map { case (s, t, w) => (math.min(s, t), math.max(s, t), w) }
      .groupBy(e => (e._1, e._2)).map { case ((a, b), g) => (a, b, g.map(_._3).min) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    und.flatMap { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(ra) = rb; Some((a, b, w)) }
    }.toSet
  }

  test("minSpanningForest: matches Kruskal on a weighted multigraph") {
    import spark.implicits._
    // two clusters bridged by one expensive edge + a parallel cheaper
    // one; duplicate/reversed edges and a self-loop for normalization
    val e = Seq(
      (1L, 2L, 5L), (2L, 1L, 3L), (2L, 3L, 1L), (1L, 3L, 4L),
      (10L, 11L, 2L), (11L, 12L, 2L), (10L, 12L, 7L),
      (3L, 10L, 9L), (3L, 10L, 6L), (5L, 5L, 1L))
    val got = Components.minSpanningForest(
        e.toDF("src", "dst", "offset"), outerRounds = 4, innerRounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == bruteMsf(e), s"$got vs ${bruteMsf(e)}")
    assert(got.size == 5) // 6 nodes (self-loop node excluded), 1 comp
  }

  test("minSpanningForest: weight-tied edges resolve by (a, b) deterministically") {
    import spark.implicits._
    // a 4-cycle with ALL weights equal: the forest must be the
    // 3 lexicographically-smallest edges, both engines and Kruskal
    val e = Seq((1L, 2L, 4L), (2L, 3L, 4L), (3L, 4L, 4L), (4L, 1L, 4L))
    val got = Components.minSpanningForest(
        e.toDF("src", "dst", "offset"), outerRounds = 4, innerRounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == bruteMsf(e))
    assert(got == Set((1L, 2L, 4L), (1L, 4L, 4L), (2L, 3L, 4L)))
  }

  test("minSpanningForest: a long chain merges within the pointer-jump budget") {
    import spark.implicits._
    // path graph 0-1-2-...-30 with increasing weights: MSF = all edges
    val e = (0L until 30L).map(i => (i, i + 1, 100L + i))
    val got = Components.minSpanningForest(
        e.toDF("src", "dst", "offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == bruteMsf(e))
    assert(got.size == 30)
  }
}

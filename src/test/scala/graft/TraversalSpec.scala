package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Components, Traversal}
import graft.importer.Addresses
import org.apache.spark.sql.functions.col

/** Unit semantics for the traversal/component primitives on a tiny
  * hand-checked graph: 1→2→3→1 cycle, 2→4, 5→5 self-loop, 6→7.
  */
class TraversalSpec extends AnyFunSuite with BroadcastOff {
  lazy val spark: SparkSession = GraftSession.local(4)

  def edges = {
    import spark.implicits._
    Seq((1L, 2L, 10L), (2L, 3L, 20L), (3L, 1L, 30L), (2L, 4L, 21L),
      (5L, 5L, 50L), (6L, 7L, 60L))
      .toDF("src", "dst", "offset")
  }
  def starts(ids: Long*) = {
    import spark.implicits._
    ids.toDF("node")
  }

  test("bfs min-depth reachability, forward and reverse") {
    val down = Traversal.bfs(edges, starts(1L), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(down == Map(2L -> 1, 3L -> 2, 4L -> 2)) // 1 itself excluded (depth 0)
    val up = Traversal.bfs(edges, starts(4L), maxDepth = 3, reverse = true)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(up == Map(2L -> 1, 1L -> 2, 3L -> 3))
  }

  test("walks enumerate paths with offsets") {
    val w = Traversal.walks(edges, starts(1L), maxDepth = 2)
      .collect().map(r => (r.getAs[String]("path"), r.getAs[String]("offsets")))
      .toSet
    assert(w == Set(("1->2", "10"), ("1->2->3", "10,20"), ("1->2->4", "10,21")))
  }

  // the recursion cases run with broadcast off: graphs this small would
  // run the DP on the driver (LocalGraphSpec pins that path to this one)
  test("recursion: direct self-loop + indirect cycle") {
    val r = withoutBroadcast(Traversal.recursion(edges, starts(1L), maxDepth = 4)
      .collect())
      .map(x => (x.getAs[Long]("node"), x.getAs[String]("call_type"),
        x.getAs[Int]("depth"), x.getAs[Long]("n_cycles"))).toSet
    assert(r.contains((5L, "Direct", 1, 1L)))
    assert(r.contains((1L, "Indirect", 3, 1L))) // 1→2→3→1
  }

  def twoCycle = {
    import spark.implicits._
    // a↔b 2-cycle plus a→c so non-returning trails exist too.
    Seq((10L, 11L, 1L), (11L, 10L, 2L), (10L, 12L, 3L))
      .toDF("src", "dst", "offset")
  }

  test("walks are trails: no edge reuse on a 2-cycle") {
    val w = Traversal.walks(twoCycle, starts(10L), maxDepth = 4)
      .collect().map(_.getAs[String]("path")).toSet
    // 10→11→10→11 would reuse edge 10→11; 10→11→10→12 is a valid trail.
    assert(w == Set("10->11", "10->12", "10->11->10", "10->11->10->12"))
  }

  test("recursion counts trail cycles only (depth-4 correction)") {
    val r = withoutBroadcast(Traversal.recursion(twoCycle, starts(10L), maxDepth = 4)
      .collect())
      .map(x => (x.getAs[String]("call_type"), x.getAs[Int]("depth"),
        x.getAs[Long]("n_cycles"))).toSet
    // One 2-cycle; the walk 10→11→10→11→10 (depth 4) reuses edges → no
    // depth-4 row, and no spurious depth-3 rows exist on this graph.
    assert(r == Set(("Indirect", 2, 1L)))
  }

  test("recursion DP + correction equals trail enumeration at depth 4") {
    import spark.implicits._
    // Denser fixture: two interlocking 2-cycles, a 3-cycle and a
    // 4-cycle sharing nodes, plus a self-loop (excluded from indirect).
    val g = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (1L, 4L), (4L, 5L), (5L, 1L), (5L, 4L), (4L, 4L))
      .map { case (s, d) => (s, d, 0L) }.toDF("src", "dst", "offset")
    val st = starts(1L, 2L, 4L)
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getAs[Long]("node"), x.getAs[String]("call_type"),
        x.getAs[Int]("depth"), x.getAs[Long]("n_cycles"))).toSet
    assert(withoutBroadcast(normalize(Traversal.recursion(g, st, maxDepth = 4))) ==
      normalize(Traversal.recursionTrails(g, st, maxDepth = 4)))
  }

  test("connected components: {1,2,3,4}, {5}, {6,7}") {
    val cc = Components.labelPropagation(edges.select("src", "dst"), maxIter = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 6L, 7L -> 6L))
  }

  test("components converge on a 10-hop path without an iteration budget") {
    import spark.implicits._
    // path 0-1-2-…-10: min-label needs ~diameter rounds; the
    // convergence loop must keep going past any small fixed count.
    val path = (0L until 10L).map(i => (i, i + 1, 0L)).toDF("src", "dst", "offset")
    val cc = Components.labelPropagation(path.select("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 11 && cc.values.forall(_ == 0L))
  }

  test("Components.auto falls back to alternating-star past the round budget, same labels") {
    import spark.implicits._
    // 30-hop path: diameter far exceeds a budget of 4 label-prop
    // rounds, so auto must hand off to the O(log n) star algorithm —
    // and still produce the identical (node, min-id component) labels.
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = Components.auto(path, lpRoundBudget = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 31 && cc.values.forall(_ == 0L))
    // low-diameter graph converges inside the budget on the fast path
    val star = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    val cs = Components.auto(star, lpRoundBudget = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cs.size == 7 && cs.values.forall(_ == 0L))
  }

  test("alternatingStar == labelPropagation on varied graphs") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fixture graph, a 50-hop path, a pseudo-random sparse graph (with
    // cycles + multiple components), and self-loops/isolates
    val cases = Seq(
      edges.select("src", "dst"),
      (0L until 50L).map(i => (i, i + 1)).toDF("src", "dst"),
      (0L until 400L).map(i => (i % 97, (i * 53 + 11) % 89)).toDF("src", "dst"),
      Seq((5L, 5L), (7L, 8L), (8L, 7L)).toDF("src", "dst"))
    cases.zipWithIndex.foreach { case (g, i) =>
      assert(labels(Components.alternatingStar(g)) ==
        labels(Components.labelPropagation(g, maxIter = 60)), s"case $i")
    }
  }

  test("alternatingStar: a used-up round budget raises an error") {
    import spark.implicits._
    // one round cannot contract a 10-hop path to its star forest
    val path = (0L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException](Components.alternatingStar(path, maxRounds = 1))
    assert(e.getMessage.contains("alternatingStar") && e.getMessage.contains("maxRounds = 1"))
  }

  test("address parse/normalize matches reference semantics") {
    import spark.implicits._
    val df = Seq("0x1000", "0X00001000", "4096", "abcd", "ABCD", "xyz", "")
      .toDF("a")
      .select(col("a"), Addresses.parseAddress(col("a")).as("p"),
        Addresses.normalizeAddress(col("a")).as("n"))
    val rows: Map[String, (Option[Any], Option[Any])] = df.collect().map { r =>
      r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))
    }.toMap
    assert(rows("0x1000") == (Some(4096L), Some("0x1000")))
    assert(rows("0X00001000") == (Some(4096L), Some("0x1000")))
    assert(rows("4096") == (Some(4096L), Some("0x1000")))
    assert(rows("abcd") == (Some(0xabcdL), Some("0xabcd")))
    assert(rows("ABCD") == (Some(0xabcdL), Some("0xabcd")))
    assert(rows("xyz") == (None, None))
    assert(rows("") == (None, None))
  }

  test("addresses >= 2^63 round-trip as u64 bit patterns") {
    import spark.implicits._
    val df = Seq("0xffffffff81000000", "0xffffffffffffffff",
      "18446744073709551615", "0x8000000000000000")
      .toDF("a")
      .select(col("a"), Addresses.parseAddress(col("a")).as("p"),
        Addresses.normalizeAddress(col("a")).as("n"))
    val rows = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows("0xffffffff81000000") == (0xffffffff81000000L, "0xffffffff81000000"))
    assert(rows("0xffffffffffffffff") == (-1L, "0xffffffffffffffff"))
    assert(rows("18446744073709551615") == (-1L, "0xffffffffffffffff"))
    assert(rows("0x8000000000000000") == (Long.MinValue, "0x8000000000000000"))
  }

  test("shortestPaths relaxes to the cheaper multi-hop route") {
    import spark.implicits._
    // 1→2 direct costs 100; 1→3→2 costs 1+1=2. One round finds 100,
    // two rounds must improve to 2; 4 is reached through either.
    val g = Seq((1L, 2L, 100L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 5L))
      .toDF("src", "dst", "offset")
    val d1 = Traversal.shortestPaths(g, starts(1L), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(1L -> 0L, 2L -> 100L, 3L -> 1L))
    val d4 = Traversal.shortestPaths(g, starts(1L), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d4 == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 7L))
  }

  test("reachWithin keys reach per start and excludes self-re-reach") {
    val r = Traversal.reachWithin(edges, starts(1L, 6L), maxDepth = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // from 1 (cycle 1→2→3→1, 2→4): 2 at depth 1, {3,4} at depth 2 —
    // never (1,1); from 6: just 7. Per-start attribution must not
    // cross-pollinate.
    assert(r == Set((1L, 2L), (1L, 3L), (1L, 4L), (6L, 7L)))
    val r3 = Traversal.reachWithin(edges, starts(1L), maxDepth = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r3 == Set((1L, 2L), (1L, 3L), (1L, 4L))) // still no (1,1)
  }

  test("anfApprox tracks the exact neighborhood function (HLL registers)") {
    import spark.implicits._
    // ring of 40 nodes (every 2-ball has exactly 4 non-self members)
    // plus a hub fanning to the first 20: enough spread to exercise
    // the registers, small enough that linear counting is exact-ish.
    val ring = (0L until 40L).map(i => (i, (i + 1) % 40, 1L))
    val hub = (0L until 20L).map(i => (99L, i, 1L))
    val g = (ring ++ hub).toDF("src", "dst", "offset")
    val exact = Traversal.reachWithin(g, g.select(col("src").as("node")).distinct(), 2)
      .groupBy("start").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = Traversal.anfApprox(g, depth = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(est.keySet == exact.keySet ++ Set(39L % 40L),
      "every node with an out-edge gets an estimate")
    // HLL ball includes self: compare est vs exact+1. m=64 linear
    // counting at these sizes lands within ±35% per node — and the
    // whole thing is deterministic (fixed xxhash seed), so these
    // bounds cannot flake.
    exact.foreach { case (n, ex) =>
      val e = est(n)
      assert(e > (ex + 1) * 0.65 && e < (ex + 1) * 1.35,
        s"node $n: est $e vs exact ${ex + 1}")
    }
    val totalEx = exact.values.toSeq.map(_ + 1L).sum.toDouble
    val totalEst = exact.keys.toSeq.map(est).sum
    assert(math.abs(totalEst - totalEx) / totalEx < 0.15,
      s"aggregate drift: $totalEst vs $totalEx")
    // register geometry must follow m (regression gate for the
    // hardcoded-64 shift): a 16-register run stays in family too
    val est16 = Traversal.anfApprox(g, depth = 2, m = 16)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val total16 = exact.keys.toSeq.map(est16).sum
    assert(math.abs(total16 - totalEx) / totalEx < 0.35,
      s"m=16 aggregate drift: $total16 vs $totalEx")
  }

  test("communities: two cliques with a bridge keep separate labels") {
    import spark.implicits._
    // K3 {1,2,3} and K3 {10,11,12} joined by the single bridge 3→10.
    // Plurality LPA must converge each clique to its min label and the
    // one bridge vote must NOT flip either side (each clique node has
    // 2 same-clique neighbors vs at most 1 cross neighbor).
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val c = Components.communities(g, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(c).size == 1, s"left clique split: $c")
    assert(Set(10L, 11L, 12L).map(c).size == 1, s"right clique split: $c")
    assert(c(1L) != c(10L), s"bridge merged the cliques: $c")
  }

  test("communities tiebreak is (count desc, label asc) — deterministic") {
    import spark.implicits._
    // node 5's neighbors {1, 9} tie 1-vote-each after round 1 seeds:
    // the pick must be the smaller label, every run.
    val g = Seq((1L, 5L), (9L, 5L)).toDF("src", "dst")
    val c1 = Components.communities(g, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c1(5L) == 1L, s"tie not broken to min label: $c1")
  }

  test("labelSpread: two seeds meet in the middle, tie breaks to min label, frontier bounded") {
    import spark.implicits._
    // path 1-2-3-4-5, seeds 1↦10 and 5↦20
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("node", "lab")
    // rounds=1: only the adjacent nodes are reached — 3 stays absent
    val r1 = Components.labelSpread(g, seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 10L, 2L -> 10L, 4L -> 20L, 5L -> 20L),
      s"one-hop frontier wrong: $r1")
    // rounds=2: node 3 sees one 10-vote and one 20-vote — min wins
    val r2 = Components.labelSpread(g, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L),
      s"two-hop spread wrong: $r2")
    // clamping: a seed surrounded by the other label keeps its own
    val g2 = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val s2 = Seq((1L, 9L), (2L, 4L), (3L, 4L)).toDF("node", "lab")
    val r3 = Components.labelSpread(g2, s2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(1L) == 9L, s"seed must stay clamped: $r3")
  }

  test("modularity: two-clique bridge graph scores the hand value") {
    import spark.implicits._
    // two triangles joined by one bridge: communities settles on the
    // cliques, so m=7, m_c=3 each, d_c=7 each:
    // Q = 2*((3e6 div 7) - (49e6 div 196)) = 2*(428571-250000) = 357142
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val r = Components.modularity(g, rounds = 4).collect().head
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Long]("m_edges") == 7L)
    assert(r.getAs[Long]("q_ppm") == 357142L, s"got $r")
  }

  test("randomWalksBiased: weights steer the draw, steps still follow edges") {
    import spark.implicits._
    // 400 independent gadgets: i → c_i, then from c_i either RETURN
    // to i or go OUT to o_i (o_i ∉ N(i), so the out move weighs wOut).
    // P(return) = wReturn/(wReturn+wOut); the hash draw is
    // deterministic per key, so each weighting gives a fixed count —
    // assert the two extremes land on opposite sides.
    val n = 400L
    val g = (1L to n).flatMap(i =>
      Seq((i, 1000 + i, 1L), (1000 + i, i, 2L), (1000 + i, 2000 + i, 3L)))
      .toDF("src", "dst", "offset")
    val st = (1L to n).toDF("node")
    def returns(wRet: Int, wOut: Int): Long = {
      val w = Traversal.randomWalksBiased(g, st, maxLen = 2,
        wReturn = wRet, wIn = 2, wOut = wOut)
        .filter(col("step") === 2).collect()
      w.count(r => r.getLong(2) == r.getLong(0)) // node == walk_id ⇒ returned
    }
    val favourReturn = returns(8, 1) // P ≈ 8/9 → ~356
    val favourOut = returns(1, 8)    // P ≈ 1/9 → ~44
    assert(favourReturn > n / 2, s"favourReturn=$favourReturn")
    assert(favourOut < n / 2, s"favourOut=$favourOut")
    assert(favourReturn > 2 * favourOut,
      s"weights did not steer: $favourReturn vs $favourOut")
    // edges respected under bias too
    val edgeSet = g.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val w = Traversal.randomWalksBiased(g, st.limit(20), maxLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    w.groupBy(_._1).foreach { case (_, rows) =>
      val path = rows.sortBy(_._2).map(_._3).toSeq
      path.zip(path.tail).foreach { case (a, b) =>
        assert(edgeSet.contains(a -> b), s"non-edge $a->$b")
      }
    }
  }

  test("randomWalks: every step follows an edge, sinks stop, reruns identical") {
    val edgeSet = edges.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val w = Traversal.randomWalks(edges, starts(1L, 6L, 7L), maxLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byWalk = w.groupBy(_._1).map { case (id, rows) =>
      id -> rows.sortBy(_._2).map(_._3).toSeq
    }
    // step 0 is the start itself; every later hop is a real edge
    byWalk.foreach { case (id, path) =>
      assert(path.head == id)
      path.zip(path.tail).foreach { case (a, b) =>
        assert(edgeSet.contains(a -> b), s"walk $id took non-edge $a->$b")
      }
    }
    // 7 is a sink: its walk is just the start row; 6 stops after 6->7
    assert(byWalk(7L) == Seq(7L))
    assert(byWalk(6L) == Seq(6L, 7L))
    // walker 1 lives in the 1->2->3->1 cycle (2->4 may divert it, but
    // steps are contiguous 0..k)
    assert(byWalk(1L).size >= 2)
    val w2 = Traversal.randomWalks(edges, starts(1L, 6L, 7L), maxLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w.sorted.toSeq == w2.sorted.toSeq, "walks not deterministic")
  }

  test("doubleSweepDiameter: exact diameter on a path graph") {
    import spark.implicits._
    // path 1-2-3-4-5: seed 1, first sweep finds 5 at depth 4,
    // second sweep from 5 finds 1 at depth 4 — the exact diameter
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "offset")
    val r = Traversal.doubleSweepDiameter(path).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, 4L, 5L, 1L, 4L)), s"${r.toSeq}")
    // star 10-{1,2,3,4}: seed 1, farthest = min-id leaf 2 at depth 2
    // (depth desc, node asc tie-break), re-sweep certifies diameter 2
    val star = Seq((10L, 1L, 1L), (10L, 2L, 1L), (10L, 3L, 1L), (10L, 4L, 1L))
      .toDF("src", "dst", "offset")
    val r2 = Traversal.doubleSweepDiameter(star).collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3),
      r2.getLong(4)) == ((1L, 2L, 2L, 1L, 2L)), s"${r2.toSeq}")
  }

  test("doubleSweepDiameter: empty edge frame yields the null/zero row, no NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "offset")
    val r = Traversal.doubleSweepDiameter(empty).collect()
    assert(r.length == 1)
    val row = r.head
    // the shape the oracle's COALESCE chain yields on an empty graph
    assert(row.isNullAt(0) && row.getLong(1) == 0L && row.isNullAt(2) &&
      row.isNullAt(3) && row.getLong(4) == 0L, s"${row.toSeq}")
  }
}

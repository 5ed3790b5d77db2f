package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Components

/** Pins the bounded-budget parity contract of minSpanningForest's
  * merge phase: the driver kernel (`LocalGraph.minLabels`) must run
  * the distributed loop's innerRounds-bounded pointer-jump rounds
  * step for step (NOT an exact union-find), so that a pick chain
  * longer than 2^innerRounds collapses PARTIALLY — identically on the
  * driver, distributed (`Components.minLabels`), and in the oracle's
  * fixed unroll. */
class MsfMergeParitySpec extends AnyFunSuite with BroadcastOff {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Does the plan read a checkpoint, as the distributed loop's does? */
  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined

  /** The merge's labels on the driver (the pick graph fits under the
    * session's broadcast threshold) and distributed (threshold -1). */
  private def labelsOf(edges: Seq[(Long, Long)], innerRounds: Int)
      : (Map[Long, Long], Map[Long, Long]) = {
    import spark.implicits._
    val h = edges.toDF("x", "y")
    def labels(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = Components.mergePicks(h, innerRounds)
    val dist = withoutBroadcast(Components.mergePicks(h, innerRounds))
    assert(!checkpointed(driver), "the driver kernel did not run")
    assert(checkpointed(dist), "threshold -1 did not force the distributed loop")
    (labels(driver), labels(dist))
  }

  test("driver merge ≡ distributed merge on a chain longer than 2^innerRounds") {
    // 600-node chain with innerRounds=8 (2^8=256 < 600): the bounded
    // collapse is PARTIAL — an exact union-find would collapse fully
    // and diverge from the distributed/oracle replay.
    val chain = (0L until 599L).map(i => (i, i + 1))
    val (drv, dist) = labelsOf(chain, innerRounds = 8)
    assert(drv == dist, {
      val diff = (drv.keySet ++ dist.keySet)
        .filter(k => drv.get(k) != dist.get(k)).take(5)
      s"first diffs: ${diff.map(k => (k, drv.get(k), dist.get(k)))}"
    })
    // prove the test is meaningful: the budget must NOT have fully
    // collapsed the chain (an exact union-find would give all zeros)
    assert(drv.values.toSet.size > 1,
      "600-chain fully collapsed in 8 rounds — the bound is not binding")
  }

  test("driver merge ≡ distributed merge on a fully-collapsing pick forest") {
    // short chains + a star, well within budget: both paths reach the
    // true min-label fixpoint
    val edges = (0L until 20L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (200L, 201L))
    val (drv, dist) = labelsOf(edges, innerRounds = 8)
    assert(drv == dist)
    assert((100L to 103L).forall(drv(_) == 100L))
    assert(drv(201L) == 200L)
    assert((0L to 20L).forall(drv(_) == 0L))
  }

  test("minSpanningForest end-to-end on a >2^innerRounds path stays a forest") {
    import spark.implicits._
    // 600-node path, monotone weights: every edge is picked in round 0
    // and the pick chain (600 long) exceeds the 2^8 inner budget — the
    // forest must still be exactly the 599 path edges (no cycles
    // possible on a path; later rounds' re-picks dedup into the forest)
    val e = (0L until 599L).map(i => (i, i + 1, 1000L + i))
    val got = Components.minSpanningForest(e.toDF("src", "dst", "offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == e.toSet, s"got ${got.size} edges")
  }
}

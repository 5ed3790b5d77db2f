package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KeyedFrameMemo
import graft.graph.{Components, Ranking}
import graft.pipeline.Similarity
import graft.queries.TemporalOps

/** The fixed-round operators keep one round: right after a call, the
  * only RDDs it left persisted are the checkpoint of the round it
  * returned and the identity memos of its input (the node set, the
  * distinct edge set). Superseded rounds and private inputs are gone
  * before any GC runs. Releasing the input's memos then leaves only
  * the round, and that goes once the result is garbage. An operator
  * whose rounds ran on the driver leaves nothing persisted.
  */
class RoundLifecycleSpec extends AnyFunSuite with PersistedRdds with BroadcastOff {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** A fresh 60-node graph: a ring, chords, a duplicate edge and a
    * self-loop, with call-site weights. */
  private def graph(): DataFrame = {
    val s = spark
    import s.implicits._
    ((0L until 60L).flatMap(i => Seq((i, (i + 1) % 60, 1L + i % 3), (i, (i * 7 + 3) % 60, 2L))) ++
      Seq((5L, 6L, 1L), (9L, 9L, 1L))).toDF("src", "dst", "weight")
  }

  /** `op` on a fresh input keeps exactly its result's round and
    * `memos` memo frames of the input. */
  private def keepsOneRound(input: DataFrame, memos: Int)(op: DataFrame => DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var result = op(input)
    assert(result.collect().nonEmpty)
    val round = result.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val left = persistedSince(before)
    assert(round.size == 1 && round.subsetOf(left.keySet),
      s"the result reads one persisted round: $round of $left")
    assert((left -- round).size == memos, s"persisted besides the round: ${left -- round}")
    KeyedFrameMemo.release(input)
    assert(persistedSince(before).keySet == round, "the rest were memos of the input")
    result = null
    assertReleased(before)
  }

  private def seeds(col: String): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(0L, 30L).toDF(col)
  }

  test("pageRank") { keepsOneRound(graph(), 1)(Ranking.pageRank(_, 4)) }
  /** With no round the result is the start state: the one frame that
    * state reads stays persisted, besides `memos` memo frames of the
    * input, and the loop's other private input (the out-degree edge
    * frame) goes at once. */
  private def keepsStartState(memos: Int)(op: DataFrame => DataFrame): Unit = {
    val input = graph()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var result = op(input)
    assert(result.collect().nonEmpty)
    val read = result.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val left = persistedSince(before)
    assert(read.size == 1 && read.subsetOf(left.keySet),
      s"the result reads one persisted frame: $read of $left")
    assert(left.size == 1 + memos, s"persisted: $left")
    KeyedFrameMemo.release(input)
    result = null
    assertReleased(before)
  }

  test("pageRank, no round") { keepsStartState(0)(Ranking.pageRank(_, 0)) }
  test("personalizedPageRank, no round") {
    keepsStartState(1)(Ranking.personalizedPageRank(_, seeds("node"), 0))
  }
  test("pageRankWeighted") { keepsOneRound(graph(), 1)(Ranking.pageRankWeighted(_, 4)) }
  test("personalizedPageRank") {
    keepsOneRound(graph(), 1)(Ranking.personalizedPageRank(_, seeds("node"), 4))
  }
  test("personalizedPageRankBatch") {
    keepsOneRound(graph(), 0)(Ranking.personalizedPageRankBatch(_, seeds("seed"), 4))
  }
  test("katz") { keepsOneRound(graph(), 1)(Ranking.katz(_, 4)) }
  test("hits") { keepsOneRound(graph(), 2)(Ranking.hits(_, 4)) }
  test("eigenCentrality") { keepsOneRound(graph(), 2)(Ranking.eigenCentrality(_, 4)) }
  test("salsa") { keepsOneRound(graph(), 2)(Ranking.salsa(_, 4)) }
  test("communities") { keepsOneRound(graph(), 0)(Components.communities(_, 4)) }
  test("labelSpread") {
    val labelled = seeds("node").withColumn("lab", col("node") + 100)
    keepsOneRound(graph(), 0)(Components.labelSpread(_, labelled, 4))
  }
  test("kmeansCentroidsFromNorm") {
    // the norm frame is the caller's: built before the call
    val emb = graph().select(col("src").as("vec_id"),
      array(col("dst").cast("double"), col("weight").cast("double")).as("embedding"))
    val v = Similarity.withNorm(emb).select("vec_id", "qv", "nrm").localCheckpoint(true)
    keepsOneRound(v, 0)(Similarity.kmeansCentroidsFromNorm(_, 4, 4))
  }
  private def events(): DataFrame =
    graph().select(col("src").as("user_id"), col("dst").as("event_id"),
      timestamp_seconds(col("dst")).as("ts"), (col("dst") % 4).cast("string").as("event_type"))

  // a matrix under the broadcast threshold runs its rounds on the
  // driver and leaves nothing persisted
  test("markovStationary") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(TemporalOps.markovStationary(events(), 4).collect().nonEmpty)
    assert(persistedSince(before).isEmpty, s"persisted: ${persistedSince(before)}")
  }
  test("markovStationary, over the cap") {
    withoutBroadcast(keepsOneRound(events(), 0)(TemporalOps.markovStationary(_, 4)))
  }

  // Borůvka's rounds are convergent, outside `iterate`, but keep the
  // same rule: each superseded round goes once its successor is stored
  test("minSpanningForest") {
    keepsOneRound(graph(), 0)(Components.minSpanningForest(_, "weight"))
  }
  test("minSpanningForest, over the cap") {
    withoutBroadcast(keepsOneRound(graph(), 0)(Components.minSpanningForest(_, "weight")))
  }
  test("minLabels keeps only its labels (the MSF merge over the cap)") {
    val s = spark
    import s.implicits._
    val h = (0L until 40L).map(i => (i, i + 1)).toDF("x", "y")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val labels = withoutBroadcast(Components.mergePicks(h, 8))
    assert(labels.collect().length == 41)
    assert(persistedSince(before).size == 1, s"persisted: ${persistedSince(before)}")
  }

  // the convergent min-label loop (Components.minLabels) keeps the
  // same rule for each of its callers
  test("labelPropagation") {
    keepsOneRound(graph(), 0)(Components.labelPropagation(_))
  }
  test("stronglyConnected keeps only its result's checkpoints") {
    // the result is a union of per-extraction checkpoints; besides
    // them, only the two prepared-edge memos of the input stay
    val input = graph()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var result = Components.stronglyConnected(input)
    assert(result.collect().length == 60)
    val read = result.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val left = persistedSince(before)
    assert(read.nonEmpty && read.subsetOf(left.keySet), s"the result reads $read of $left")
    assert((left -- read).size == 2, s"persisted besides the result: ${left -- read}")
    KeyedFrameMemo.release(input)
    assert(persistedSince(before).keySet == read, "the rest were memos of the input")
    result = null
    assertReleased(before)
  }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{KeyedFrameMemo, MemoStats}
import graft.graph.{Components, Neighborhood, Ranking, Traversal}
import graft.queries.GraphQueries

/** Every cross-call frame cache is a [[KeyedFrameMemo]]: one release
  * point drops what the graph operators memoized for an edge frame,
  * and the traversal projections and the (session, dir) labelings sit
  * on the one byte ledger, where a small budget sweeps them.
  */
class MemoRegistrySpec extends AnyFunSuite with BeforeAndAfterAll with PersistedRdds {
  lazy val spark: SparkSession = GraftSession.local(4)

  private val dir = Files.createTempDirectory("memo-registry")

  /** A `lineitem` table of 60,000 rows whose derived call graph
    * ([[GraphQueries.callEdges]], node ids mod 5000) has ~60,000
    * edges: enough for its checkpoints to pass the 1 MiB sweep floor. */
  private lazy val tables: String = {
    spark.range(60000).select(
        (col("id") * 7919 % 100003).as("l_orderkey"),
        (col("id") * 104729 % 99991).as("l_partkey"),
        (col("id") % 7 + 1).cast("int").as("l_linenumber"))
      .write.parquet(dir.resolve("lineitem.parquet").toString)
    dir.toString
  }

  override def afterAll(): Unit = {
    val paths = Files.walk(dir)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  private def builds: Long = MemoStats.snapshot._1

  private def withBudgetMb[T](mb: String)(body: => T): T = {
    val prev = sys.props.get("graft.memo.budget.mb")
    sys.props("graft.memo.budget.mb") = mb
    try body
    finally prev match {
      case Some(v) => sys.props("graft.memo.budget.mb") = v
      case None => sys.props.remove("graft.memo.budget.mb"); ()
    }
  }

  test("release(e) drops every graph memo entry of e, and the next call rebuilds") {
    val s = spark
    import s.implicits._
    // two cycles joined by a chord, plus a tail: SCCs and triangles
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
        (1L, 3L), (5L, 6L)).toDF("src", "dst").withColumn("offset", lit(0L))
    val starts = Seq(1L).toDF("node")
    /** The memo builds of one round of graph calls on `e`. */
    def round(): Long = {
      val b0 = builds
      assert(Traversal.bfs(e, starts, 4).count() == 5L)
      assert(Traversal.bfs(e, starts, 3, reverse = true).count() == 4L)
      assert(Ranking.triangleCount(e).head().getLong(0) == 2L)
      assert(Components.stronglyConnected(e).select("scc_id").distinct().count() == 2L)
      // keyed by (e, hubCap): a tuple key holding e is released too
      Neighborhood.adamicAdar(e, minShared = 1).collect()
      builds - b0
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val first = round()
    assert(first >= 4L, "bfs both ways, the adjacency and the SCC projections")
    assert(round() < first, "a warm round rides the memos")
    assert(persistedSince(before).nonEmpty)
    KeyedFrameMemo.release(e)
    assertReleased(before)
    assert(round() == first, "after release every entry is built again")
    KeyedFrameMemo.release(e)
    assertReleased(before)
  }

  test("traversal projections and (session, dir) labelings are on the byte ledger") {
    val d = tables
    val e = GraphQueries.callEdges(spark, d)
    val starts = e.select(col("src").as("node")).limit(1)
    val floor = 1L << 20
    def traversal(): Long = {
      val r0 = KeyedFrameMemo.residentBytes
      Traversal.bfs(e, starts, 1).collect()
      KeyedFrameMemo.residentBytes - r0
    }
    def supports(): Long = {
      val r0 = KeyedFrameMemo.residentBytes
      GraphQueries.graphWeakTies(spark, d).collect()
      KeyedFrameMemo.residentBytes - r0
    }
    val t = traversal()
    assert(t >= floor, s"the prepared edge projection added $t bytes")
    val sup = supports()
    assert(sup >= floor, s"the (session, dir) support index added $sup bytes")
    assert(traversal() == 0L && supports() == 0L, "warm calls build nothing")
    // a small budget: the next build sweeps every entry past the floor
    withBudgetMb("1") {
      new KeyedFrameMemo[String].getOrBuild("trigger")(spark.range(1).toDF("x").localCheckpoint(true))
    }
    assert(traversal() >= floor, "the swept projection is built again")
    assert(supports() >= floor, "the swept support index is built again")
  }
}

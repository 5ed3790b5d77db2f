package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MemoStats
import graft.graph.Ranking

/** The triangle family over one shared oriented adjacency
  * (`Ranking.orientedAdjOf`) must answer exactly as the per-query
  * forms it replaced, which each rebuilt the undirected edge set, the
  * degree table, the degree joins and the orientation themselves. The
  * replaced forms are kept below as reference copies; every operator
  * is compared on column names, types and rows in order, on hand-made
  * graphs (K4, triangle + pendant, square, degree ties, self-loops,
  * duplicate rows, both directions of a pair), on seeded random
  * graphs and on the empty edge frame.
  */
class TriangleFamilySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** The per-query forms before the shared adjacency. */
  private object Reference {
    def undirected(edges: DataFrame): DataFrame =
      edges
        .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
        .filter(col("s") =!= col("t"))
        .select(least(col("s"), col("t")).as("a"), greatest(col("s"), col("t")).as("b"))
        .distinct()

    def degreesOf(und: DataFrame): DataFrame =
      und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))

    def triangleCount(edges: DataFrame): DataFrame = {
      val und = undirected(edges)
      val deg = degreesOf(und)
      val o = und
        .join(deg.select(col("n").as("na"), col("d").as("da")), col("a") === col("na"))
        .join(deg.select(col("n").as("nb"), col("d").as("db")), col("b") === col("nb"))
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("x"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("y"))
        .localCheckpoint(true)
      val adj = o.groupBy(col("x").as("n"))
        .agg(sort_array(collect_list(col("y"))).as("nbrs"))
      o.join(adj.select(col("n").as("jx"), col("nbrs").as("nx")), col("x") === col("jx"))
        .join(adj.select(col("n").as("jy"), col("nbrs").as("ny")), col("y") === col("jy"))
        .agg(coalesce(sum(size(array_intersect(col("nx"), col("ny")))), lit(0L))
          .cast("long").as("n_triangles"))
    }

    def clusteringCoefficient(edges: DataFrame): DataFrame = {
      val wedges = degreesOf(undirected(edges))
        .agg(coalesce(sum(col("d") * (col("d") - 1)), lit(0L)).as("w2"))
        .select(expr("w2 div 2").as("n_wedges"))
      triangleCount(edges).crossJoin(wedges)
        .select(col("n_triangles"), col("n_wedges"),
          when(col("n_wedges") === 0, lit(0L))
            .otherwise(expr("(3000000 * n_triangles) div n_wedges"))
            .as("clustering_ppm"))
    }

    def assortativity(edges: DataFrame): DataFrame = {
      val und = undirected(edges)
      val deg = degreesOf(und).localCheckpoint(true)
      val ends = und
        .join(deg.select(col("n").as("na"), col("d").as("da")), col("a") === col("na"))
        .join(deg.select(col("n").as("nb"), col("d").as("db")), col("b") === col("nb"))
        .select(col("da").as("x"), col("db").as("y"))
      val both = ends.unionByName(ends.select(col("y").as("x"), col("x").as("y")))
      both.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(col("n").as("n_ends"),
          (col("n") * col("sxy") - col("sx") * col("sx")).as("num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
        .select(col("n_ends"), col("num"), col("den"),
          when(col("den") === 0, lit(0.0)).otherwise(
            graft.functions.Rounding.rnd(
              col("num").cast("double") / col("den").cast("double"), 6))
            .as("assortativity"))
    }

    def neighborDegreeCurve(edges: DataFrame): DataFrame = {
      val und = undirected(edges)
      val deg = degreesOf(und).localCheckpoint(true)
      val ends = und
        .join(deg.select(col("n").as("na"), col("d").as("da")), col("a") === col("na"))
        .join(deg.select(col("n").as("nb"), col("d").as("db")), col("b") === col("nb"))
        .select(col("da").as("x"), col("db").as("y"))
      val both = ends.unionByName(ends.select(col("y").as("x"), col("x").as("y")))
      both.groupBy(col("x").as("degree"))
        .agg(count(lit(1)).as("n_ends"), sum(col("y")).as("sum_nbr"))
        .select(col("degree"), col("n_ends"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_nbr) div n_ends
                 AS BIGINT)""").as("knn_ppm"))
        .orderBy("degree")
    }

    def localClustering(edges: DataFrame): DataFrame = {
      val und = undirected(edges)
      val deg = degreesOf(und).localCheckpoint(true)
      val o = und
        .join(deg.select(col("n").as("na"), col("d").as("da")), col("a") === col("na"))
        .join(deg.select(col("n").as("nb"), col("d").as("db")), col("b") === col("nb"))
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("x"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("y"))
        .localCheckpoint(true)
      val adj = o.groupBy(col("x").as("n"))
        .agg(sort_array(collect_list(col("y"))).as("nbrs"))
        .localCheckpoint(true)
      val tris = o
        .join(adj.select(col("n").as("jx"), col("nbrs").as("nx")), col("x") === col("jx"))
        .join(adj.select(col("n").as("jy"), col("nbrs").as("ny")), col("y") === col("jy"))
        .select(col("x"), col("y"),
          explode(array_intersect(col("nx"), col("ny"))).as("w"))
      val perNode = tris.select(col("x").as("n"))
        .unionByName(tris.select(col("y").as("n")))
        .unionByName(tris.select(col("w").as("n")))
        .groupBy("n").agg(count(lit(1)).as("tri"))
      deg.filter(col("d") >= 2)
        .join(perNode.select(col("n").as("pn"), col("tri")), col("n") === col("pn"), "left")
        .select(col("n").as("node"), col("d").as("degree"),
          coalesce(col("tri"), lit(0L)).cast("long").as("n_tri"),
          expr("""CAST((CAST(2000000 AS DECIMAL(38,0)) * coalesce(tri, 0)) div
                 (CAST(d AS DECIMAL(38,0)) * (d - 1)) AS BIGINT)""").as("lcc_ppm"))
        .orderBy("node")
    }

    def richClub(edges: DataFrame, ks: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)): DataFrame = {
      val s = edges.sparkSession
      import s.implicits._
      val u0 = edges
        .select(least(col("src"), col("dst")).cast("long").as("a"),
          greatest(col("src"), col("dst")).cast("long").as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      val dg = u0.select(col("a").as("n")).unionByName(u0.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      val nodeHist = dg.groupBy("d").agg(count(lit(1)).as("nn"))
      val edgeHist = u0
        .join(dg.select(col("n").as("a2"), col("d").as("da")), col("a") === col("a2"))
        .join(dg.select(col("n").as("b2"), col("d").as("db")), col("b") === col("b2"))
        .select(least(col("da"), col("db")).as("me"))
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
  }

  /** (operator, current form, reference form). */
  private val family: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("triangleCount", Ranking.triangleCount, Reference.triangleCount),
    ("clusteringCoefficient", Ranking.clusteringCoefficient, Reference.clusteringCoefficient),
    ("localClustering", Ranking.localClustering, Reference.localClustering),
    ("assortativity", Ranking.assortativity, Reference.assortativity),
    ("neighborDegreeCurve", Ranking.neighborDegreeCurve, Reference.neighborDegreeCurve),
    ("richClub", Ranking.richClub(_), Reference.richClub(_)))

  private def edges(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  /** `m` seeded edge rows over `n` nodes: a few hubs, so degrees are
    * skewed and tie, plus self-loops, duplicate rows and reversed
    * pairs. */
  private def randomGraph(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    def node(): Long = if (r.nextInt(4) == 0) r.nextInt(3).toLong else r.nextInt(n).toLong
    val base = Seq.fill(m)((node(), node()))
    base ++ base.take(m / 10) ++ base.slice(m / 10, m / 5).map(_.swap) ++
      Seq.fill(3)(r.nextInt(n).toLong).map(v => (v, v))
  }

  private val k4 = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
  private val cases: Seq[(String, Seq[(Long, Long)])] = Seq(
    "K4" -> k4,
    "triangle + pendant" -> Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 9L),
    "square" -> Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L),
    // every node of degree 2 or 3, ties everywhere, broken only by id
    "degree ties" -> Seq(10L -> 11L, 11L -> 12L, 12L -> 10L, 12L -> 13L,
      13L -> 14L, 14L -> 12L, 14L -> 10L),
    "self-loops, duplicates, both directions" -> (k4 ++ Seq(1L -> 1L, 4L -> 4L,
      2L -> 1L, 4L -> 3L, 1L -> 2L, 1L -> 2L, 5L -> 1L, 1L -> 5L, 5L -> 5L)),
    "only self-loops" -> Seq(7L -> 7L, 8L -> 8L)) ++
    Seq(1L -> (30, 90), 2L -> (60, 240), 3L -> (12, 60), 4L -> (200, 400)).map {
      case (seed, (n, m)) => s"random seed $seed ($n nodes, $m rows)" -> randomGraph(seed, n, m)
    }

  private def result(df: DataFrame): (Seq[(String, String)], Seq[Row]) =
    (df.schema.map(f => f.name -> f.dataType.simpleString), df.collect().toSeq)

  test("every family operator returns the reference form's columns and rows") {
    var compared = 0
    cases.foreach { case (label, rows) =>
      val e = edges(rows)
      family.foreach { case (op, now, ref) =>
        val want = result(ref(e))
        assert(result(now(e)) == want, s"$op on $label")
        compared += want._2.size
      }
    }
    assert(compared > 100, s"only $compared rows compared")
  }

  test("the empty edge frame: same columns and rows as the reference forms") {
    val e = edges(Seq.empty)
    family.foreach { case (op, now, ref) =>
      assert(result(now(e)) == result(ref(e)), op)
    }
    assert(Ranking.triangleCount(e).collect().head.getLong(0) == 0L)
  }

  test("the oriented adjacency: degrees, sorted out-arrays, each edge once") {
    val e = edges(cases.find(_._1.startsWith("self-loops")).get._2)
    val adj = Ranking.orientedAdjOf(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    // K4 on 1..4 plus 1—5: node 5 (degree 1) points at 1, the K4
    // nodes of degree 3 order by id, node 1 (degree 4) is last
    assert(adj == Map(5L -> (1L, Seq(1L)), 2L -> (3L, Seq(3L, 4L, 1L).sorted),
      3L -> (3L, Seq(4L, 1L).sorted), 4L -> (3L, Seq(1L)), 1L -> (4L, Seq.empty)))
  }

  /** Job-group ids of every job the listener has seen start. */
  private val started = new ConcurrentLinkedQueue[String]()
  private lazy val listening: Unit = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
  })

  /** Spark jobs `body` starts. A sentinel job run after it, once seen,
    * proves every earlier job start has reached the listener. */
  private def jobsOf(body: => Unit): Int = {
    listening
    val sc = spark.sparkContext
    def inGroup(group: String)(run: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
    }
    val group = s"op-${java.util.UUID.randomUUID}"
    val sentinel = s"sentinel-${java.util.UUID.randomUUID}"
    inGroup(group)(body)
    inGroup(sentinel)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (!started.contains(sentinel) && System.nanoTime < deadline) Thread.sleep(10)
    assert(started.contains(sentinel), "listener never saw the sentinel job")
    started.asScala.count(_ == group)
  }

  test("a second family call on the same edge frame rides the memo: a hit, no build jobs") {
    val rows = randomGraph(5L, 40, 160)
    // the count alone: over an edge frame whose adjacency is built already
    val warm = edges(rows)
    val build = jobsOf(Ranking.orientedAdjOf(warm))
    assert(build >= 1)
    val countOnly = jobsOf(Ranking.triangleCount(warm).collect())
    // a fresh edge frame: the first call builds, the second rides
    val e = edges(rows)
    val first = jobsOf(Ranking.triangleCount(e).collect())
    val hits = MemoStats.snapshot._2
    val second = jobsOf(Ranking.triangleCount(e).collect())
    assert(MemoStats.snapshot._2 > hits, "second call recorded no memo hit")
    assert(second <= countOnly, s"second call ran $second jobs, the count alone $countOnly")
    assert(first > second, s"first call ran $first jobs, the second $second")
    // the rest of the family rides the same frame
    val hits2 = MemoStats.snapshot._2
    Ranking.clusteringCoefficient(e).collect()
    Ranking.localClustering(e).collect()
    assert(MemoStats.snapshot._2 >= hits2 + 2)
    assert(Ranking.triangleCount(e).collect().head ==
      Reference.triangleCount(e).collect().head)
  }
}

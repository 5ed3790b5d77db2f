package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Neighborhood, Traversal}
import graft.queries.TemporalOps

/** The driver kernels of `LocalGraph` answer as the distributed rounds
  * do: for a graph under `spark.sql.autoBroadcastJoinThreshold`,
  * `Traversal.recursion` and `Neighborhood.recursionGroups` return a
  * local relation with the rows and the schema the same call returns
  * at threshold -1, and a warm call starts a handful of Spark jobs.
  */
class LocalGraphSpec extends AnyFunSuite with BroadcastOff {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** `op` at the session's threshold and at -1. */
  private def bothPaths(op: => DataFrame): (DataFrame, DataFrame) = {
    val driver = op
    (driver, withoutBroadcast(op))
  }

  /** The driver kernels return their rows as one local relation. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Does the plan read a checkpoint, as every distributed round loop does? */
  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The driver path ran and equals the distributed one, schema included. */
  private def sameAnswer(op: => DataFrame): Seq[String] = {
    val (driver, distributed) = bothPaths(op)
    assert(isLocal(driver), "the driver path did not run")
    assert(!isLocal(distributed), "threshold -1 did not force the distributed path")
    assert(driver.schema == distributed.schema)
    val got = rows(driver)
    assert(got == rows(distributed))
    got
  }

  private def edges(es: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    es.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "offset")
  }
  private def nodes(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF("node")
  }

  /** Self-loops (5 is no start), 2-cycles, a 3-cycle and a 4-cycle
    * through 1, a duplicated edge, and a node (9) outside every cycle. */
  private lazy val cyclic = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 1L -> 3L,
    3L -> 4L, 4L -> 1L, 4L -> 2L, 5L -> 5L, 1L -> 1L, 2L -> 3L, 3L -> 2L, 8L -> 9L)

  test("recursion: driver DP equals the distributed DP at depth 2, 3 and 4") {
    for (d <- 2 to 4) withClue(s"depth $d") {
      val got = sameAnswer(Traversal.recursion(cyclic, nodes(1L, 2L, 3L, 4L, 9L), d))
      assert(got.contains("[5,Direct,1,1]") && got.contains("[1,Direct,1,1]"))
      assert(got.exists(_.startsWith(s"[1,Indirect,$d,")))
    }
  }

  test("recursion: duplicate 2-cycle edges count as a multiset in the depth-4 correction") {
    val g = edges(1L -> 2L, 2L -> 1L, 2L -> 1L, 1L -> 3L, 3L -> 1L, 2L -> 3L, 3L -> 2L)
    sameAnswer(Traversal.recursion(g, nodes(1L, 2L, 3L), 4))
  }

  test("recursion: absent, empty and null starts, null endpoints") {
    for (d <- 2 to 4) withClue(s"depth $d") {
      assert(sameAnswer(Traversal.recursion(cyclic, nodes(42L, 43L), d)) ==
        Seq("[1,Direct,1,1]", "[5,Direct,1,1]"))
      sameAnswer(Traversal.recursion(cyclic, nodes(), d))
      val s = spark
      import s.implicits._
      val nullable = Seq[(Option[Long], Option[Long], Long)]((Some(1L), Some(2L), 1L),
        (Some(2L), Some(1L), 1L), (Some(2L), None, 1L), (None, Some(1L), 1L),
        (None, None, 1L), (Some(6L), Some(6L), 1L)).toDF("src", "dst", "offset")
      val starts = Seq(Some(1L), None, Some(2L)).toDF("node")
      val got = sameAnswer(Traversal.recursion(nullable, starts, d))
      assert(got.contains("[6,Direct,1,1]") && got.contains("[1,Indirect,2,1]"))
    }
  }

  test("recursionGroups: driver groups equal the distributed groups at depth 1 and 2") {
    val g = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 4L -> 1L, 3L -> 5L, 5L -> 6L,
      6L -> 3L, 7L -> 7L, 2L -> 1L)
    for (d <- 1 to 2) withClue(s"depth $d") {
      assert(sameAnswer(Neighborhood.recursionGroups(g,
        nodes(1L, 2L, 3L, 4L, 5L, 6L, 7L), maxDepth = d)).nonEmpty)
    }
  }

  test("recursionGroups: a pair chain longer than ccRounds keeps propagate's partial labels") {
    // 0↔1↔…↔20: four rounds of min over own and neighbour labels move
    // label 0 four hops; a label-of-label jump would move it further
    val chain = (0L until 20L).flatMap(i => Seq(i -> (i + 1), (i + 1) -> i))
    val got = sameAnswer(Neighborhood.recursionGroups(edges(chain: _*),
      nodes(0L to 20L: _*), maxDepth = 1, ccRounds = 4))
    assert(got.head == "[0,0,5]" && got.contains("[4,0,5]") && got.contains("[5,1,1]"))
  }

  test("recursionGroups: empty results, with and without a scope") {
    for (d <- 1 to 2) {
      assert(sameAnswer(Neighborhood.recursionGroups(cyclic, nodes(8L, 9L), d)).isEmpty)
      assert(sameAnswer(Neighborhood.recursionGroups(cyclic, nodes(), d)).isEmpty)
    }
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

  /** A cached 5,000-node call graph shaped like the board's: a few
    * calls per node, with cycles. */
  private lazy val board: DataFrame = spark.range(0, 60000)
    .select((col("id") * 7919 % 5000).as("src"), (col("id") * 104729 % 4999).as("dst"),
      (col("id") % 11).as("offset"))
    .groupBy("src", "dst").agg(min("offset").as("offset"))
    .cache()

  test("warm job counts: recursion ≤ 6, recursionGroups ≤ 3") {
    def recursion() = Traversal.recursion(board,
      board.select(col("src").as("node")).filter(col("node") % 500 === 7).distinct()
        .orderBy(md5(col("node").cast("string"))).limit(64), 4)
      .orderBy("call_type", "node", "depth").collect()
    def groups() = Neighborhood.recursionGroups(board,
      board.select(col("src").as("node")).filter(col("node") % 50 === 7).distinct(), 2)
      .collect()
    val (rec, grp) = (recursion(), groups())
    assert(rec.nonEmpty && grp.nonEmpty)
    val recJobs = jobsOf(assert(recursion().sameElements(rec)))
    val grpJobs = jobsOf(assert(groups().sameElements(grp)))
    assert(recJobs <= 6, s"recursion started $recJobs jobs")
    assert(grpJobs <= 3, s"recursionGroups started $grpJobs jobs")
  }

  test("markovStationary: rounds on the driver, same answer, few jobs") {
    val s = spark
    import s.implicits._
    val events = (0 until 400).map { i =>
      (i % 13, i.toLong, new java.sql.Timestamp(1000L * i),
        if (i % 17 == 0) null else Seq("view", "cart", "buy", "exit", "idle")((i * 7 + i / 13) % 5))
    }.toDF("user_id", "event_id", "ts", "event_type").cache()
    val (driver, distributed) = bothPaths(TemporalOps.markovStationary(events, 6))
    assert(!checkpointed(driver) && checkpointed(distributed))
    assert(driver.schema == distributed.schema)
    val got = driver.collect().toSeq
    assert(got == distributed.collect().toSeq && got.size == 6)
    val jobs = jobsOf(assert(TemporalOps.markovStationary(events, 6).collect().toSeq == got))
    assert(jobs <= 8, s"markovStationary started $jobs jobs")
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.importer.{BinaryGraph, GraphStore, JsonImporter}
import graft.queries.GraphQueryEngine

/** The engine's two paths for binary-scoped call-graph queries: the
  * driver-side scope snapshot (default broadcast threshold) and the
  * distributed frames (`spark.sql.autoBroadcastJoinThreshold=-1`) must
  * answer alike, a warm snapshot must start no Spark job, and `close()`
  * must leave no cached frame behind.
  *
  * The generated store has self-loops, 2-, 3- and 4-cycles, imports
  * shared across binaries, function names repeated across binaries, an
  * unresolved call, an unparseable and a decimal call offset, two calls
  * at one call site, and functions with no calls.
  */
class ScopeSnapshotSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  private case class Bin(hash: String, name: String, fns: Seq[(String, Int)],
      imports: Seq[(String, String, Int)], calls: Seq[(Int, Int, String)])

  private val bins = Seq(
    Bin("a1a1", "alpha.exe",
      Seq("main" -> 0x1000, "f1" -> 0x1100, "f2" -> 0x1200, "f3" -> 0x1300,
        "f4" -> 0x1400, "lone" -> 0x1600, "g" -> 0x1700),
      Seq(("CreateFileA", "KERNEL32.dll", 0x9000), ("send", "WS2_32.dll", 0x9008)),
      Seq((0x1000, 0x1100, "0x1010"), (0x1000, 0x1300, "0x1010"), (0x1000, 0x1200, "4128"),
        (0x1100, 0x1200, "0x1110"), (0x1200, 0x1100, "0x1210"), (0x1200, 0x1200, "0x1214"),
        (0x1200, 0x1300, "0x1218"), (0x1300, 0x1100, "0x1310"), (0x1300, 0x1400, "0x1314"),
        (0x1400, 0x1000, "0x1410"), (0x1200, 0x9000, "zz"), (0x1400, 0x9008, "0x1418"),
        (0x1700, 0x9000, "0x1710"), (0x1100, 0x999999, "0x1114"))),
    Bin("b2b2", "beta.dll",
      Seq("main" -> 0x2000, "worker" -> 0x2100, "f2" -> 0x2200, "h" -> 0x2300),
      Seq(("CreateFileA", "KERNEL32.dll", 0x8000)),
      Seq((0x2000, 0x2100, "0x2010"), (0x2100, 0x2200, "0x2110"), (0x2200, 0x2300, "0x2210"),
        (0x2300, 0x2100, "0x2310"), (0x2200, 0x2000, "0x2214"), (0x2000, 0x8000, "0x2014"),
        (0x2300, 0x8000, "0x2314"))),
    Bin("c3c3", "gamma.so",
      Seq("main" -> 0x3000, "f2" -> 0x3100, "lone" -> 0x3200),
      Seq(("send", "WS2_32.dll", 0x7000)),
      Seq((0x3000, 0x3100, "0x3010"), (0x3100, 0x3000, "0x3110"), (0x3000, 0x3000, "0x3014"),
        (0x3100, 0x7000, "0x3114"))))

  private def hex(a: Int) = s"0x${a.toHexString}"

  lazy val g: BinaryGraph = {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapshot")
    bins.foreach { b =>
      val fns = b.fns.map { case (n, a) => s"""{"name": "$n", "address": "${hex(a)}", "size": 16}""" }
      val imports = b.imports.map { case (n, l, a) =>
        s"""{"name": "$n", "library": "$l", "address": "${hex(a)}"}""" }
      val calls = b.calls.map { case (f, t, o) =>
        s"""{"from_address": "${hex(f)}", "to_address": "${hex(t)}", "offset": "$o", "type": "direct"}""" }
      val json =
        s"""{
           |"binary_info": {"hashes": {"sha256": "${b.hash}"}, "name": "${b.name}",
           |  "file_path": "/x/${b.name}", "file_size": 4096,
           |  "file_type": {"type": "PE32", "architecture": "x86_64"}},
           |"functions": [${fns.mkString(",")}],
           |"strings": [{"value": "text of ${b.name}", "address": "0x5000"}],
           |"imports": [${imports.mkString(",")}],
           |"exports": [{"name": "main", "address": "${hex(b.fns.head._2)}"}],
           |"calls": [${calls.mkString(",")}]
           |}""".stripMargin
      java.nio.file.Files.writeString(dir.resolve(s"${b.name}.json"), json)
    }
    // served from a saved store, as the CLI serves it: an imported
    // graph's plans would redo the whole JSON import in every action
    val store = dir.resolve("store").toString
    GraphStore.save(JsonImporter.importAnalysis(spark, dir.toString), store, partitions = 2)
    GraphStore.load(spark, store)
  }

  private val scopes = Seq(Some("alpha.exe"), Some("beta.dll"), Some("gamma.so"), None)

  /** The function asked about in each scope. Under a threshold of -1 a
    * distributed call costs 2–35 s here, so each scope gets the one
    * name that reaches most of its cycle shapes: `f2` in alpha (a
    * self-loop, 2-, 3- and 4-cycles, an unparseable offset), `main` in
    * beta and gamma and, across all binaries, the three `main`s at
    * once. `lone` has no calls at all. */
  private val asked = Seq(Some("alpha.exe") -> "f2", Some("beta.dll") -> "main",
    Some("gamma.so") -> "main", None -> "main", None -> "lone")

  /** Every snapshot-served call on one engine, with the columns its
    * result is ordered by: (label, sort keys, query). */
  private def queries(e: GraphQueryEngine): Seq[(String, Seq[String], () => DataFrame)] =
    scopes.flatMap { b =>
      Seq((s"functions(f, $b)", Seq("uid"), () => e.queryFunctions("f", b)),
        (s"functions(, $b)", Seq("uid"), () => e.queryFunctions("", b, limit = 5)))
    } ++ asked.flatMap { case (b, n) =>
      Seq(("callgraph", Seq("direction", "depth", "uid"), () => e.callgraph(n, b)),
        ("callPaths", Seq("start_uid", "depth", "path"), () => e.callPaths(n, b, 4)),
        ("context", Seq("role", "start_uid", "depth", "path"),
          () => e.analyzeCallContext(n, b)),
        ("sequences", Seq("caller", "ord"), () => e.callSequences(n, b)),
        ("callers", Seq("callee", "ord"), () => e.callerSequences(n, b)),
        ("recursion 4", Seq("call_type", "depth"), () => e.findRecursion(n, b, 4)),
        ("recursion 6", Seq("call_type", "depth"), () => e.findRecursion(n, b, 6)),
        ("frequencies", Seq("callee_uid"), () => e.callFrequencies(n, b)))
        .map { case (l, k, q) => (s"$l($n, $b)", k, q) }
    }

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Column names and types, then rows: the sort-key sequence must be
    * equal, and the rows within each run of equal keys (an order Spark
    * leaves open) equal as multisets. */
  private def assertSame(label: String, keys: Seq[String],
      got: (Seq[(String, String)], Seq[Row]), want: (Seq[(String, String)], Seq[Row])): Unit = {
    assert(got._1 == want._1, s"$label: schema")
    val at = keys.map(k => got._1.indexWhere(_._1 == k))
    def key(r: Row) = at.map(r.get)
    assert(got._2.map(key) == want._2.map(key), s"$label: order")
    def runs(rs: Seq[Row]) = rs.groupBy(key).view.mapValues(_.map(_.toString).sorted).toMap
    assert(runs(got._2) == runs(want._2), s"$label: rows")
  }

  private def result(df: DataFrame): (Seq[(String, String)], Seq[Row]) =
    (df.schema.map(f => f.name -> f.dataType.simpleString), df.collect().toSeq)

  test("snapshot answers equal the distributed path's, names, types, rows and order") {
    val distributed = withThreshold("-1") {
      val e = new GraphQueryEngine(g)
      try queries(e).map { case (l, _, q) => l -> result(q()) }.toMap
      finally e.close()
    }
    val e = new GraphQueryEngine(g)
    try {
      var rows = 0
      queries(e).foreach { case (l, keys, q) =>
        val got = result(q())
        assertSame(l, keys, got, distributed(l))
        rows += got._2.size
      }
      assert(rows > 200, s"only $rows rows compared")
      // both recursion kinds, and cycles past the DP's depth 4
      val rec = distributed("recursion 6(f2, Some(alpha.exe))")._2
      assert(rec.exists(_.getString(1) == "Direct") && rec.exists(_.getInt(2) > 4))
      assert(distributed("recursion 4(main, None)")._2.map(_.getString(0)).distinct.size == 3)
    } finally e.close()
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

  test("a warm snapshot scope answers with zero Spark jobs; after close() it rebuilds") {
    val e = new GraphQueryEngine(g)
    try {
      val qs = queries(e).filter(_._1.contains("alpha.exe"))
      assert(qs.size == 10)
      val first = qs.map { case (l, _, q) => l -> q().collect().toSeq }.toMap
      qs.foreach { case (l, _, q) => assert(jobsOf(q().collect()) == 0, l) }
      e.close()
      assert(jobsOf(qs.head._3().collect()) >= 1, "close() kept the scope")
      qs.foreach { case (l, _, q) => assert(q().collect().toSeq == first(l), l) }
    } finally e.close()
  }

  /** RDD ids persisted now and not in `before`. */
  private def persistedSince(before: Set[Int]): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.iterator.filterNot(kv => before(kv._1))
      .map { case (id, r) => id -> r.toDebugString.linesIterator.next() }.toMap

  /** A callgraph on a new engine, then `close()`: the RDD ids it
    * persisted. */
  private def callgraphThenClose(): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = new GraphQueryEngine(g)
    assert(e.callgraph("main", Some("alpha.exe")).collect().nonEmpty)
    val persisted = persistedSince(before).keySet
    e.close()
    persisted
  }

  /** Polls with `System.gc()` until no RDD persisted since `before`
    * is left, then asserts so: a checkpoint that belongs to no memo
    * (a bfs level, reciprocity's edge set) goes once it is garbage. */
  private def assertReleased(before: Set[Int]): Unit = {
    val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (persistedSince(before).nonEmpty && System.nanoTime < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    val left = persistedSince(before)
    assert(left.isEmpty, s"still persisted: ${left.toSeq.sorted.mkString("; ")}")
  }

  test("close() after a distributed callgraph leaves no persisted RDD behind") {
    withThreshold("-1") {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      assert(callgraphThenClose().nonEmpty)
      assertReleased(before)
    }
  }

  test("close() after graphShape leaves no persisted RDD behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = new GraphQueryEngine(g)
    val shape = e.graphShape(Some("alpha.exe")).collect()
    assert(shape.length == 1 && shape.head.getAs[Long]("n_triangles") > 0L)
    assert(persistedSince(before).nonEmpty)
    e.close()
    assertReleased(before)
  }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Components

/** A session compiles each generated class once: a query called again
  * in the same session finds all of its whole-stage classes in
  * Spark's code cache and compiles none, and answers with the same
  * rows. Compiles are counted with Spark's own `CodegenMetrics`
  * (one count per class Janino compiles, i.e. per cache miss).
  */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll with BroadcastOff {
  lazy val spark: SparkSession = GraftSession.local(4)

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One call's rows (as sorted strings) and the classes it compiled. */
  private def call(df: => DataFrame): (Seq[String], Long) = {
    val c0 = compiled
    val rows = df.collect().map(_.toString).sorted.toSeq
    (rows, compiled - c0)
  }

  private val dir = Files.createTempDirectory("codegen-reuse")

  /** `graft.DataGen` tables at sf 0.01 (the benchmark board's; at
    * 0.001 recursion_groups finds no mutual pair), written once. */
  private lazy val tables: String = {
    DataGen.generate(spark, dir.toString, 0.01)
    dir.toString
  }

  override def afterAll(): Unit = {
    val paths = Files.walk(dir)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  test("label propagation: a second call compiles no class") {
    // a path of 8 nodes: labels move one hop per round, so the loop
    // runs 7 rounds plus the one that finds no change
    val s = spark
    import s.implicits._
    val edges = (0L until 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val (first, _) = call(Components.labelPropagation(edges))
    val (second, n) = call(Components.labelPropagation(edges))
    assert(first.size == 8 && first.forall(_.endsWith(",0]")))
    assert(n == 0, s"second labelPropagation compiled $n classes")
    assert(second == first)
  }

  test("MSF merge: a second call compiles no class") {
    // a 600-node chain is longer than 2^8, so all 8 inner rounds run.
    // Broadcast is off here, so the merge runs its distributed loop
    // (Components.minLabels) rather than the driver kernel.
    val s = spark
    import s.implicits._
    val h = (0L until 599L).map(i => (i, i + 1)).toDF("x", "y")
    withoutBroadcast {
      val (first, _) = call(Components.mergePicks(h, 8))
      val (second, n) = call(Components.mergePicks(h, 8))
      assert(first.size == 600)
      assert(n == 0, s"second MSF merge compiled $n classes")
      assert(second == first)
    }
  }

  test("min-label loop at Spark defaults: warm calls compile no class") {
    // every input of a 600-node chain's rounds is small enough to
    // broadcast; each join of the loop hints its label side, so AQE
    // cannot plan a warm call's join differently from a cold one's
    val s = spark
    import s.implicits._
    val probe = (0L until 599L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("a", "b")
    val start = (0L until 600L).map(i => (i, i)).toDF("node", "l")
    def loop = Components.minLabels(probe, start, jump = true, 8)._1
    val (first, _) = call(loop)
    (1 to 3).foreach { i =>
      val (again, n) = call(loop)
      assert(n == 0, s"warm call $i compiled $n classes")
      assert(again == first)
    }
  }

  test("stronglyConnected: a second call compiles no class") {
    // two cycles joined by a bridge, a tail chain into them and a
    // 64-node cycle: trim waves, two outer rounds and both colourings
    val s = spark
    import s.implicits._
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 5L),
      (7L, 8L), (8L, 1L)) ++ (100L until 164L).map(i => (i, 100L + (i + 1) % 64)))
      .toDF("src", "dst")
    val (first, _) = call(Components.stronglyConnected(edges))
    val (second, n) = call(Components.stronglyConnected(edges))
    assert(first.size == 72)
    assert(n == 0, s"second stronglyConnected compiled $n classes")
    assert(second == first)
  }

  test("board queries: second calls compile no class, past Spark's default cache size") {
    // together these three use ~170 classes, more than Spark's default
    // cache of 100 holds, so the second round also needs the session's
    // larger cache, not only stable class bodies
    val names = Seq("recursion_detect", "recursion_groups", "fulltext_bm25")
    val dir = tables
    val first = names.map(q => call(SparkEntry.queries(q)(spark, dir)))
    val second = names.map(q => call(SparkEntry.queries(q)(spark, dir)))
    names.zip(first.zip(second)).foreach { case (q, ((rows1, _), (rows2, n))) =>
      withClue(q) {
        assert(n == 0, s"second $q compiled $n classes")
        assert(rows2 == rows1)
        assert(rows1.nonEmpty)
      }
    }
  }
}

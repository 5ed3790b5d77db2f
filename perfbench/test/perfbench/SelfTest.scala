package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import org.apache.spark.sql.Row

import graft.importer.JsonImporter

/** The harness's own tests: the generator is bit-stable for a seed and
  * an import of its output has the node and edge counts it computes
  * itself, the metric maths, and the digest both engines share. Run
  * with `python3 perfbench/test.py`; exits non-zero on any failure.
  */
object SelfTest {

  private var failures = 0
  private def check(what: String, ok: => Boolean): Unit = {
    val good = try ok catch { case e: Exception => println(s"  ($e)"); false }
    println(s"${if (good) "ok  " else "FAIL"} $what")
    if (!good) failures += 1
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def generator(): Unit = {
    val corpus = (0 until 4).map(i => Corpus.json(Corpus.binary(7L, f"bin$i%04d", 40))).mkString
    check("generator: same seed, same bytes",
      corpus == (0 until 4).map(i => Corpus.json(Corpus.binary(7L, f"bin$i%04d", 40))).mkString)
    val pinned = sha(corpus)
    check("generator: bytes pinned for seed 7",
      pinned == "e8fb71a2fe31aa5229e9b3468a696c756150f748d08903d109e3215618cbce72")
    check("generator: another seed, other bytes",
      corpus != (0 until 4).map(i => Corpus.json(Corpus.binary(8L, f"bin$i%04d", 40))).mkString)
    val (a, b) = (Corpus.binary(7L, "bin0001", 40), Corpus.binary(8L, "bin0001", 40))
    check("generator: the seed changes content, never shape",
      a.hash != b.hash && a.fns.map(_.name) != b.fns.map(_.name) && a.calls == b.calls &&
        a.fns.map(_.addr) == b.fns.map(_.addr) && a.strings.map(_._2) == b.strings.map(_._2))
    val fanOut = Corpus.binary(7L, "bin0002", 400).calls.groupBy(_.from).values.map(_.size)
    check("generator: fan-out is skewed (max well above mean)",
      fanOut.max >= 4 * fanOut.sum.toDouble / fanOut.size)
  }

  def importCounts(): Unit = {
    val work = Paths.get(sys.props.getOrElse("perfbench.work", "selftest")).toAbsolutePath
    val bins = (0 until 6).map(i => Corpus.binary(11L, f"bin$i%04d", 30))
    val facts = new Facts(bins)
    Corpus.write(work.resolve("corpus"), bins)
    val spark = graft.GraftSession.local(2)
    try {
      val g = JsonImporter.importAnalysis(spark, work.resolve("corpus").toString)
      check("import: stats equal the generator's counts",
        JsonImporter.stats(g).collect().head.toSeq == facts.stats)
      check("import: edge tables equal the generator's counts",
        Session.tableCounts(g) == facts.tableRows)
    } finally spark.stop()
  }

  def maths(): Unit = {
    check("median: odd and even", Stats.median(Seq(3.0, 1, 2)) == 2.0 &&
      Stats.median(Seq(4.0, 1, 2, 3)) == 2.5)
    check("geomean of per-type medians weighs each type once",
      math.abs(Stats.geomeanOfMedians(Map("a" -> Seq(1.0, 100, 2), "b" -> Seq(8.0))) - 4.0) < 1e-12)
    check("covered time is the union of job intervals",
      Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    check("covered time of nothing is 0", Stats.covered(Nil) == 0L)
    val byKind = Session.Cycle.groupBy(_._1)
    check("session mix: every query type equally often",
      byKind.keySet == Session.Kinds.toSet && byKind.values.map(_.size).toSet == Set(2))
    val scoped = Session.Cycle.filter(_._3.nonEmpty)
    check("session mix: three in four binary-scoped ops hit the hot binary",
      scoped.count(_._3 == "hot") == 3 * scoped.count(_._3 == "cold"))
    check("session mix: each cold type also runs hot",
      Session.ColdKinds.forall(k => byKind(k).map(_._3).toSet == Set("hot", "cold")))
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:90)",
      "graft.graph.Traversal$.bfs(Traversal.scala:165)",
      "graft.queries.GraphQueries$.callgraphBfs(GraphQueries.scala:114)",
      "perfbench.Board$.run(Board.scala:70)").mkString("\n")
    check("module: innermost graft.<module> frame wins",
      Stats.moduleOf(site).contains("graph"))
    check("module: none without a graft module frame",
      Stats.moduleOf("perfbench.Session$.call(Session.scala:1)\ngraft.SparkEntry$.x(S.scala:1)").isEmpty)
  }

  def digest(): Unit = {
    val rows = Seq(Row(3L, "x", 1.5), Row(null, "y", 3.0), Row(7, "zé", -0.0))
    val d = Digest.of(Seq("b", "a", "c"), rows)
    check("digest: order-independent", d == Digest.of(Seq("b", "a", "c"), rows.reverse))
    check("digest: equals oracle.py's for the same rows", d == (3L, "51154af497789d94"))
    check("digest: integral doubles print as integers", Digest.value(3.0) == Digest.value(3L))
    check("digest: other doubles compare by bits", Digest.value(0.1) != Digest.value(0.1f))
  }

  def main(args: Array[String]): Unit = {
    generator(); maths(); digest(); importCounts()
    println(if (failures == 0) "all passed" else s"$failures failed")
    if (failures > 0) sys.exit(1)
  }
}

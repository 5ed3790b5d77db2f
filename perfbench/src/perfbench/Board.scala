package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `board`: a batch analytics job in a fresh JVM over a fixed,
  * read-only TPC-H-ish data set written by `graft.DataGen` (its rows
  * hash the row id, so the tables are the same on every run and for
  * every seed). The runner writes the tables once per build, in a JVM
  * of their own (`board-data`), as a batch job finds its input in
  * place. Set-up reads the oracle file and runs one untimed pass of the
  * query list, so memo builds, codegen and JIT
  * land in `setup_s`, as a batch user pays them once. The timed phase
  * runs further passes in board order, each query forced by
  * `collect()`. Only the query is timed; its rows are then checked
  * against the DuckDB oracle's row count and digest in
  * `board_oracle.tsv`, in set-up and in the timed phase alike.
  */
object Board {

  val Sf = 0.01

  /** Query name -> family, in board order. */
  val Queries: Seq[(String, String)] = Seq(
    "recursion_detect" -> "graph.traversal", "recursion_groups" -> "graph.traversal",
    "graph_triangles" -> "graph.ranking", "graph_clustering" -> "graph.ranking",
    "graph_motifs" -> "graph.ranking",
    "graph_components" -> "graph.components",
    "dedup_embedding_auto" -> "pipeline.dedup",
    "sim_lsh" -> "pipeline.similarity",
    "fulltext_bm25" -> "search.fulltext",
    "q3_topk" -> "queries.relational",
    "events_sessionize" -> "streaming.events")

  /** The module whose span a query's jobs fall back to. */
  private def module(family: String): String = family.takeWhile(_ != '.')

  /** For `run.py` and `oracle.py`: the tables under `work/board` and
    * each query's DuckDB SQL as `work/oracle_sql.tsv` (name, tab, SQL
    * on one line). */
  def writeData(spark: org.apache.spark.sql.SparkSession, work: Path): Unit = {
    graft.DataGen.generate(spark, work.resolve("board").toString, Sf)
    val sql = SparkEntry.oracleSql
    Files.write(work.resolve("oracle_sql.tsv"), Queries.map { case (q, _) =>
      s"$q\t${sql(q).replaceAll("\\s+", " ")}"
    }.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** name -> (rows, digest) from the stored oracle file. */
  def oracle(file: Path): Map[String, (Long, String)] =
    Files.readAllLines(file).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, digest) = l.split('\t')
      name -> (rows.toLong, digest)
    }.toMap

  /** Passes of the timed phase for a `--seconds` budget: a warm pass
    * takes about 20 s. */
  def passes(seconds: Int): Int = math.max(1, seconds / 20)

  def run(run: Run, data: Path, oracleFile: Path): Unit = {
    val dir = data.toString
    val expect = run.setup {
      val expect = oracle(oracleFile)
      run.untraced("warm-up")(pass(run, dir, expect, timed = false))
      expect
    }
    run.timed((1 to passes(run.seconds)).foreach(_ => pass(run, dir, expect, timed = true)))
  }

  /** One pass of the query list, each checked against the oracle; as
    * timed ops, or as untimed set-up calls. */
  private def pass(run: Run, dir: String, expect: Map[String, (Long, String)],
      timed: Boolean): Unit =
    Queries.foreach { case (q, fam) =>
      var columns = Seq.empty[String]
      def query = {
        val df = SparkEntry.queries(q)(run.spark, dir)
        columns = df.columns.toSeq
        df.collect()
      }
      def ok(rows: Array[org.apache.spark.sql.Row]) = Digest.of(columns, rows.toSeq) == expect(q)
      if (timed) run.op(q, module(fam))(query)(ok) else run.warm(q, module(fam))(query)(ok)
    }
}

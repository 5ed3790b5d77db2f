package graft

import org.apache.spark.sql.functions._

import graft.graph.Components

/** One-off experiment (sbt Test/runMain graft.ComponentsBench): the
  * label-propagation vs alternating-star crossover that motivates
  * Components.auto. Label propagation pays one shuffle round per hop
  * of graph diameter; the star engine converges in O(log n) rounds.
  * Expectation: LP wins on low-diameter graphs (hierarchies, hub-y
  * call graphs), the star engine on long paths. Numbers go to
  * SURVEY.md.
  */
object ComponentsBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // long path: diameter = length
    Seq(60, 300).foreach { len =>
      val path = (0L until len.toLong).map(i => (i, i + 1)).toDF("src", "dst")
        .cache(); path.count()
      val tLp = time(Components.labelPropagation(path, maxIter = len + 2).count())
      val tStar = time(Components.alternatingStar(path).count())
      val tAuto = time(Components.auto(path, lpRoundBudget = 8).count())
      println(f"path len=$len%3d  label-prop=$tLp%6.2fs  star=$tStar%6.2fs  auto=$tAuto%6.2fs")
      path.unpersist()
    }
    // wide low-diameter graph: 100k leaves on 100 hubs, hubs on one
    // root — diameter 4, the shape of the hierarchy/call graphs the
    // engine mostly sees
    val wide = (0L until 100000L).map(i => (i % 100 + 1000000L, i)).toDF("src", "dst")
      .unionByName((0L until 100L).map(i => (2000000L, 1000000L + i)).toDF("src", "dst"))
      .cache(); wide.count()
    val tLpW = time(Components.labelPropagation(wide).count())
    val tStarW = time(Components.alternatingStar(wide).count())
    val tAutoW = time(Components.auto(wide).count())
    println(f"wide 100k/diam=4   label-prop=$tLpW%6.2fs  star=$tStarW%6.2fs  auto=$tAutoW%6.2fs")
    spark.stop()
  }
}

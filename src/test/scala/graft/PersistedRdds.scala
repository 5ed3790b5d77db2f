package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions

/** Persisted-RDD bookkeeping for the lifecycle specs: what a block of
  * work left persisted, and a GC-polling check that it is all gone. */
trait PersistedRdds extends Assertions {
  def spark: SparkSession

  /** RDD ids persisted now and not in `before`. */
  protected def persistedSince(before: Set[Int]): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.iterator.filterNot(kv => before(kv._1))
      .map { case (id, r) => id -> r.toDebugString.linesIterator.next() }.toMap

  /** Polls with `System.gc()` until no RDD persisted since `before`
    * is left, then asserts so: a checkpoint that belongs to no memo
    * (a bfs level, reciprocity's edge set) goes once it is garbage. */
  protected def assertReleased(before: Set[Int]): Unit = {
    val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (persistedSince(before).nonEmpty && System.nanoTime < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    val left = persistedSince(before)
    assert(left.isEmpty, s"still persisted: ${left.toSeq.sorted.mkString("; ")}")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KeyedFrameMemo

/** Pins the memo-handle lifetime guarantee (r10 verdict #5): a plan
  * composed from a memoized checkpointed frame must stay executable
  * no matter how much memo churn — including evictions — happens
  * between fetching the handle and executing the plan. Eviction only
  * drops the memo's reference; block release is Spark's
  * ContextCleaner reaping the RDD when its LAST consumer plan becomes
  * unreachable, so the composed plan itself is the pin. The r10
  * grace-tick window (256 accesses) would have been exhausted twice
  * over by the churn below.
  */
class MemoChurnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  test("a composed plan survives 300 evicting builds + GC before execution") {
    val memo = new KeyedFrameMemo[String]
    val s = spark
    val handle = memo.getOrBuild("pinned") {
      s.range(100).toDF("x").localCheckpoint(true)
    }
    // compose (do not execute) a plan over the checkpointed handle
    val plan = handle.agg(sum(col("x")).as("t"))
    // churn: 300 further builds — far past the 64-entry eviction
    // threshold, so "pinned" is evicted from the memo many times over
    (1 to 300).foreach { i =>
      memo.getOrBuild(s"churn-$i") {
        s.range(2).toDF("x").localCheckpoint(true)
      }
    }
    // give the ContextCleaner every chance to misbehave: full GCs
    // reap every weak-ref-registered RDD with no strong referent —
    // the composed plan must BE the strong referent that keeps the
    // pinned frame's blocks alive
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    assert(plan.collect().head.getLong(0) == 4950L)
  }

  test("an evicted frame with no consumer is actually dropped from the memo") {
    val memo = new KeyedFrameMemo[String]
    val s = spark
    val ids = (1 to 70).map { i =>
      val f = memo.getOrBuild(s"k$i") {
        s.range(3).toDF("x").localCheckpoint(true)
      }
      i -> f
    }.toMap
    // 70 distinct keys > 64 threshold: the next build triggers an
    // eviction sweep down to the 16 most recent; a re-fetch of an old
    // key must REBUILD (be a new frame object), not serve a dropped one
    memo.getOrBuild("trigger") { s.range(1).toDF("x").localCheckpoint(true) }
    val again = memo.getOrBuild("k1") {
      s.range(3).toDF("x").localCheckpoint(true)
    }
    assert(!(again eq ids(1)), "evicted key must rebuild")
  }
}

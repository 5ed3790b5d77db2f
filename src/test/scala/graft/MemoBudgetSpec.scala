package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KeyedFrameMemo

/** Pins the BYTE budget on memo residency (r11 verdict #3): the
  * block manager charges storage in bytes, so eviction is driven by
  * the measured checkpointed size of memo-held frames across every
  * memo instance, not just entry counts. The r11 sf1 board carried
  * ~80 s of residency drag because a board's worth of large frames
  * all fit under the 64-entry count cap.
  */
class MemoBudgetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** ~1 MB+ checkpointed frame (16k rows × 64-byte string). */
  private def bulky(s: SparkSession, n: Int): org.apache.spark.sql.DataFrame =
    s.range(16000).toDF("x")
      .withColumn("pad", concat_ws("", (0 until 8).map(_ => md5(col("x").cast("string"))): _*))
      .withColumn("salt", lit(n))
      .localCheckpoint(true)

  test("frameBytes sees a checkpointed frame's storage; 0 for lazy plans") {
    val s = spark
    val ck = bulky(s, 0)
    assert(KeyedFrameMemo.frameBytes(ck) > 100000L,
      "checkpointed frame must report its block bytes")
    assert(KeyedFrameMemo.frameBytes(s.range(5).toDF("x")) == 0L,
      "a plain lazy scan has no LogicalRDD blocks")
  }

  test("over-budget builds evict the globally oldest frame, newest stays") {
    val s = spark
    val prev = sys.props.get("graft.memo.budget.mb")
    sys.props("graft.memo.budget.mb") = "3" // ~2 bulky frames
    try {
      val memoA = new KeyedFrameMemo[String]
      val memoB = new KeyedFrameMemo[String]
      val first = memoA.getOrBuild("old") { bulky(s, 1) }
      memoB.getOrBuild("mid") { bulky(s, 2) }
      // each frame is >1.5 MB, so by the third build the ledger is
      // past 3 MB: "old" (globally oldest, held by a DIFFERENT memo
      // instance) must be dropped; "new" (just built) is exempt
      memoB.getOrBuild("new") { bulky(s, 3) }
      val newest = memoB.getOrBuild("new") { fail("newest must survive") }
      assert(newest != null)
      val again = memoA.getOrBuild("old") { bulky(s, 4) }
      assert(!(again eq first), "oldest over-budget frame must rebuild")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.memo.budget.mb") = v
        case None => sys.props.remove("graft.memo.budget.mb"); ()
      }
    }
  }

  test("sub-MiB entries are invisible to the byte sweep (rebuild shield)") {
    val s = spark
    val prev = sys.props.get("graft.memo.budget.mb")
    sys.props("graft.memo.budget.mb") = "3" // ~2 bulky frames
    try {
      val memo = new KeyedFrameMemo[String]
      // oldest entry, checkpointed (so its bytes register) but far
      // below the 1 MiB sweep floor — the r15 sf10 rerank-frame shape
      val tiny = memo.getOrBuild("tiny") {
        s.range(100).toDF("x").localCheckpoint(true)
      }
      memo.getOrBuild("big1") { bulky(s, 6) }
      memo.getOrBuild("big2") { bulky(s, 7) }
      memo.getOrBuild("big3") { bulky(s, 8) } // sweeps big1/big2, never tiny
      val again = memo.getOrBuild("tiny") {
        fail("a sub-floor entry must survive the byte sweep")
      }
      assert(again eq tiny)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.memo.budget.mb") = v
        case None => sys.props.remove("graft.memo.budget.mb"); ()
      }
    }
  }

  test("default budget scales with the heap, floored at 6 GiB") {
    val prev = sys.props.get("graft.memo.budget.mb")
    sys.props.remove("graft.memo.budget.mb")
    try {
      // observable properties, not the implementation expression:
      // never below the 6 GiB floor, never below a quarter of the
      // heap the operator was given (r15 advice #4)
      assert(KeyedFrameMemo.budgetBytes >= (6L << 30))
      assert(KeyedFrameMemo.budgetBytes >=
        Runtime.getRuntime.maxMemory / 4)
    } finally {
      prev.foreach(v => sys.props("graft.memo.budget.mb") = v)
    }
  }

  test("a single artifact larger than the budget still serves (exempt)") {
    val s = spark
    val prev = sys.props.get("graft.memo.budget.mb")
    sys.props("graft.memo.budget.mb") = "0"
    try {
      val memo = new KeyedFrameMemo[String]
      val f = memo.getOrBuild("huge") { bulky(s, 5) }
      val same = memo.getOrBuild("huge") { fail("just-built frame must be served") }
      assert(same eq f)
      assert(f.count() == 16000L)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.memo.budget.mb") = v
        case None => sys.props.remove("graft.memo.budget.mb"); ()
      }
    }
  }
}

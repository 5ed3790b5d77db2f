package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{ClassicConversions, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Plan-level access that Spark 4.x keeps `private[sql]`: building a
  * frame over a hand-made leaf needs `classic.Dataset.ofRows`. */
object PlanBridge {

  /** `df`'s eager local checkpoint, over a `LogicalRDD` leaf that
    * carries no size estimate. `localCheckpoint` copies the estimate of
    * the plan it stored into its leaf, so a loop whose round joins its
    * state with itself multiplies that estimate every round, and after
    * a few dozen rounds Catalyst spends minutes multiplying its
    * million-digit `BigInteger`s (`SizeInBytesOnlyStatsPlanVisitor`).
    * Without an estimate the leaf plans at `spark.sql.defaultSizeInBytes`
    * every round. The leaf reads the checkpoint's own RDD, so
    * `KeyedFrameMemo.releaseRound` releases it as any checkpoint. */
  def localCheckpointNoStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = ClassicConversions.castToImpl(ck.sparkSession)
        Dataset.ofRows(session, lr.copy()(session, None, None))
      case _ => ck
    }
  }
}

package graft.functions

import org.apache.spark.sql.{DataFrame, Row}

/** The one admission rule for answering on the driver: a frame is
  * collected only when it fits under Spark's own
  * `spark.sql.autoBroadcastJoinThreshold`, what Spark would ship whole
  * to every task anyway. The engine's scope snapshots, the driver graph
  * kernels ([[graft.graph.LocalGraph]]) and the Markov rounds all admit
  * through [[bounded]], so one setting moves them together and `-1`
  * sends every one of them to its distributed path. */
private[graft] object DriverCollect {

  /** `df`'s rows when at most `cap` of them, where `cap` is how many
    * rows of the frame's default row size fit under
    * `spark.sql.autoBroadcastJoinThreshold`; `None` when over the cap,
    * or when the threshold is negative (Spark ships nothing whole).
    * When Spark's own size estimate of `df` (its input files' size, as
    * the broadcast rule reads it) is under the threshold, one job
    * collects it whole; otherwise a `limit(cap + 1)` keeps the driver's
    * share bounded, at the cost of Spark's take scanning a few files
    * per job. */
  def bounded(df: DataFrame): Option[Array[Row]] = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) None
    else {
      val cap = math.min(threshold / df.schema.defaultSize, Int.MaxValue - 1L).toInt
      val fits = df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
      Some((if (fits) df else df.limit(cap + 1)).collect()).filter(_.length <= cap)
    }
  }
}

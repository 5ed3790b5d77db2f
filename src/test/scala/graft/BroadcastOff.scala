package graft

import org.apache.spark.sql.SparkSession

/** Runs a block with `spark.sql.autoBroadcastJoinThreshold=-1`, which
  * admits nothing to the driver paths, so an operator that answers a
  * small input on the driver runs its distributed rounds; the
  * session's setting is restored afterwards. */
trait BroadcastOff {
  def spark: SparkSession

  protected def withoutBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

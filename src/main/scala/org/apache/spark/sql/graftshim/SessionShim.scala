package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Bridges for an operator that plans on a session of its own: Spark keeps
  * `cloneSession` and `Dataset.ofRows` private to org.apache.spark.sql. */
object SessionShim {
  /** A clone of `s` that keeps every runtime SQL setting of `s` (ANSI mode,
    * AQE, time zone) but plans shuffles `partitions` wide; `s` is untouched. */
  def cloneWithShufflePartitions(s: SparkSession, partitions: Int): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    c.sessionState.conf.setConf(SQLConf.SHUFFLE_PARTITIONS, partitions)
    c
  }

  /** `df`'s logical plan as a frame of session `s`. */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}

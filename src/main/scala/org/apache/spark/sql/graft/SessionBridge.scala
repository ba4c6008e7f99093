package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** `SparkSession.cloneSession` and `Dataset.ofRows` are private[sql];
  * this re-exports them so a frame can be resolved under a copy of a
  * session's conf and then handed back to the session itself (the
  * [[ColumnBridge]] pattern).
  */
object SessionBridge {
  /** A copy of `spark` (conf, temp views, UDFs) whose conf can be set
    * without touching `spark`'s.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `spark`. Nodes resolved under
    * `df`'s session (a streaming source's `DataSource`) keep that
    * session; what `spark` runs the frame through is its own.
    */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}

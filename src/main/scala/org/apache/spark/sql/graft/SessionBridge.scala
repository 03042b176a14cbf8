package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Session clone + frame rebinding. `cloneSession` and `Dataset.ofRows`
  * are `private[sql]`, so the two lines that need them live in the
  * org.apache.spark.sql namespace — same technique as [[ColumnBridge]].
  */
object SessionBridge {

  /** A session sharing `s`'s SparkContext, cache and catalog, with its
    * own copy of `s`'s SQLConf (runtime confs included) and optimizer
    * extensions.
    */
  def cloneOf(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a frame of session `s`: it plans and runs
    * under `s`'s SQLConf.
    */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.DataFrame].logicalPlan)
}

package graft.tools

import graft.SparkEntry
import graft.util.Sessions

/** Dump formatted physical plans for the query pack — the .explain
  * feedback loop: check PushedFilters / ReadSchema / WholeStageCodegen
  * spans / join strategies. Usage:
  *   runMain graft.tools.ExplainDump [sfDir] [queryName ...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet
      else Set("q1_pricing_summary", "q4_filter_project", "q7_star_join")
    val spark = Sessions.local("explain", "4")
    spark.sparkContext.setLogLevel("ERROR")
    // keep Materialize.releaseAfter's eager localCheckpoint out of the
    // dump: the checkpoint both runs the query here and truncates the
    // plan to a "Scan ExistingRDD" stub (the r16 dumps' failure mode)
    spark.conf.set(graft.util.Materialize.ExplainOnlyConf, "true")
    SparkEntry.queries.filter(q => names(q._1)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        println(fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    spark.stop()
  }
}

package graft.pipelines

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Parquet batch bootstrap → lake table (reference Hive2Hudi.scala:23-45:
  * read raw parquet of a warehouse table, optional sample limit, add the
  * `created_ts` precombine column, PK-not-null filter, repartition,
  * keyed write).
  */
object BatchLoad {

  def run(spark: SparkSession, cfg: PipelineConfig): String = {
    var df = spark.read.parquet(cfg.sourcePath)
    if (cfg.limitRows > 0) df = df.limit(cfg.limitRows) // Hive2Hudi.scala:25
    if (!df.columns.contains(cfg.precombineField))
      df = df.withColumn(cfg.precombineField,
        lit(System.currentTimeMillis())) // Hive2Hudi.scala:29 epoch-millis lit
    df = df.repartition(cfg.repartitionNum) // Hive2Hudi.scala:30, Y1
    val table = cfg.target(spark)
    cfg.writeOperation match {
      case "insert" => table.insert(df)
      case "upsert" => table.upsert(df)
      case other => throw new IllegalArgumentException(s"bad op: $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("batch-load")
    spark.sparkContext.setLogLevel("WARN")
    val instant = run(spark, cfg)
    println(s"[batch-load] committed $instant to ${cfg.tablePath}")
    spark.stop()
  }
}

package graft.pipelines

import graft.lake.LakeTable
import graft.sources.LakeSink
import graft.util.Sessions
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming JSON ingest → lake table. Covers both reference streaming
  * ingest programs:
  *  - Log2Hudi.scala:29-85 — schema inferred from one sample JSON
  *    (`--sample-json`), ingest-time partition cols `logday`/`hm`
  *    (day + 10-minute bucket, Log2Hudi.scala:70-75);
  *  - MSK2Hudi.scala:30-63 — schema read from the existing target table.
  *
  * The Kafka/Kinesis source is stood in by a file source over an inbox
  * directory carrying one JSON record per line (`value: string` — same
  * DataFrame shape as the Kafka source after
  * `selectExpr("CAST(value AS STRING)")`, Log2Hudi.scala:55). Checkpoint +
  * trigger + foreachBatch semantics are identical (T1-T3, T7).
  */
object StreamIngest {

  def resolveSchema(spark: SparkSession, cfg: PipelineConfig): StructType =
    if (cfg.sampleJson.nonEmpty) {
      // Log2Hudi.scala:50-51: infer from a single sample record,
      // validated first (util/Meta.scala:10-20)
      require(graft.util.Json.isValidObject(cfg.sampleJson),
        "--sample-json is not a valid JSON object")
      import spark.implicits._
      spark.read.json(Seq(cfg.sampleJson).toDS()).schema
    } else {
      // MSK2Hudi.scala:40 + package.scala:165-169: target table schema
      // (meta columns are never part of userSchema)
      LakeTable.load(spark, cfg.tablePath).userSchema
        .getOrElse(throw new IllegalStateException(
          s"target table ${cfg.tablePath} has no schema; pass --sample-json"))
    }

  /** Parse a `value:string` micro-batch and add ingest-time partition
    * columns if configured (one timestamp per batch, matching the
    * reference's driver-side `LocalDateTime.now` lit, Log2Hudi.scala:70-75).
    */
  def transform(batch: DataFrame, schema: StructType, cfg: PipelineConfig): DataFrame = {
    var df = batch
      .select(from_json(col("value"), schema).as("data")) // P2
      .select("data.*") // P3
      .filter(cfg.recordKeyFields.map(col(_).isNotNull).reduce(_ && _)) // P8
    val now = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
    if (cfg.partitionFields.contains("logday"))
      df = df.withColumn("logday",
        lit(now.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd"))))
    if (cfg.partitionFields.contains("hm"))
      df = df.withColumn("hm",
        lit(f"${now.getHour}%02d${now.getMinute / 10 * 10}%02d"))
    df
  }

  def run(spark: SparkSession, cfg: PipelineConfig): StreamingQuery = {
    val schema = resolveSchema(spark, cfg)
    val batchesSinceMaintain = new java.util.concurrent.atomic.AtomicInteger(0)
    val bc = spark.sparkContext.broadcast(schema) // Y3, Log2Hudi.scala:52
    val table = cfg.target(spark)
    // T4: per-batch progress logging (reference Log2Hudi.scala:40-48)
    graft.streaming.ProgressListener.attach(spark, s"ingest-${cfg.tableName}")
    // T5: per-batch offset commit to a consumer-visible sidecar (the
    // reference's KafkaOffsetCommitterListener, Log2Hudi.scala:47-48)
    if (cfg.offsetCommitDir.nonEmpty)
      graft.streaming.OffsetCommitListener.attach(spark,
        cfg.offsetCommitDir, s"ingest-${cfg.tableName}")
    spark.readStream
      .format("text")
      .load(cfg.inboxDir)
      .withColumnRenamed("value", "value")
      .writeStream
      .queryName(s"ingest-${cfg.tableName}") // T4
      .option("checkpointLocation", cfg.checkpointDir) // T3
      .trigger(Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds")) // T2
      .foreachBatch { (batch: DataFrame, batchId: Long) => // T1
        // a batch re-run after a lost checkpoint commit is already in
        // the table: an insert would append its rows twice
        val key = LakeSink.batchKey(spark)
        if (!LakeSink.applied(table, key, batchId) && !batch.isEmpty) {
          val df = transform(batch, bc.value, cfg)
          val extra = Map(key -> batchId.toString)
          cfg.writeOperation match {
            case "insert" => table.insert(df, extra)
            case _        => table.upsert(df, extra = extra)
          }
          // auto-optimize: every N non-empty batches, run exactly the
          // services the table needs (compact/pack/cluster-incr/clean) —
          // continuous ingestion is what ACCRETES the debt (small files
          // per trigger, MOR deltas), so the ingest loop is the natural
          // place to pay it down. Each service is its own atomic commit
          // under the writer lock; concurrent readers never block.
          if (cfg.maintainEvery > 0) {
            val n = batchesSinceMaintain.incrementAndGet()
            if (n >= cfg.maintainEvery) {
              batchesSinceMaintain.set(0)
              table.maintain()
              ()
            }
          }
          ()
        }
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("stream-ingest")
    spark.sparkContext.setLogLevel("WARN")
    val q = run(spark, cfg)
    q.awaitTermination() // T7
  }
}

package graft.pipelines

import graft.cdc.{CanalParser, CdcOp}
import graft.lake.LakeTable
import graft.util.Sessions
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{MapType, StringType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC stream (Canal binlog envelopes) → lake table with per-op routing
  * (reference KDS2Hudi.scala:83-147 + cdc/CanalParser.scala:11-32).
  *
  * Unlike the reference — which parses Canal driver-side — the parse runs
  * as a typed flatMap on executors ([[parsedRecords]], SURVEY §2.8), so a
  * 100 TB backlog parses in parallel. Row payloads are string-typed maps
  * (Canal emits all values as strings); they are cast column-wise to the
  * target table schema.
  */
object CdcIngest {

  /** Cast the string-map payloads of parsed envelopes to the table
    * schema, keeping per-row op/ordering columns. `records` carries one
    * row per envelope: the CdcRecord fields plus its source position
    * (`_src`, `_line`). The resulting order tuple (binlog ts, binlog
    * event id, source file, line, row index inside the envelope) is
    * deterministic — resolution never depends on how Spark happened to
    * partition the batch.
    */
  def typedRows(spark: SparkSession, records: DataFrame,
      table: LakeTable): DataFrame = {
    val userFields = table.userSchema.get.fields
    records
      .select(col("op").as("_op"), col("ts").as("_ts"), col("seq").as("_seq"),
        col("_src"), col("_line"),
        posexplode(col("rows")).as(Seq("_idx", "row")))
      .select(Seq(col("_op"), col("_ts"), col("_seq"), col("_src"),
        col("_line"), col("_idx"),
        from_json(col("row"), MapType(StringType, StringType)).as("m")): _*)
      .select(Seq(col("_op"), col("_ts"), col("_seq"), col("_src"),
        col("_line"), col("_idx")) ++
        userFields.toIndexedSeq.map(f =>
          col("m").getItem(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** DMS-style two-level envelope `{data: struct, metadata: struct}`
    * (reference KDS2Hudi.scala:36-81, hand-declared schema; SURVEY A2):
    * expand `data.*`, route by `metadata.operation` (insert/update/load
    * → upsert, delete → delete). The reference sends the deletes as a
    * second write (KDS2Hudi.scala:117-136); here both land in ONE upsert
    * commit, deletes as `_deleted` rows.
    */
  def applyDmsBatch(spark: SparkSession, batch: DataFrame,
      table: LakeTable): Unit = {
    import org.apache.spark.sql.types._
    val dataSchema = table.userSchema.get
    val envelope = StructType(Seq(
      StructField("data", dataSchema),
      StructField("metadata", StructType(Seq(
        StructField("operation", StringType),
        StructField("record-type", StringType),
        StructField("table-name", StringType),
        StructField("timestamp", StringType))))))
    val parsed = sourced(spark, batch)
      .select(from_json(col("value").cast("string"), envelope).as("e"), // P1+P2
        col("_src"), col("_line"))
      .where(col("e.data").isNotNull) // P9
      .select(col("e.metadata.operation").as("_op"),
        col("e.metadata.timestamp").as("_ts"), col("_src"), col("_line"),
        col("e.data.*")) // P3
    // Resolve the FINAL operation per key within the batch before routing:
    // applying "all upserts then all deletes" would leave a key deleted
    // even when a delete is followed by a re-insert later in the stream.
    // Per-record order is recovered from metadata.timestamp (DMS commit
    // ts, microsecond precision), tie-broken by source position (later
    // file, later line wins — inbox files are named monotonically by the
    // producer).
    val keyFields = table.meta.recordKeyFields
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyFields.map(col): _*)
      .orderBy(col("_ts").desc_nulls_last, col("_src").desc, col("_line").desc)
    val finalOps = parsed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 &&
        col("_op").isin("insert", "update", "load", "delete"))
      .withColumn(LakeTable.DeletedCol, col("_op") === "delete")
      .drop("_rn", "_op", "_ts", "_src", "_line")
    // key-unique by construction after the window — skip combine
    table.upsertNonEmpty(finalOps, combine = false)
    ()
  }

  /** A raw inbox batch with each line's source position, spread over
    * the cores for the parse. `_src` is the file, `_line` the
    * `monotonically_increasing_id` taken AT THE SCAN: within a file
    * split Spark reads lines in offset order and the id ascends within a
    * partition, and a file's splits take partition indexes in offset
    * order — so `_line` ascends with the line's offset inside its file.
    * Only that per-file order is ever compared (`_src` first), so
    * (_src, _line) is a DETERMINISTIC per-record position, whatever the
    * layout after the spread. (A real Kinesis source would use the shard
    * sequence number here; the file stand-in uses file name + line.)
    * The spread is a round-robin shuffle to `defaultParallelism`
    * partitions: one inbox file is one scan task, and the parse and
    * typed-row casts are what cost.
    */
  private def sourced(spark: SparkSession, batch: DataFrame): DataFrame =
    batch
      .select(col("value"), input_file_name().as("_src"),
        monotonically_increasing_id().as("_line"))
      .repartition(spark.sparkContext.defaultParallelism)

  /** Distributed parse of a raw inbox batch into one row per Canal
    * envelope, tagged with its deterministic source position
    * ([[sourced]]) — the LAST-resort tiebreak for degenerate binlogs
    * whose events share both ts and event id.
    */
  private def parsedRecords(spark: SparkSession, batch: DataFrame): DataFrame = {
    import spark.implicits._
    sourced(spark, batch)
      .select(col("value").cast("string").as("value"), col("_src"),
        col("_line"))
      .as[(String, String, Long)]
      .flatMap { case (v, src, line) => CanalParser.parse(v).map(r =>
        (r.database, r.table, r.op, r.rows, r.ts, r.seq, src, line)) }
      .toDF("database", "table", "op", "rows", "ts", "seq", "_src", "_line")
  }

  /** Resolve the FINAL operation per key within the batch (binlog ts,
    * then binlog event id, then source position, then row index in the
    * envelope — deterministic under any partition layout), then apply
    * the batch as ONE upsert commit whose deletes are `_deleted` rows —
    * same contract as the DMS path: an insert→delete ends deleted, a
    * delete→re-insert survives, regardless of how ops interleave inside
    * one micro-batch. A batch that resolves to no ops adds no commit.
    * `recs` must already be scoped to ONE target table's envelopes.
    */
  private def routeFinalOps(spark: SparkSession, recs: DataFrame,
      table: LakeTable): Unit = {
    val keyFields = table.meta.recordKeyFields
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyFields.map(col): _*)
      .orderBy(col("_ts").desc, col("_seq").desc, col("_src").desc,
        col("_line").desc, col("_idx").desc)
    val finalOps = typedRows(spark, recs, table)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 &&
        col("_op").isin(CdcOp.Insert, CdcOp.Upsert, CdcOp.Delete))
      .withColumn(LakeTable.DeletedCol, col("_op") === CdcOp.Delete)
      .drop("_rn", "_op", "_ts", "_seq", "_src", "_line", "_idx")
    table.upsertNonEmpty(finalOps, combine = false)
    ()
  }

  def applyBatch(spark: SparkSession, batch: DataFrame, cfg: PipelineConfig,
      table: LakeTable): Unit = {
    var recs = parsedRecords(spark, batch)
    if (cfg.cdcTableFilter.nonEmpty) // package.scala:158 equality filter
      recs = recs.filter(col("table") === cfg.cdcTableFilter)
    routeFinalOps(spark, recs, table)
  }

  /** Multi-table fan-out (reference package.scala:145-183,
    * `writeMultiTable2HudiFromDF`): one inbox batch carrying MANY tables'
    * Canal envelopes — a whole-database binlog topic — routed to N lake
    * tables under `basePath/database/<table>`. The batch parses ONCE
    * (distributed, persisted across the per-table passes); the distinct
    * table list is the reference's `select("topic").distinct().collect()`
    * (SURVEY A4 — a bounded control-flow collect, O(tables) not O(rows));
    * each table resolves final ops and routes through the same keyed
    * write path as single-table mode, with key/partition metadata read
    * from the per-table properties file (TableMeta — the P14 substitution
    * for the reference's JDBC `getPrimaryAndPartitionKey`). Targets must
    * exist up front, exactly as the reference reads each target Hudi
    * table's schema before writing (package.scala:164-169).
    */
  def applyMultiTableBatch(spark: SparkSession, batch: DataFrame,
      cfg: PipelineConfig): Unit = {
    import spark.implicits._
    val recs = parsedRecords(spark, batch)
      .persist() // one parse feeds every per-table pass
    try {
      val tables = recs.select(col("table")).distinct()
        .as[String].collect().sorted
      tables.foreach { tn =>
        val path = s"${cfg.basePath}/${cfg.database}/$tn"
        require(LakeTable.exists(spark, path),
          s"multi-table CDC target $path does not exist; create the " +
            "table (schema + record key) before ingesting its binlog")
        routeFinalOps(spark, recs.filter(col("table") === tn),
          LakeTable.load(spark, path))
      }
    } finally { recs.unpersist(); () }
  }

  def run(spark: SparkSession, cfg: PipelineConfig): StreamingQuery = {
    // multi-table mode: targets are located per batch by envelope table
    // name under basePath/database/; no single table to prepare up front
    val table: Option[LakeTable] =
      if (cfg.cdcMultiTable) {
        require(cfg.basePath.nonEmpty,
          "multi-table CDC requires --base-path (targets live at " +
            "basePath/database/<table>)")
        None
      } else Some {
        val t = cfg.target(spark)
        require(t.userSchema.isDefined || cfg.sampleJson.nonEmpty,
          "CDC target needs an existing schema or --sample-json")
        if (t.userSchema.isEmpty) {
          // bootstrap schema from a sample row JSON (all-string Canal
          // payloads keep declared types via the sample's inferred schema)
          import spark.implicits._
          val inferred = spark.read.json(Seq(cfg.sampleJson).toDS())
          t.insert(inferred.limit(0))
        }
        t
      }
    val name = if (cfg.cdcMultiTable) s"cdc-multi-${cfg.database}"
      else s"cdc-${cfg.tableName}"
    // T4: per-batch progress logging (reference Log2Hudi.scala:40-48)
    graft.streaming.ProgressListener.attach(spark, name)
    spark.readStream.format("text").load(cfg.inboxDir)
      .writeStream
      .queryName(name)
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        table match {
          case None    => applyMultiTableBatch(spark, batch, cfg)
          case Some(t) =>
            if (cfg.cdcFormat == "dms") applyDmsBatch(spark, batch, t)
            else applyBatch(spark, batch, cfg, t)
        }
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("cdc-ingest")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, cfg).awaitTermination()
  }
}

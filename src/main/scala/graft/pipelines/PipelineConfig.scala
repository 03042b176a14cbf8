package graft.pipelines

import graft.lake.{LakeTable, TableMeta}
import org.apache.spark.sql.SparkSession

/** Shared CLI configuration for all pipeline programs — the engine's "API"
  * (reference conf/Config.scala:3-39: one ~30-field case class shared by
  * every main). Flags here are long-form only; the reference's duplicated
  * short flags (Config.scala:49-73) were a bug SURVEY §2.9 says not to
  * reproduce.
  */
case class PipelineConfig(
    env: String = "local",
    // streaming source stand-in (Kafka/Kinesis topic analog, SURVEY S1/S2)
    inboxDir: String = "",
    checkpointDir: String = "",
    triggerSeconds: Int = 300, // reference default, Config.scala:11
    startingOffsets: String = "earliest",
    sampleJson: String = "", // Log2Hudi schema-by-sample, Log2Hudi.scala:50
    // lake table target
    basePath: String = "",
    database: String = "default",
    tableName: String = "",
    tableType: String = "cow",
    recordKeyFields: Seq[String] = Seq.empty,
    precombineField: String = "created_ts",
    partitionFields: Seq[String] = Seq.empty,
    writeOperation: String = "upsert", // insert default in reference Config.scala:25
    repartitionNum: Int = 16, // reference Config.scala:20
    /** StreamIngest: run the table's one-call maintenance policy
      * ([[graft.lake.LakeTable.maintain]]) after every N non-empty
      * micro-batches — the auto-optimize knob of managed lakehouses.
      * 0 disables (reference behavior: services are scheduled
      * externally).
      */
    maintainEvery: Int = 0,
    // batch / incremental pipelines
    sourcePath: String = "",
    sourceTablePath: String = "",
    dimTablePath: String = "",
    targetTablePath: String = "",
    pollIntervalMs: Long = 30000L, // reference Config.scala:38
    maxIterations: Int = -1, // bounded loops for tests (SURVEY §7.4)
    /** OdsToDwd / DwdToDm: drive the hop's step from a Structured
      * Streaming query over the source table instead of the reference's
      * poll loop (T6). Each new source commit triggers the same
      * watermark-committed step the poll loop runs; only the pacing
      * differs.
      */
    streamingMode: Boolean = false,
    outputDir: String = "",
    limitRows: Int = -1,
    // OdsToDwd dim-join shape (reference ODS2DWD.scala:58-62)
    joinLeftKey: String = "",
    joinRightKey: String = "",
    dimSelect: Seq[String] = Seq.empty,
    dimDefault: String = "NA",
    // DwdToDm aggregation shape (reference DWD2DM.scala:32-34)
    aggKeys: Seq[String] = Seq.empty,
    aggCol: String = "",
    // CdcIngest source table filter (reference package.scala:158)
    cdcTableFilter: String = "",
    // CdcIngest envelope format: "canal" (binlog) | "dms" (KDS2Hudi shape)
    cdcFormat: String = "canal",
    /** CdcIngest: route a whole-database binlog inbox to N tables under
      * `basePath/database/<table>` (reference package.scala:145-183).
      */
    cdcMultiTable: Boolean = false,
    /** StreamIngest: when set, commit each batch's source end offsets to
      * `<dir>/<queryName>.offsets.json` — the consumer-group-commit
      * stand-in (reference KafkaOffsetCommitterListener + group.id,
      * Log2Hudi.scala:36,47-48; SURVEY T5). Empty disables.
      */
    offsetCommitDir: String = ""
) {
  def tablePath: String =
    if (targetTablePath.nonEmpty) targetTablePath
    else s"$basePath/$database/$tableName"

  /** The target lake table at [[tablePath]], created from this config's
    * key, precombine, partition and type settings when absent.
    */
  def target(spark: SparkSession): LakeTable =
    LakeTable.create(spark, tablePath, TableMeta(tableName, recordKeyFields,
      precombineField, partitionFields, tableType))
}

object PipelineConfig {

  /** Parse `--flag value` pairs. Comma lists for key/partition fields
    * (reference HudiConfig.scala:29, package.scala:24).
    */
  def parse(args: Array[String]): PipelineConfig = {
    var c = PipelineConfig()
    var i = 0
    def list(v: String): Seq[String] =
      v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    while (i + 1 < args.length) {
      val (k, v) = (args(i), args(i + 1))
      c = k match {
        case "--env"               => c.copy(env = v)
        case "--inbox-dir"         => c.copy(inboxDir = v)
        case "--checkpoint-dir"    => c.copy(checkpointDir = v)
        case "--trigger-seconds"   => c.copy(triggerSeconds = v.toInt)
        case "--maintain-every"    => c.copy(maintainEvery = v.toInt)
        case "--starting-offsets"  => c.copy(startingOffsets = v)
        case "--sample-json"       => c.copy(sampleJson = v)
        case "--base-path"         => c.copy(basePath = v)
        case "--database"          => c.copy(database = v)
        case "--table-name"        => c.copy(tableName = v)
        case "--table-type"        => c.copy(tableType = v)
        case "--record-key"        => c.copy(recordKeyFields = list(v))
        case "--precombine-field"  => c.copy(precombineField = v)
        case "--partition-fields"  => c.copy(partitionFields = list(v))
        case "--write-operation"   => c.copy(writeOperation = v)
        case "--repartition-num"   => c.copy(repartitionNum = v.toInt)
        case "--source-path"       => c.copy(sourcePath = v)
        case "--source-table-path" => c.copy(sourceTablePath = v)
        case "--dim-table-path"    => c.copy(dimTablePath = v)
        case "--target-table-path" => c.copy(targetTablePath = v)
        case "--poll-interval-ms"  => c.copy(pollIntervalMs = v.toLong)
        case "--max-iterations"    => c.copy(maxIterations = v.toInt)
        case "--streaming"         => c.copy(streamingMode = v.toBoolean)
        case "--output-dir"        => c.copy(outputDir = v)
        case "--limit-rows"        => c.copy(limitRows = v.toInt)
        case "--join-left-key"     => c.copy(joinLeftKey = v)
        case "--join-right-key"    => c.copy(joinRightKey = v)
        case "--dim-select"        => c.copy(dimSelect = list(v))
        case "--dim-default"       => c.copy(dimDefault = v)
        case "--agg-keys"          => c.copy(aggKeys = list(v))
        case "--agg-col"           => c.copy(aggCol = v)
        case "--cdc-table-filter"  => c.copy(cdcTableFilter = v)
        case "--cdc-format"        => c.copy(cdcFormat = v)
        case "--cdc-multi-table"   => c.copy(cdcMultiTable = v.toBoolean)
        case "--offset-commit-dir" => c.copy(offsetCommitDir = v)
        case other =>
          throw new IllegalArgumentException(s"unknown flag: $other")
      }
      i += 2
    }
    c
  }
}

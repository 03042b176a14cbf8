package graft.sources

import graft.lake.{LakeTable, TableMeta, Timeline}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** `spark.read.format("graft-lake")` / `df.write.format("graft-lake")` —
  * the ergonomic surface the reference uses against Hudi
  * (`spark.read.format("hudi").option(QUERY_TYPE...)`, ODS2DWD.scala:51-56;
  * `df.write.format("hudi").options(...)`, package.scala:71-73), mapped
  * onto [[LakeTable]].
  *
  * Read options (mirroring the reference's Hudi option names in spirit):
  *  - `query.type`: `snapshot` (default) | `incremental` | `changes`
  *    (CDC feed, [[graft.lake.LakeTable.changes]]) | `read_optimized`
  *  - `begin` / `end`: incremental/changes instant range `(begin, end]`
  *    (reference BEGIN/END_INSTANTTIME); `begin = "earliest"` from start
  *  - `as.of`: time travel to an instant (snapshot only)
  *
  * Write options (reference HudiConfig.scala:17-56 surface):
  *  - `operation`: `upsert` (default) | `insert` | `delete`
  *    (reference HudiOP.scala:4-7; default op is `insert` in the
  *    reference's Config.scala:25 — upsert here because it is the safe
  *    keyed default)
  *  - `table.name`, `recordkey.field` (comma list), `precombine.field`,
  *    `partition.fields` (comma list), `table.type` (`cow` | `mor`),
  *    `key.encoding` (`plain` | `padded`), `index.scope`
  *    (`global` | `partition`) — used when the table does not exist yet.
  *
  * The scan delegates to the LakeTable read path (commit-metadata file
  * index), so partition pruning and parquet pushdown behave exactly like
  * the library API; filters are additionally applied best-effort inside
  * the relation (Spark re-evaluates them above, correctness never depends
  * on the translation).
  */
class LakeDataSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def path(parameters: Map[String, String]): String =
    LakeDataSource.path(parameters)

  private def ensureTable(spark: SparkSession, p: String,
      parameters: Map[String, String],
      declared: Option[StructType]): LakeTable =
    LakeDataSource.ensureTable(spark, p, parameters, declared)

  private def queryDf(spark: SparkSession,
      parameters: Map[String, String]): DataFrame =
    LakeDataSource.queryDf(spark, parameters)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    LakeRelation(spark, () => queryDf(spark, parameters), None,
      parameters, this)
  }

  /** `CREATE TABLE t (cols...) USING graft-lake OPTIONS (...)` — the
    * SQL-managed table path (the reference reaches the same ergonomics
    * through Hive meta sync, HudiConfig.scala:38-44). The relation exposes
    * exactly the declared user columns (no meta columns), so `INSERT
    * INTO` / `INSERT OVERWRITE` / `SELECT` all line up with the DDL.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation = {
    val spark = sqlContext.sparkSession
    ensureTable(spark, path(parameters), parameters, Some(schema))
    LakeRelation(spark,
      () => queryDf(spark, parameters)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*),
      Some(schema), parameters, this)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    // SaveMode.Overwrite with no explicit operation = full replace, the
    // standard Spark overwrite contract; everything else defaults to the
    // safe keyed upsert
    val defaultOp = if (mode == SaveMode.Overwrite) "overwrite" else "upsert"
    LakeDataSource.runOperation(spark, parameters,
      parameters.getOrElse("operation", defaultOp), data)
    LakeRelation(spark, () => queryDf(spark, parameters), None,
      parameters, this)
  }

  /** The streaming SOURCE (`spark.readStream` on this format) over the
    * commit timeline: offsets are commit instants and every micro-batch
    * is an incremental read `(begin, end]`, so consumers get a real
    * change feed with checkpointed exactly-once progress. graft's own
    * consumers start it through [[graft.streaming.LakeFollow]], which
    * paces the reference's poll loop (T6, ODS2DWD.scala:64-71)
    * with Structured Streaming's triggers and checkpoint.
    *
    * Options: `start.at` = `earliest` (default — replay the whole
    * timeline) | `latest` (only commits after stream start) | an instant;
    * `query.type` = `incremental` (default — latest in-range row version
    * per key) | `changes` (the CDC feed: per-batch
    * insert/update_preimage/update_postimage/delete images,
    * [[graft.lake.LakeTable.changes]]). The schema is pinned at query
    * start; consumers lagging past the clean retention window fail
    * loudly (same contract as Hudi's incremental source).
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val t = LakeTable.load(sqlContext.sparkSession, path(parameters))
    val inferred =
      if (streamMode(parameters) == "changes") t.changesSchema
      else t.fullSchema
    (shortName(), schema.getOrElse(inferred))
  }

  private def streamMode(parameters: Map[String, String]): String =
    parameters.getOrElse("query.type", "incremental") match {
      case "changes"              => "changes"
      case "incremental" | "snapshot" => "incremental"
      case other => throw new IllegalArgumentException(
        s"unsupported streaming query.type $other")
    }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val p = path(parameters)
    val t = LakeTable.load(spark, p)
    val startAt = parameters.get("start.at") match {
      case None | Some("earliest") => ""
      case Some("latest")          => t.latestCommit.getOrElse("")
      case Some(instant)           => instant
    }
    new LakeStreamSource(spark, p, startAt, streamMode(parameters))
  }

  /** The streaming sink (`df.writeStream` on this format): a first-class
    * sink replacing the reference's hand-rolled foreachBatch → Hudi write
    * (Log2Hudi.scala:62-83, T1). Each micro-batch is one keyed commit;
    * the batch id is recorded in the commit's extra metadata, so a
    * checkpoint-replayed batch is detected and skipped — exactly-once on
    * top of the already-idempotent keyed upsert.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new LakeSink(sqlContext.sparkSession, parameters, this)
}

/** Option-surface helpers shared by the V1 provider above and the DSv2
  * provider ([[LakeDataSourceV2]]) — one parsing/creation/read-resolution
  * path, two API surfaces.
  */
object LakeDataSource {

  def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-lake requires a path (load(path) or option(\"path\", ...))"))

  /** Output shape of `query.type=history` / the `<table>.history`
    * metadata table (one row per active commit).
    */
  val HistorySchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("instant", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("operation", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("files_added", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("files_removed", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("rows_added", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("bytes_added", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType), nullable = true)))

  /** `<table>.partitions` metadata-table shape: one row per partition
    * dir with live-file/row/byte totals plus the MOR health counters
    * (outstanding delta files, tombstone rows) — the operational "which
    * partitions are big / skewed / owe compaction" view, derived from
    * commit metadata alone. `partition` is the raw hive-style dir
    * string (`""` for unpartitioned), so the view works for every
    * partition type without a per-table schema. `base_files` +
    * `delta_files` partition the live file count; `n_rows` and
    * `size_bytes` cover BOTH kinds (physical rows, tombstones
    * included) — on a MOR table with outstanding deltas the merged row
    * count differs; this view reports storage, the snapshot reports
    * data.
    */
  /** `<table>.files` metadata-table shape: the live file inventory
    * (path, partition, base/delta kind, rows, bytes, key range,
    * tombstones) — the Delta/Iceberg `.files` analog an operator reads
    * before reasoning about layout, and the programmatic surface behind
    * "which files does this snapshot touch". `as.of` lists a historical
    * snapshot's set.
    */
  val FilesSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("partition", org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("size_bytes", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("min_key", org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("max_key", org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("tombstone_rows", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType, nullable = true)))

  val PartitionsSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("partition", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("base_files", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("delta_files", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("size_bytes", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("tombstone_rows", org.apache.spark.sql.types.LongType, nullable = false)))

  /** Load the table, or create it from the option surface; a declared SQL
    * schema (CREATE TABLE cols) is captured as the user schema up front so
    * the table is fully typed before its first write.
    */
  def ensureTable(spark: SparkSession, p: String,
      parameters: Map[String, String],
      declared: Option[StructType]): LakeTable =
    if (LakeTable.exists(spark, p)) LakeTable.load(spark, p)
    else LakeTable.create(spark, p, TableMeta(
      name = parameters.getOrElse("table.name",
        p.substring(p.lastIndexOf('/') + 1)),
      recordKeyFields = parameters.getOrElse("recordkey.field",
        throw new IllegalArgumentException(
          "recordkey.field required to create a table"))
        .split(",").map(_.trim).toSeq,
      precombineField = parameters.getOrElse("precombine.field",
        throw new IllegalArgumentException(
          "precombine.field required to create a table")),
      partitionFields = parameters.get("partition.fields")
        .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty),
      tableType = parameters.getOrElse("table.type", "cow"),
      inlineCompactMax =
        parameters.getOrElse("compact.inline.max", "0").toInt,
      asyncCompact =
        parameters.getOrElse("compact.async", "false").toBoolean,
      inlineCompactMaxBytes =
        parameters.getOrElse("compact.inline.max.bytes", "0").toLong,
      schemaJson = declared.map(_.json).getOrElse(""),
      keyEncoding = parameters.getOrElse("key.encoding", "plain"),
      indexScope = parameters.getOrElse("index.scope", "global"),
      bucketCount = parameters.getOrElse("bucket.count", "0").toInt,
      // hidden partitioning: "dcol=days(src)[,dcol2=...]"
      partitionDerivations = parameters.get("partition.derive")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k.trim -> v.trim
        }.toMap).getOrElse(Map.empty)))

  /** The DataFrame a read under `parameters` resolves to right now. */
  def queryDf(spark: SparkSession,
      parameters: Map[String, String]): DataFrame = {
    val t = LakeTable.load(spark, path(parameters))
    parameters.getOrElse("query.type", "snapshot") match {
      case "incremental" =>
        t.incremental(
          parameters.getOrElse("begin", Timeline.Earliest),
          parameters.getOrElse("end", LakeTable.MaxInstant))
      case "changes" =>
        t.changes(
          parameters.getOrElse("begin", Timeline.Earliest),
          parameters.getOrElse("end", LakeTable.MaxInstant))
      case "history" =>
        // begin/end slice the view with the same (begin, end] semantics
        // as incremental/changes — previously silently ignored here, so
        // option("begin", i) on <table>.history returned full history
        val b0 = parameters.getOrElse("begin", Timeline.Earliest)
        val b = if (b0 == Timeline.Earliest) "" else b0
        val e = parameters.getOrElse("end", LakeTable.MaxInstant)
        val rows = t.history()
          .filter(h => h.instant > b && h.instant <= e)
          .map(h => org.apache.spark.sql.Row(
            h.instant, h.operation, h.filesAdded, h.filesRemoved,
            h.rowsAdded, h.bytesAdded, h.extra))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), LakeDataSource.HistorySchema)
      case "partitions" =>
        // bounded metadata (the live-file list), grouped driver-side —
        // the same cardinality the timeline itself holds
        val rows = t.timeline.liveFiles()
          .groupBy(_.partition).toSeq.sortBy(_._1)
          .map { case (part, fs) =>
            org.apache.spark.sql.Row(part,
              fs.count(!_.isDelta), fs.count(_.isDelta),
              fs.map(_.numRecords).sum, fs.map(_.sizeBytes).sum,
              fs.map(_.tombstones).sum)
          }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          LakeDataSource.PartitionsSchema)
      case "files" =>
        // the live file inventory (Delta/Iceberg `.files` shape) —
        // bounded metadata; `as.of` lists a historical snapshot's set
        val live = parameters.get("as.of") match {
          case Some(i) => t.timeline.liveFiles(i)
          case None    => t.timeline.liveFiles()
        }
        val rows = live.sortBy(_.path).map { f =>
          org.apache.spark.sql.Row(f.path, f.partition,
            if (f.isDelta) "delta" else "base",
            f.numRecords, f.sizeBytes, f.minKey, f.maxKey, f.tombstones,
            f.bucket.map(Integer.valueOf).orNull)
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          LakeDataSource.FilesSchema)
      case "read_optimized" => t.readOptimized()
      case "snapshot" | null =>
        parameters.get("as.of") match {
          case Some(i) => t.snapshotAsOf(i)
          case None    => t.snapshot()
        }
      case other =>
        throw new IllegalArgumentException(s"unknown query.type $other")
    }
  }

  /** Honest size/row statistics from commit metadata alone (no FS
    * access, timeline parses are cached): the live files' recorded bytes
    * and records. Without this, lake relations report Spark's
    * `defaultSizeInBytes` (≈ Long.Max) and a small dimension table NEVER
    * qualifies for a broadcast join — the single biggest plan decision
    * at scale. Conservative for sliced reads (incremental / as-of see
    * the full live size), which can only under-broadcast, never OOM.
    */
  def statsFor(spark: SparkSession,
      parameters: Map[String, String]): Option[(Long, Long)] =
    try {
      val p = path(parameters)
      if (!LakeTable.exists(spark, p)) None
      else {
        val live = LakeTable.load(spark, p).timeline.liveFiles()
        // files from pre-sizeBytes commits report 0 — treat the stat as
        // unavailable rather than claim a tiny table and mis-broadcast
        if (live.exists(f => f.sizeBytes <= 0L && f.numRecords > 0L)) None
        else Some((live.map(_.sizeBytes).sum, live.map(_.numRecords).sum))
      }
    } catch { case _: Exception => None }

  /** Apply batch `operation` semantics to `data` (shared by the V1
    * CreatableRelationProvider and the DSv2 V1Write fallback).
    */
  def runOperation(spark: SparkSession, parameters: Map[String, String],
      op: String, data: DataFrame): Unit = {
    val p = path(parameters)
    val table = ensureTable(spark, p, parameters, None)
    val extra: Map[String, String] = parameters.get("stream.extra")
      .map { kv =>
        val Array(k, v) = kv.split("=", 2); Map(k -> v)
      }.getOrElse(Map.empty)
    op match {
      case "upsert"    => table.upsert(data, extra = extra)
      case "insert"    => table.insert(data, extra = extra)
      case "delete"    => table.delete(data, extra = extra)
      case "overwrite" => table.overwrite(data, extra = extra)
      case other =>
        throw new IllegalArgumentException(s"unknown operation $other")
    }
    ()
  }
}

class LakeSink(spark: SparkSession, parameters: Map[String, String],
    provider: LakeDataSource) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val p = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-lake sink requires option(\"path\", ...)"))
    val key = LakeSink.batchKey(spark)
    if (LakeTable.exists(spark, p) &&
        LakeSink.applied(LakeTable.load(spark, p), key, batchId))
      return // replayed batch
    // the micro-batch frame is streaming-tagged — re-plan it as batch
    // rows, then reuse the batch write path (table creation + operation)
    val batchDf = org.apache.spark.sql.graft.ColumnBridge.asBatch(data)
    provider.createRelation(spark.sqlContext, SaveMode.Append,
      parameters + ("stream.extra" -> s"$key=$batchId"), batchDf)
    ()
  }
}

/** The exactly-once rule of a streaming write into a lake table, shared
  * by [[LakeSink]] and the foreachBatch writers (StreamIngest): each
  * micro-batch commit records its batch id in `extra`, and a batch whose
  * id is already recorded is a replay and writes nothing.
  */
object LakeSink {
  val BatchKeyPrefix = "stream.batch.id"

  /** The commit-extra key the running query records its batch ids under,
    * `stream.batch.id.<query id>`. Namespacing by query id keeps two
    * streams into one table from eating each other's batch ids, and
    * keeps a checkpoint reset (batch ids restart at 0) from silently
    * dropping live batches against a stale global watermark. The id
    * comes from the checkpoint's metadata file: the same across restarts
    * of one checkpoint, fresh after a checkpoint wipe. Spark sets it on
    * the query's batch thread, so call this from there.
    */
  def batchKey(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution
        .QUERY_ID_KEY))
      .fold(BatchKeyPrefix)(q => s"$BatchKeyPrefix.$q")

  /** Has `t` already committed stream batch `batchId` under `key`? True
    * for a batch Spark re-runs because its checkpoint commit was lost.
    */
  def applied(t: LakeTable, key: String, batchId: Long): Boolean =
    t.timeline.instants().reverseIterator
      .map(t.timeline.read).flatMap(_.extra.get(key)).nextOption()
      .exists(_.toLong >= batchId)
}

/** Streaming-source offset: a committed instant (zero-padded epoch
  * millis, so lexicographic order == commit order).
  */
case class LakeSourceOffset(instant: String)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String = instant
}

/** v1 streaming Source over a lake table's timeline. `getOffset` reports
  * the latest committed instant; `getBatch` serves
  * `incremental(begin, end]`, eagerly batch-planned and re-tagged as a
  * streaming frame (see ColumnBridge.asStreamBatch — the MOR in-range
  * key resolution must stay a BATCH aggregation, not become a
  * state-store streaming agg). After a restart the engine replays
  * offsets as `SerializedOffset`, so offsets are only ever compared via
  * `json` — never by class.
  */
class LakeStreamSource(spark: SparkSession, path: String, startAt: String,
    mode: String = "incremental") extends Source {

  private val table = LakeTable.load(spark, path)

  override val schema: StructType =
    if (mode == "changes") table.changesSchema else table.fullSchema

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] =
    table.latestCommit.filter(_ > startAt).map(LakeSourceOffset(_))

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): org.apache.spark.sql.DataFrame = {
    val begin0 = start.map(_.json).getOrElse(startAt)
    val begin = if (begin0.isEmpty) Timeline.Earliest else begin0
    val batch =
      if (mode == "changes") table.changes(begin, end.json)
      else table.incremental(begin, end.json)
    org.apache.spark.sql.graft.ColumnBridge.asStreamBatch(batch)
  }

  override def stop(): Unit = ()
}

/** BaseRelation over a LakeTable read. `mkDf` re-plans the query at every
  * scan, so catalog tables always serve the latest committed snapshot
  * (the stateless-relation contract SQL `INSERT INTO` depends on — the
  * session catalog caches the relation object across statements).
  * buildScan applies pruning/filters onto that plan; `needConversion =
  * false` hands Spark the InternalRow RDD directly (no per-row
  * conversion). `declared` (SQL-managed tables) pins the schema to the
  * DDL columns; without it the full table schema (meta columns included)
  * is exposed.
  */
case class LakeRelation(spark: SparkSession, mkDf: () => DataFrame,
    declared: Option[StructType], params: Map[String, String],
    provider: LakeDataSource)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  override def sqlContext: SQLContext = spark.sqlContext
  override lazy val schema: StructType = declared.getOrElse(mkDf().schema)

  override def needConversion: Boolean = false

  /** Commit-metadata size stats → join-side decisions (broadcast) work
    * for lake tables exactly as for parquet ones.
    */
  override def sizeInBytes: Long =
    LakeDataSource.statsFor(spark, params).map(_._1)
      .getOrElse(super.sizeInBytes)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val df = mkDf()
    val pruned =
      if (requiredColumns.isEmpty) df
      else df.select(requiredColumns.toIndexedSeq.map(col): _*)
    // best-effort pushdown; untranslated filters are re-applied by Spark
    val filtered = filters.flatMap(LakeV2Scan.translate).foldLeft(pruned)(_.filter(_))
    filtered.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  /** SQL `INSERT INTO` (keyed upsert — or the operation option) and
    * `INSERT OVERWRITE` (atomic full replace) against the catalog table.
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    val op =
      if (overwrite) "overwrite" else params.getOrElse("operation", "upsert")
    provider.createRelation(spark.sqlContext, SaveMode.Append,
      params + ("operation" -> op), data)
    ()
  }
}

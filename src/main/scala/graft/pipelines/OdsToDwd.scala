package graft.pipelines

import graft.lake.{LakeTable, TableMeta}
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ODS → DWD: poll-loop incremental read + dim enrichment join + keyed
  * upsert (reference ODS2DWD.scala:22-81).
  *
  * Differences from the reference, on purpose:
  *  - the dim snapshot is re-read every iteration (the reference caches a
  *    stale temp view for the life of the loop — SURVEY §3.2 footgun);
  *  - the incremental begin-watermark is persisted in the DWD commit
  *    (`extra`), so a crash between read and write cannot double-apply;
  *  - the loop is bounded by `--max-iterations` for testability (T6).
  *
  * Scale: the dim side is broadcast (small dimension table, reference
  * relies on CBO for the same plan, SparkHelper.scala:18); the incremental
  * read only opens files added in `(begin, end]`.
  */
object OdsToDwd {

  val WatermarkKey = "ods.watermark"

  def resumeWatermark(dwd: LakeTable): String =
    // visibleInstants, not instants: an in-doubt multi-table prepare's
    // watermark must not be resumed from until its txn commits
    dwd.timeline.visibleInstants().reverse.iterator
      .map(dwd.timeline.read)
      .flatMap(_.extra.get(WatermarkKey))
      .nextOption()
      .getOrElse("earliest")

  def iteration(spark: SparkSession, cfg: PipelineConfig, ods: LakeTable,
      dwd: LakeTable, begin: String): String = {
    val end = ods.latestCommit.getOrElse(return begin)
    if (begin == end) return begin
    val inc = ods.incremental(begin, end).drop("_record_key")
    if (inc.isEmpty) return end
    val dimDf =
      if (LakeTable.exists(spark, cfg.dimTablePath))
        LakeTable.load(spark, cfg.dimTablePath).snapshotUser()
      else spark.read.parquet(cfg.dimTablePath)
    val enrichCols = cfg.dimSelect.map(c =>
      coalesce(col(c), lit(cfg.dimDefault)).as(c)) // nvl defaults, P13
    // Precombine for the DWD upsert preserves the SOURCE commit ordering
    // (the ODS `_commit_time` of each row) rather than a per-batch
    // constant: if one batch carries several source commits, or a batch
    // is replayed, the downstream max-precombine merge still resolves
    // deterministically to the newest source version.
    val joined = inc
      .join(broadcast(dimDf.select((cfg.joinRightKey +: cfg.dimSelect).distinct.map(col): _*)),
        inc(cfg.joinLeftKey) === dimDf(cfg.joinRightKey), "left") // J1
      .select(inc.columns.map(inc(_)).toIndexedSeq ++ enrichCols: _*)
      .withColumn(cfg.precombineField, col(LakeTable.CommitTimeCol).cast("long"))
      // ODS deletes are not propagated (reference ODS2DWD): the feed's
      // `_deleted` flag must not reach the DWD upsert as a delete row
      .drop(LakeTable.CommitTimeCol, LakeTable.DeletedCol)
    dwd.upsert(joined, extra = Map(WatermarkKey -> end))
    end
  }

  /** The same hop as ONE Structured Streaming query: lake change-feed
    * source → stream-static broadcast dim join → keyed lake sink.
    * Replaces the hand-rolled poll loop with checkpointed exactly-once
    * progress (offsets = ODS commits; the sink's per-query batch-id
    * watermark absorbs replays). Trade-off vs [[run]]: the dim SNAPSHOT
    * is pinned at stream start (stream-static joins re-execute a fixed
    * static plan per micro-batch) — restart the query to refresh the
    * dim; the poll loop re-reads it every iteration instead.
    */
  def runStreaming(spark: SparkSession,
      cfg: PipelineConfig): org.apache.spark.sql.streaming.StreamingQuery = {
    val dimDf =
      if (LakeTable.exists(spark, cfg.dimTablePath))
        LakeTable.load(spark, cfg.dimTablePath).snapshotUser()
      else spark.read.parquet(cfg.dimTablePath)
    val dimSel =
      dimDf.select((cfg.joinRightKey +: cfg.dimSelect).distinct.map(col): _*)
    val enrichCols = cfg.dimSelect.map(c =>
      coalesce(col(c), lit(cfg.dimDefault)).as(c)) // nvl defaults, P13
    val src = spark.readStream.format("graft-lake")
      .load(cfg.sourceTablePath)
      .drop(LakeTable.RecordKeyCol)
    val userCols = src.columns.filterNot(c =>
      c == LakeTable.CommitTimeCol || c == LakeTable.DeletedCol)
    val joined = src
      .join(broadcast(dimSel),
        src(cfg.joinLeftKey) === dimSel(cfg.joinRightKey), "left") // J1
      .select(userCols.map(src(_)).toIndexedSeq ++ enrichCols :+
        src(LakeTable.CommitTimeCol): _*)
      // source-commit-time precombine, same rationale as [[iteration]]
      .withColumn(cfg.precombineField, col(LakeTable.CommitTimeCol).cast("long"))
      .drop(LakeTable.CommitTimeCol)
    graft.streaming.ProgressListener.attach(spark, s"ods2dwd-${cfg.tableName}")
    joined.writeStream.format("graft-lake")
      .queryName(s"ods2dwd-${cfg.tableName}")
      .option("checkpointLocation", cfg.checkpointDir)
      .option("path", cfg.tablePath)
      .option("recordkey.field", cfg.recordKeyFields.mkString(","))
      .option("precombine.field", cfg.precombineField)
      .option("partition.fields", cfg.partitionFields.mkString(","))
      .option("table.type", cfg.tableType)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"${cfg.triggerSeconds} seconds"))
      .start()
  }

  def run(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val ods = LakeTable.load(spark, cfg.sourceTablePath)
    val dwd = LakeTable.create(spark, cfg.tablePath,
      TableMeta(cfg.tableName, cfg.recordKeyFields, cfg.precombineField,
        cfg.partitionFields, cfg.tableType))
    var begin = resumeWatermark(dwd) // reference: max(_hoodie_commit_time)
    var iter = 0
    while (cfg.maxIterations < 0 || iter < cfg.maxIterations) { // T6
      if (iter > 0) Thread.sleep(cfg.pollIntervalMs)
      begin = iteration(spark, cfg, ods, dwd, begin)
      iter += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("ods-to-dwd")
    spark.sparkContext.setLogLevel("WARN")
    if (cfg.streamingMode) runStreaming(spark, cfg).awaitTermination() // T7
    else { run(spark, cfg); spark.stop() }
  }
}

package graft.pipelines

import graft.lake.LakeTable
import graft.streaming.LakeFollow
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._

/** ODS → DWD: poll-loop incremental read + dim enrichment join + keyed
  * upsert (reference ODS2DWD.scala:22-81).
  *
  * Differences from the reference, on purpose:
  *  - the dim snapshot is re-read every iteration (the reference caches a
  *    stale temp view for the life of the loop — SURVEY §3.2 footgun);
  *  - the incremental begin-watermark is persisted in the DWD commit
  *    (`extra`), so a crash between read and write cannot double-apply;
  *  - the loop is bounded by `--max-iterations` for testability (T6);
  *  - `--streaming true` runs the same [[iteration]] on every new ODS
  *    commit instead of on a timer ([[runStreaming]]).
  *
  * Scale: the dim side is broadcast (small dimension table, reference
  * relies on CBO for the same plan, SparkHelper.scala:18); the incremental
  * read only opens files added in `(begin, end]`.
  */
object OdsToDwd {

  val WatermarkKey = "ods.watermark"

  def resumeWatermark(dwd: LakeTable): String =
    committedWatermark(dwd, WatermarkKey).getOrElse("earliest")

  /** The newest watermark a hop committed under `key` on `t` (shared
    * with [[DwdToDm.resumeWatermark]]). Visible instants only: an
    * in-doubt multi-table prepare's watermark must not be resumed from
    * until its txn commits.
    */
  private[pipelines] def committedWatermark(t: LakeTable,
      key: String): Option[String] =
    t.timeline.visibleInstants().reverse.iterator
      .map(t.timeline.read)
      .flatMap(_.extra.get(key))
      .nextOption()

  def iteration(spark: SparkSession, cfg: PipelineConfig, ods: LakeTable,
      dwd: LakeTable, begin: String): String = {
    val end = ods.latestCommit.getOrElse(return begin)
    if (begin == end) return begin
    val inc = ods.incremental(begin, end).drop("_record_key")
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
    // an empty increment commits nothing (the upsert's bounds pass
    // decides it — no separate emptiness probe re-running the increment)
    dwd.upsertNonEmpty(joined, combine = true, extra = Map(WatermarkKey -> end))
    end
  }

  /** The same hop as one Structured Streaming query: every new ODS
    * commit triggers [[iteration]] from the last committed
    * `ods.watermark`, so the streaming and poll-loop modes share one
    * step (the per-iteration dim re-read, the watermark committed with
    * the DWD upsert). The checkpoint only paces the triggers: a batch
    * Spark replays finds nothing past the watermark.
    */
  def runStreaming(spark: SparkSession, cfg: PipelineConfig): StreamingQuery = {
    val ods = LakeTable.load(spark, cfg.sourceTablePath)
    val dwd = cfg.target(spark)
    LakeFollow.start(spark, s"ods2dwd-${cfg.tableName}",
        Seq(cfg.sourceTablePath), cfg.checkpointDir, cfg.triggerSeconds) {
      (_, _) => iteration(spark, cfg, ods, dwd, resumeWatermark(dwd)); ()
    }
  }

  def run(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val ods = LakeTable.load(spark, cfg.sourceTablePath)
    val dwd = cfg.target(spark)
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

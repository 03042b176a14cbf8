package graft.pipelines

import graft.lake.{LakeTable, TxnGroup}
import graft.streaming.LakeFollow
import graft.util.Sessions
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** DWD → DM: incremental aggregation with additive merge (reference
  * DWD2DM.scala:22-97) — manual incremental-view maintenance:
  * `new_total = delta_sum + nvl(old_total, 0)`.
  *
  * Replay safety (SURVEY §7 hard part 5): the reference double-counts if
  * a delta batch is re-applied after a crash. Here the begin-watermark is
  * committed atomically with the DM upsert (`extra`), and resume reads it
  * back from the timeline. The poll loop ([[run]]), the streaming mode
  * ([[runStreaming]]) and [[MultiMartHop]] all run the one [[step]];
  * they differ in pacing and in how the mart upserts commit.
  *
  * Scale: the delta aggregation is a partial (map-side combined) hash agg
  * over only the incremental files; the merge join touches the DM table
  * keyed by the grouping columns — both shuffle-bounded by delta size,
  * not table size.
  */
object DwdToDm {

  val WatermarkKey = "dwd.watermark"
  private val dec = DecimalType(27, 2)

  private def sumName(cfg: PipelineConfig) = s"${cfg.aggCol}_sum"

  def aggregate(df: DataFrame, cfg: PipelineConfig): DataFrame =
    df.groupBy(cfg.aggKeys.map(col): _*)
      .agg(sum(col(cfg.aggCol).cast(dec)).as(sumName(cfg))) // A1

  def resumeWatermark(dm: LakeTable): Option[String] =
    OdsToDwd.committedWatermark(dm, WatermarkKey)

  /** Delta agg ⟕ current DM, additive merge (DWD2DM.scala:75-79). */
  def merge(delta: DataFrame, current: DataFrame, cfg: PipelineConfig): DataFrame = {
    val s = sumName(cfg)
    delta.as("i")
      .join(current.select((cfg.aggKeys :+ s).map(col): _*).as("c"),
        cfg.aggKeys, "left") // J2 composite-key left join
      .select(
        cfg.aggKeys.map(col) :+
          (col(s"i.$s") + coalesce(col(s"c.$s"), lit(0).cast(dec))).as(s): _*)
  }

  def iteration(spark: SparkSession, cfg: PipelineConfig, dwd: LakeTable,
      dm: LakeTable, begin: String): String =
    step(dwd, Seq(cfg -> dm), begin)(upsertEach)

  /** The hop's step over one or more marts: each mart's additive merge of
    * the DWD increment `(begin, latest]`, handed to `commit` with the
    * watermark in every upsert's extra. Returns the next begin.
    */
  private[pipelines] def step(dwd: LakeTable,
      marts: Seq[(PipelineConfig, LakeTable)], begin: String)(
      commit: Seq[TxnGroup.TxnUpsert] => Unit): String = {
    val end = dwd.latestCommit.getOrElse(return begin)
    if (begin == end) return begin
    val inc = dwd.incremental(begin, end).drop("_record_key", "_commit_time")
    // precombine = the source watermark instant: monotone across
    // iterations and identical on replay of the same delta, so a crashed
    // and re-run iteration converges instead of racing wall-clock. An
    // empty increment commits nothing ([[upsertEach]], [[MultiMartHop]]).
    commit(marts.map { case (cfg, dm) =>
      val merged = merge(aggregate(inc, cfg), dm.snapshotUser(), cfg)
        .withColumn(cfg.precombineField, lit(end.toLong))
      TxnGroup.TxnUpsert(dm, merged, combine = !keyUnique(cfg, dm),
        extra = Map(WatermarkKey -> end))
    })
    end
  }

  /** A mart whose record key IS its grouping key gets exactly one row
    * per key from the aggregation, so its upserts skip the within-batch
    * combine — the `combine = false` contract [[CdcIngest]] uses.
    */
  private def keyUnique(cfg: PipelineConfig, dm: LakeTable): Boolean =
    dm.meta.recordKeyFields.toSet == cfg.aggKeys.toSet

  /** Where the hop resumes: the marts' committed watermark (they commit
    * together, so the head's speaks for all), or on first start the init
    * aggregation (DWD2DM.scala:28-41) handed to `commit`. The init is
    * pinned to the recorded watermark: aggregating the LIVE snapshot
    * would include a DWD commit landing between latestCommit and the
    * scan, which the next incremental(begin = end) re-reads — double
    * count.
    */
  private[pipelines] def resume(dwd: LakeTable,
      marts: Seq[(PipelineConfig, LakeTable)])(
      commit: Seq[TxnGroup.TxnUpsert] => Unit): String =
    resumeWatermark(marts.head._2).getOrElse {
      val end = dwd.latestCommit.getOrElse("earliest")
      if (end != "earliest") {
        val snap = dwd.snapshotAsOf(end)
          .drop(LakeTable.RecordKeyCol, LakeTable.CommitTimeCol)
        commit(marts.map { case (cfg, dm) =>
          TxnGroup.TxnUpsert(dm, aggregate(snap, cfg)
            .withColumn(cfg.precombineField, lit(end.toLong)),
            combine = !keyUnique(cfg, dm), extra = Map(WatermarkKey -> end))
        })
      }
      end
    }

  /** A single mart's commit: its own upsert, no transaction; a mart
    * whose batch has no rows commits nothing.
    */
  private val upsertEach: Seq[TxnGroup.TxnUpsert] => Unit =
    _.foreach(u => u.table.upsertNonEmpty(u.data, u.combine, u.extra))

  /** The hop as a stream: every new DWD commit resumes the marts from
    * their committed watermark and steps them to the head — the same
    * [[step]] as the poll loop, so a batch Spark replays finds nothing
    * past the watermark. `head` names the source, checkpoint and trigger.
    */
  private[pipelines] def follow(spark: SparkSession, name: String,
      head: PipelineConfig, marts: Seq[(PipelineConfig, LakeTable)])(
      commit: Seq[TxnGroup.TxnUpsert] => Unit): StreamingQuery = {
    val dwd = LakeTable.load(spark, head.sourceTablePath)
    LakeFollow.start(spark, name, Seq(head.sourceTablePath),
        head.checkpointDir, head.triggerSeconds) {
      (_, _) => step(dwd, marts, resume(dwd, marts)(commit))(commit); ()
    }
  }

  /** [[run]] driven by new DWD commits instead of a timer ([[follow]]). */
  def runStreaming(spark: SparkSession, cfg: PipelineConfig): StreamingQuery =
    follow(spark, s"dwd2dm-${cfg.tableName}", cfg,
      Seq(cfg -> cfg.target(spark)))(upsertEach)

  def run(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val dwd = LakeTable.load(spark, cfg.sourceTablePath)
    val dm = cfg.target(spark)
    var begin = resume(dwd, Seq(cfg -> dm))(upsertEach)
    var iter = 0
    while (cfg.maxIterations < 0 || iter < cfg.maxIterations) { // T6
      if (iter > 0) Thread.sleep(cfg.pollIntervalMs)
      begin = iteration(spark, cfg, dwd, dm, begin)
      iter += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("dwd-to-dm")
    spark.sparkContext.setLogLevel("WARN")
    if (cfg.streamingMode) runStreaming(spark, cfg).awaitTermination() // T7
    else { run(spark, cfg); spark.stop() }
  }
}

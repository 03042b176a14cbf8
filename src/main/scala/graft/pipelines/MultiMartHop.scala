package graft.pipelines

import graft.lake.TxnGroup
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DWD → N marts under ONE transaction per micro-batch — the
  * reference's DWD2DM loop (reference DWD2DM.scala:54-85) at streaming
  * cadence, made atomic across marts.
  *
  * Every new DWD commit runs the [[DwdToDm]] hop's own step over all
  * marts ([[DwdToDm.follow]]): one additive merge per mart (each mart
  * has its own grouping keys) of the increment past the marts' shared
  * watermark, or the init aggregation on first start. The only
  * difference from [[DwdToDm.runStreaming]] is the commit: ALL mart
  * upserts commit through [[TxnGroup.commit]] with the shared source
  * watermark riding every prepare's extra (an empty increment commits
  * nothing, as a single mart's upsert does). Consequences:
  *
  *  - a crash anywhere inside the batch — including BETWEEN two marts'
  *    prepares, the reference's torn-write window (SURVEY hard part #5)
  *    — leaves every mart's visible state and watermark at the previous
  *    batch: the restarted step resumes from that watermark and
  *    converges with no double count on ANY mart;
  *  - after the decision, all marts advance together — a consumer
  *    joining two marts never observes one post-batch and one pre-batch.
  *
  * Prepares inside the commit run in parallel (TxnGroup), so the hop's
  * per-batch wall is ~the slowest single mart merge, not the sum.
  *
  * Startup runs [[LakeTable.recoverTxns]] on every mart: a previous
  * run's crashed in-doubt prepares (stale reservations) abort and roll
  * back before the first batch; a still-live writer's prepares are left
  * alone and this run's first commit fails its OCC check instead —
  * fencing, not laundering.
  *
  * Scale: per batch, each mart's delta agg is a map-side-combined hash
  * agg over the increment only, the merge join is keyed by the mart's
  * grouping columns, and the 2PC adds one tiny decision record — no
  * cross-mart data movement.
  */
object MultiMartHop {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Start the hop. Every element of `marts` names its own target table
    * (`targetTablePath`/`tableName`) and aggregation shape
    * (`aggKeys`/`aggCol`); the source, checkpoint, trigger, and
    * maintenance cadence (`maintainEvery` — run each mart's one-call
    * `maintain()` after every N committed steps, 0 disables; the
    * StreamIngest auto-optimize knob) come from the head config.
    */
  def runStreaming(spark: SparkSession, marts: Seq[PipelineConfig])
      : StreamingQuery = {
    require(marts.nonEmpty, "need at least one mart")
    require(marts.map(_.tablePath).distinct.size == marts.size,
      "each mart needs its own table path")
    val maintainEvery = marts.head.maintainEvery
    val batchesSinceMaintain = new java.util.concurrent.atomic.AtomicInteger(0)
    val tables = marts.map(_.target(spark))
    tables.foreach(_.recoverTxns())
    DwdToDm.follow(spark, "multimart-hop", marts.head, marts.zip(tables)) {
      // every mart aggregates the same increment, so the first mart's
      // batch speaks for all: an empty increment commits nothing
      ops => if (!ops.head.data.isEmpty) {
        TxnGroup.commit(ops)
        // auto-maintenance OUTSIDE the transaction (services are
        // per-table housekeeping commits, never txn participants) and
        // BEST-EFFORT: the batch is already committed, so a housekeeping
        // failure must not abort the stream
        if (maintainEvery > 0 &&
            batchesSinceMaintain.incrementAndGet() >= maintainEvery) {
          batchesSinceMaintain.set(0)
          tables.foreach { dm =>
            try { dm.maintain(); () }
            catch {
              case scala.util.control.NonFatal(e) => log.warn(
                s"maintain() failed on ${dm.path} (batch already " +
                  s"committed; will retry next cadence)", e)
            }
          }
        }
      }
    }
  }

  /** Parse the `name:aggKey[+aggKey...]:aggCol[,name:...]` marts spec
    * into per-mart configs under `base` (shared by [[main]] and the
    * `LakeCli multimart` subcommand). Record keys default to the
    * grouping keys (one row per group).
    */
  private[graft] def parseMarts(base: PipelineConfig,
      spec: String): Seq[PipelineConfig] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).map { m =>
      val Array(name, keys, aggCol) = m.split(":")
      val aggKeys = keys.split("\\+").toSeq
      base.copy(tableName = name, targetTablePath = s"${base.basePath}/$name",
        recordKeyFields = aggKeys, aggKeys = aggKeys, aggCol = aggCol)
    }.toSeq

  /** CLI: `--source-table-path <dwd> --base-path <root> --checkpoint-dir
    * <ckpt> --marts name:aggKey[+aggKey...]:aggCol[,name:...]`.
    */
  def main(args: Array[String]): Unit = {
    val (martArg, rest) = {
      val i = args.indexOf("--marts")
      require(i >= 0 && i + 1 < args.length, "--marts is required")
      (args(i + 1), args.patch(i, Nil, 2))
    }
    val marts = parseMarts(PipelineConfig.parse(rest), martArg)
    val spark = Sessions.local("multimart-hop")
    spark.sparkContext.setLogLevel("WARN")
    runStreaming(spark, marts).awaitTermination()
  }
}

package graft.util

import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** How a query materializes its intermediates and scopes execution
  * settings — one place for the three jobs the query layer repeats:
  *
  *  - [[releaseAfter]] (and [[onFirstUse]]'s `release`): the result is
  *    small and was built from large PERSISTED intermediates. Checkpoint
  *    the result eagerly and unpersist the intermediates, so a
  *    long-lived session does not pin cache blocks per query.
  *  - [[spread]]: a frame feeds several consumers, so materialize it
  *    once; when the checkpoint landed narrower than the consumers' fan
  *    width (a byte-tiny exchange that AQE coalesced), spread it back
  *    out so the CPU-dense stage downstream is not serialized.
  *  - [[scopedLoop]]: an iterative loop over a graph-sized frame that
  *    checkpoints each round. AQE adds one scheduler job per exchange,
  *    pure framework overhead at this size, so the loop runs with AQE
  *    off at a width sized to the graph — on a clone of the session,
  *    never by writing the caller's (shared) SQLConf.
  */
object Materialize {

  /** Session conf: explain-only mode. The eager checkpoint of
    * [[releaseAfter]] both EXECUTES the query during plan construction
    * and truncates the dumped plan to a "Scan ExistingRDD" stub; a
    * plan-dump tool ([[graft.tools.ExplainDump]]) or a plan-shape test
    * sets this to keep the full lazy operator tree (caches also stay
    * pinned — such a session is short-lived). Never set on a timed or
    * correctness path.
    */
  val ExplainOnlyConf = "spark.graft.explainOnly"

  /** Materialize `result` eagerly (localCheckpoint), then drop the
    * backing caches. The cache manager pins persisted plans until
    * explicitly unpersisted, so a long-lived session (correctness
    * runner, notebook) running these queries repeatedly would otherwise
    * accumulate cached intermediate state forever; the checkpointed
    * result instead owns its own blocks, which the ContextCleaner
    * reclaims when the frame is dropped. Intended for small results
    * (pair lists, drop lists) over large cached intermediates. When
    * nothing is actually persisted (the staged-parquet paths) this is a
    * lazy pass-through.
    */
  private[graft] def releaseAfter(result: DataFrame, cached: DataFrame*): DataFrame = {
    if (result.sparkSession.conf.getOption(ExplainOnlyConf).contains("true"))
      return result
    val live = cached.filter(_.storageLevel != StorageLevel.NONE)
    if (live.isEmpty) result
    else try result.localCheckpoint(true) finally live.foreach(_.unpersist(false))
  }

  /** A frame persisted the first time it is used. For an input that
    * only some paths read (a staged index can serve the query without
    * it): `release` is [[releaseAfter]] when the frame was forced and a
    * pass-through otherwise.
    */
  private[graft] final class OnFirstUse(make: => DataFrame) {
    private var forced: Option[DataFrame] = None
    def apply(): DataFrame = forced.getOrElse {
      val df = make.persist(StorageLevel.MEMORY_AND_DISK)
      forced = Some(df)
      df
    }
    def release(result: DataFrame): DataFrame =
      releaseAfter(result, forced.toSeq: _*)
  }

  private[graft] def onFirstUse(make: => DataFrame): OnFirstUse =
    new OnFirstUse(make)

  /** Checkpoint `df`; if it landed on fewer than `width` partitions,
    * spread it round-robin to `width` and checkpoint that. At scale the
    * frame materializes wide on its own and passes through unshuffled.
    */
  private[graft] def spread(df: DataFrame, width: Int): DataFrame = {
    val c = df.localCheckpoint(true)
    if (c.rdd.getNumPartitions >= width) c
    else c.repartition(width).localCheckpoint(true)
  }

  /** Run `body` over `input` with AQE off and every implicit exchange at
    * `width` (spark.sql.shuffle.partitions). The body runs on a clone of
    * `input`'s session — it inherits the caller's runtime confs (stage
    * dir, thresholds) — and sees `input` rebound to that clone; its
    * result is rebound to the caller's session, so whatever the caller
    * builds on it plans under the caller's own settings. The caller's
    * SQLConf is never written, so a concurrent query on the same
    * session never sees the loop's settings.
    *
    * `width` should come from a MEASURED size (e.g. the checkpointed
    * edge count): AQE off alone would run the implicit exchanges at the
    * session's corpus-scale width.
    */
  private[graft] def scopedLoop(input: DataFrame, width: Int)(
      body: DataFrame => DataFrame): DataFrame = {
    val caller: SparkSession = input.sparkSession
    val scoped = SessionBridge.cloneOf(caller)
    scoped.conf.set("spark.sql.adaptive.enabled", "false")
    scoped.conf.set("spark.sql.shuffle.partitions", width.toString)
    SessionBridge.rebind(body(SessionBridge.rebind(input, scoped)), caller)
  }
}

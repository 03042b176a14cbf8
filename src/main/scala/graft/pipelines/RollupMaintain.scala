package graft.pipelines

import graft.lake.LakeTable
import graft.streaming.LakeFollow
import graft.util.Generations
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Incremental view maintenance (IVM) over the lake CDC feed: a
  * sum/count rollup kept current by applying each commit range's CHANGE
  * IMAGES instead of recomputing from the snapshot. The change feed's
  * four image types map to signed contributions — `insert` /
  * `update_postimage` add, `delete` / `update_preimage` subtract — so
  * `state ⊕ delta(changes(a, b)) = fullState(snapshot@b)` for any
  * committed range: the algebra the oracle query and the specs pin.
  *
  * Why this matters at 100 TB: a nightly rollup over a petabyte table
  * rescans the world; this maintains it with O(changed rows) work per
  * advance — the change feed is already pruned to touched file groups
  * ([[LakeTable.changes]]), the delta aggregate combines map-side, and
  * the state join is rollup-sized (groups, not rows).
  *
  * Sums use DECIMAL so maintained state is EXACTLY equal to a fresh
  * recompute (float addition order would differ between the two paths).
  *
  * Persisted form ([[advance]]): [[Generations]] named
  * `gen_<instant>` (the instant the state is current AS OF); a new
  * advance folds `changes(cur, latest)` into the next generation and
  * sweeps the others after. Calling advance twice (or replaying after a
  * crash between write and sweep) is a no-op — the generation name IS
  * the watermark.
  */
object RollupMaintain {

  private val Dec = "decimal(28,2)"

  /** The maintained rollup, computed fresh from a snapshot. */
  def fullState(snapshot: DataFrame, groupCols: Seq[String],
      value: Column): DataFrame =
    snapshot.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(value.cast(Dec)).cast(Dec).as("sum_v"))

  /** Signed per-group delta from a change-image frame. */
  def delta(changes: DataFrame, groupCols: Seq[String],
      value: Column): DataFrame = {
    val sign = when(col(LakeTable.ChangeTypeCol)
      .isin("insert", "update_postimage"), 1L).otherwise(-1L)
    changes.groupBy(groupCols.map(col): _*)
      .agg(sum(sign).as("dcnt"),
        sum((value.cast(Dec)) * sign).cast(Dec).as("dsum"))
  }

  /** state ⊕ delta: full-outer on the group key (a group may be brand
    * new or newly emptied), coalesced adds, groups netting to zero rows
    * dropped. The join is rollup×rollup — groups, never data.
    */
  def applyDelta(state: DataFrame, d: DataFrame,
      groupCols: Seq[String]): DataFrame =
    state.join(d, groupCols, "full_outer")
      .select(groupCols.map(col) ++ Seq(
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
          .as("cnt"),
        (coalesce(col("sum_v"), lit(0).cast(Dec)) +
          coalesce(col("dsum"), lit(0).cast(Dec))).cast(Dec)
          .as("sum_v")): _*)
      .filter(col("cnt") =!= 0)

  private val Prefix = "gen_"

  /** The persisted state and the instant it is current as of. */
  def current(s: SparkSession, stateDir: String): Option[(DataFrame, String)] =
    Generations.list(s, stateDir, Prefix).headOption.map { inst =>
      (Generations.read(s, stateDir, Prefix, inst), inst)
    }

  /** Fold everything committed since the last advance into a new state
    * generation. Returns the instant the state is now current as of (or
    * None when the table has no commits yet). Idempotent: re-invocation
    * with no new commits — including a crash-replay that already wrote
    * the newest generation — only re-sweeps.
    */
  def advance(s: SparkSession, table: LakeTable, stateDir: String,
      groupCols: Seq[String], value: Column): Option[String] =
    advanceWith(s, table, stateDir)(fullState(_, groupCols, value),
      (state, changes) =>
        applyDelta(state, delta(changes, groupCols, value), groupCols))

  /** The single-watermark advance, shared with [[DistinctMaintain]]:
    * `bootstrap` builds the state from a snapshot, `fold` applies a
    * change feed to a state. The current generation is the newest whose
    * instant is still on the active timeline ([[Generations]]); with
    * none, the state re-bootstraps from the snapshot at `latestCommit`.
    */
  private[pipelines] def advanceWith(s: SparkSession, table: LakeTable,
      stateDir: String)(bootstrap: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame): Option[String] = {
    val latest = table.latestCommit.getOrElse(return None)
    val onTimeline = table.timeline.instants().toSet
    val (name, next) =
      Generations.current(s, stateDir, Prefix)(onTimeline) match {
        case Some(inst) if inst >= latest => (inst, None) // nothing new
        case Some(inst) =>
          // bound the feed to the watermark this generation is named for
          // (a concurrent OCC writer between latestCommit and the delta
          // job would otherwise be folded but not covered → double-counted
          // on the next advance)
          (latest, Some(fold(Generations.read(s, stateDir, Prefix, inst),
            table.changes(inst, latest))))
        case None => (latest, Some(bootstrap(table.snapshotAsOf(latest))))
      }
    Some(Generations.publish(s, stateDir, Prefix, name, next))
  }

  /** Continuous IVM: every new commit on the table runs [[advance]], so
    * the rollup stays current with every commit, end to end O(changed
    * rows). The stream checkpoint only paces the triggers: the state's
    * generation name is its watermark, so a batch Spark replays only
    * re-sweeps.
    */
  def runStream(spark: SparkSession, tablePath: String, stateDir: String,
      groupCols: Seq[String], value: Column, checkpointDir: String,
      triggerSeconds: Int = 1): StreamingQuery = {
    val t = LakeTable.load(spark, tablePath)
    LakeFollow.start(spark, "rollup-maintain", Seq(tablePath), checkpointDir,
        triggerSeconds) {
      (_, _) => advance(spark, t, stateDir, groupCols, value); ()
    }
  }
}

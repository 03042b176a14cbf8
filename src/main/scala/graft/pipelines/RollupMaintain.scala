package graft.pipelines

import graft.lake.LakeTable
import graft.util.Generations
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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

  /** One CDC micro-batch folded into the persisted state, keyed by the
    * STREAM's batch id (zero-padded so generation names stay ordered).
    * Idempotent per batch id — a replay after a crash between the state
    * write and the stream's checkpoint commit sees its own generation
    * and skips. Use a state dir per maintenance mode: batch-id
    * generations (this) and instant generations ([[advance]]) don't mix.
    */
  def applyBatch(s: SparkSession, batch: DataFrame, stateDir: String,
      groupCols: Seq[String], value: Column, batchId: Long): Unit = {
    val d = delta(batch, groupCols, value)
    // no state yet: from-earliest CDC classifies everything as an insert,
    // so the first delta IS the rollup
    applyBatchWith(s, stateDir, batchId)(cur => applyDelta(
      cur.getOrElse(d.limit(0).select(groupCols.map(col) ++ Seq(
        col("dcnt").as("cnt"), col("dsum").as("sum_v")): _*)),
      d, groupCols))
  }

  /** The batch-id apply, shared with [[DistinctMaintain]]: `next` maps
    * the current state (None before the first batch) to the new one. A
    * replayed batch writes nothing; when it is still the newest it
    * finishes the sweep its crash interrupted.
    */
  private[pipelines] def applyBatchWith(s: SparkSession, stateDir: String,
      batchId: Long)(next: Option[DataFrame] => DataFrame): Unit = {
    val name = f"$batchId%020d"
    val gens = Generations.list(s, stateDir, Prefix)
    if (gens.headOption.contains(name))
      Generations.publish(s, stateDir, Prefix, name, None)
    else if (!gens.contains(name)) {
      val cur = gens.headOption.map(Generations.read(s, stateDir, Prefix, _))
      Generations.publish(s, stateDir, Prefix, name, Some(next(cur)))
    }
    ()
  }

  /** Continuous IVM: the lake CDC streaming source feeds [[applyBatch]]
    * — the rollup stays current with every commit, end to end O(changed
    * rows), with the stream checkpoint + per-batch generations making
    * the whole loop crash-replay safe.
    */
  def runStream(spark: SparkSession, tablePath: String, stateDir: String,
      groupCols: Seq[String], value: Column, checkpointDir: String,
      triggerSeconds: Int = 1): StreamingQuery =
    spark.readStream.format("graft-lake")
      .option("query.type", "changes")
      .load(tablePath)
      .writeStream
      .queryName("rollup-maintain")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          applyBatch(batch.sparkSession, batch, stateDir, groupCols, value,
            batchId)
      }
      .start()
}

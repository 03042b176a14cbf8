package graft.pipelines

import graft.lake.LakeTable
import graft.streaming.LakeFollow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Incremental view maintenance for the NON-self-maintainable aggregates
  * — COUNT(DISTINCT v), MIN(v), MAX(v) per group — the third IVM family
  * next to [[RollupMaintain]] (sums/counts) and [[JoinMaintain]] (joins).
  *
  * Sums are self-maintainable: a delete subtracts and you are done.
  * Distinct/min/max are NOT — when a delete removes the group's current
  * minimum, no function of (old aggregate, change row) can tell you the
  * new minimum, and when it removes one occurrence of a value, nothing
  * in the aggregate says whether another occurrence survives. The
  * classic fix (Gupta/Mumick's counting algorithm) is an auxiliary
  * MULTIPLICITY state: `(group, value) → cnt`, maintained with the same
  * signed change-image algebra the other families use (insert /
  * update_postimage +1, delete / update_preimage −1). The view is then
  * a pure function of the aux state: distinct = values with cnt > 0,
  * min/max = extremes over those values — all three delete-safe.
  *
  * Invariant (what the oracle query and the spec pin):
  * `view(aux ⊕ delta(changes(a, b))) = fresh distinct/min/max @ b` for
  * any committed range, exactly — integer counts, untouched values, no
  * float arithmetic anywhere.
  *
  * Why this matters at 100 TB: the delta is a map-side-combined groupBy
  * over O(changed rows); the merge is aux×delta keyed on (group, value)
  * — with the aux table written bucketed on exactly that (group, value)
  * pair, a co-located sliver join (plan-asserted in BucketingSpec: zero
  * shuffle on the aux side of applyDelta). The aux state is bounded by DISTINCT (group, value)
  * pairs, not rows — the whole point of maintaining it instead of
  * rescanning a petabyte to re-count distincts nightly. The final view
  * aggregate is aux-sized and map-side combinable.
  */
object DistinctMaintain {

  private def sign = when(col(LakeTable.ChangeTypeCol)
    .isin("insert", "update_postimage"), 1L).otherwise(-1L)

  /** The multiplicity aux state, computed fresh from a snapshot:
    * `(groupCols..., v, cnt)`.
    */
  def fullAux(snapshot: DataFrame, groupCols: Seq[String],
      value: Column): DataFrame =
    snapshot.select((groupCols.map(col) :+ value.as("v")): _*)
      .groupBy((groupCols :+ "v").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Signed multiplicity delta from a change-image frame. */
  def delta(changes: DataFrame, groupCols: Seq[String],
      value: Column): DataFrame =
    changes.select((groupCols.map(col) :+ value.as("v") :+
        sign.as("_sgn")): _*)
      .groupBy((groupCols :+ "v").map(col): _*)
      .agg(sum(col("_sgn")).as("dcnt"))

  /** aux ⊕ delta: full-outer on (group, value) — a value may be brand
    * new to the group or newly extinct — counts added, pairs netting to
    * zero dropped. aux×delta sized, never data sized.
    */
  def applyDelta(aux: DataFrame, d: DataFrame,
      groupCols: Seq[String]): DataFrame =
    aux.join(d, groupCols :+ "v", "full_outer")
      .select((groupCols :+ "v").map(col) ++ Seq(
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
          .as("cnt")): _*)
      .filter(col("cnt") =!= 0)

  /** The maintained view, read off the aux state: exact distinct count
    * and delete-safe min/max per group.
    */
  def view(aux: DataFrame, groupCols: Seq[String]): DataFrame =
    aux.filter(col("cnt") > 0)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))

  // ---------------------------------------------- persisted generations

  /** The persisted aux state and the instant it is current as of — the
    * [[RollupMaintain]] single-watermark generations (`gen_<instant>`).
    */
  def current(s: SparkSession, stateDir: String): Option[(DataFrame, String)] =
    RollupMaintain.current(s, stateDir)

  /** Fold everything committed since the last advance into a new aux
    * generation; bootstrap from the snapshot when no valid state exists
    * ([[RollupMaintain.advanceWith]]). Idempotent: re-invocation with no
    * new commits only re-sweeps. Returns the instant the state is now
    * current as of.
    */
  def advance(s: SparkSession, table: LakeTable, stateDir: String,
      groupCols: Seq[String], value: Column): Option[String] =
    RollupMaintain.advanceWith(s, table, stateDir)(
      fullAux(_, groupCols, value),
      (aux, changes) =>
        applyDelta(aux, delta(changes, groupCols, value), groupCols))

  /** Continuous maintenance: every new commit on the table runs
    * [[advance]], so distinct/min/max stay current with every commit,
    * end to end O(changed rows); a batch Spark replays only re-sweeps
    * (the [[RollupMaintain.runStream]] contract).
    */
  def runStream(spark: SparkSession, tablePath: String, stateDir: String,
      groupCols: Seq[String], value: Column, checkpointDir: String,
      triggerSeconds: Int = 1): StreamingQuery = {
    val t = LakeTable.load(spark, tablePath)
    LakeFollow.start(spark, "distinct-maintain", Seq(tablePath),
        checkpointDir, triggerSeconds) {
      (_, _) => advance(spark, t, stateDir, groupCols, value); ()
    }
  }
}

package graft.pipelines

import graft.lake.LakeTable
import graft.streaming.LakeFollow
import graft.util.Generations
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental view maintenance for a materialized equi-JOIN — the
  * second IVM family next to [[RollupMaintain]]'s aggregates: keep
  * `V = A ⋈ B` current from both tables' CDC feeds without ever
  * re-joining the full tables. The bilateral delta is the classic
  * asymmetric split
  *
  *   V@b − V@a = ΔA ⋈ B@b  ∪  A@a ⋈ ΔB
  *
  * — the NEW snapshot on the A-delta side, the OLD snapshot on the
  * B-delta side, so ΔA×ΔB interactions are counted exactly once. The
  * lake table supplies both ingredients natively: the change feed
  * ([[LakeTable.changes]], pruned to touched file groups) and the old
  * snapshot via time travel ([[LakeTable.snapshotAsOf]]) — no shadow
  * copies of table state anywhere. Change images carry signs
  * (insert/update_postimage +1, delete/update_preimage −1), so an
  * update that MOVES the join key retracts the old joined rows and
  * asserts the new ones in the same advance.
  *
  * The maintained state is the joined-row MULTISET as (row, cnt) —
  * integer counts, no floats — and `state ⊕ delta(a→b) =
  * fullState(A@b ⋈ B@b)` exactly, for any committed range (the algebra
  * the oracle query and the spec pin).
  *
  * Why this matters at 100 TB: the deltas are O(changed rows) and each
  * joins ONE side's snapshot — with both tables bucketed on the join
  * key even those are co-located hash joins of a sliver against a
  * pruned scan; the state merge is state×delta keyed on the full row,
  * map-side combinable. A nightly full re-join of two petabyte tables
  * is the thing this replaces.
  */
object JoinMaintain {

  private def sign = when(col(LakeTable.ChangeTypeCol)
    .isin("insert", "update_postimage"), 1L).otherwise(-1L)

  /** Every ROUTED column name — the output columns and the two join
    * keys — must resolve on exactly one side: routing in [[delta]] is
    * by name, and a name both tables carry would silently bind to the
    * wrong side (or, for aKey == bKey, make the key equality trivially
    * true under unqualified resolution). Loud contract instead of
    * silent garbage. Columns both tables carry but that are NOT routed
    * (lake metadata like `_record_key`/`_commit_time`, incidental
    * same-named fields) are fine — both sides are projected through
    * qualified frame references before the join.
    */
  private def requireUnambiguous(a: DataFrame, b: DataFrame, aKey: String,
      bKey: String, outCols: Seq[String]): Unit = {
    val shared = a.columns.toSet.intersect(b.columns.toSet)
    val routed = (outCols.toSet + aKey + bKey).intersect(shared)
    require(routed.isEmpty,
      s"JoinMaintain output/key columns must be unique to one side " +
        s"(rename one side); ambiguous: ${routed.toSeq.sorted.mkString(", ")}")
  }

  /** The maintained multiset, computed fresh: distinct joined rows with
    * multiplicities.
    */
  def fullState(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
      outCols: Seq[String]): DataFrame = {
    requireUnambiguous(a, b, aKey, bKey, outCols)
    a.join(b, a(aKey) === b(bKey))
      .groupBy(outCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Signed joined-row delta for one advance: A's change images join the
    * NEW B snapshot; the OLD A snapshot joins B's change images. Every
    * join side is a freshly-selected frame and the key equality is
    * qualified through those frame references — never unqualified
    * `col(...)` that could resolve across sides.
    */
  def delta(aChanges: DataFrame, aOld: DataFrame, bNew: DataFrame,
      bChanges: DataFrame, aKey: String, bKey: String,
      outCols: Seq[String]): DataFrame = {
    requireUnambiguous(aOld, bNew, aKey, bKey, outCols)
    val aCols = outCols.filter(aOld.columns.contains)
    val bCols = outCols.filterNot(aCols.contains)
    val aSel = aChanges.select(
      ((aCols :+ aKey).distinct.map(aChanges(_)) :+ sign.as("_sgn")): _*)
    val bSnap = bNew.select((bCols :+ bKey).distinct.map(bNew(_)): _*)
    val d1 = aSel.join(bSnap, aSel(aKey) === bSnap(bKey))
    val aSnap = aOld.select((aCols :+ aKey).distinct.map(aOld(_)): _*)
    val bSel = bChanges.select(
      ((bCols :+ bKey).distinct.map(bChanges(_)) :+ sign.as("_sgn")): _*)
    val d2 = aSnap.join(bSel, aSnap(aKey) === bSel(bKey))
    d1.select((outCols.map(col) :+ col("_sgn")): _*)
      .unionByName(d2.select((outCols.map(col) :+ col("_sgn")): _*))
      .groupBy(outCols.map(col): _*)
      .agg(sum(col("_sgn")).as("dcnt"))
  }

  /** state ⊕ delta: full-outer on the whole row, counts added, rows
    * netting to zero dropped — state×delta sized, never data sized.
    */
  def applyDelta(state: DataFrame, d: DataFrame,
      outCols: Seq[String]): DataFrame =
    state.join(d, outCols, "full_outer")
      .select(outCols.map(col) ++ Seq(
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
          .as("cnt")): _*)
      .filter(col("cnt") =!= 0)

  /** Drive one advance over lake tables: fold the (aFrom→aTo, bFrom→bTo)
    * commit ranges into `state`.
    */
  def advance(state: DataFrame, a: LakeTable, b: LakeTable,
      aFrom: String, aTo: String, bFrom: String, bTo: String,
      aKey: String, bKey: String, outCols: Seq[String]): DataFrame = {
    // §2.3 skinny feeds (r17): every change feed and snapshot below is
    // projected at the SOURCE to the columns this advance routes — the
    // CDC end-state resolution and the as-of snapshot's MOR merge then
    // aggregate rows exactly as wide as the maintained view, instead of
    // the full table width that delta()'s post-hoc select used to prune
    // only above the aggregates.
    val aUser = a.userSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
    val aCols = (outCols.filter(aUser.contains) :+ aKey).distinct
    val bCols = (outCols.filterNot(aUser.contains) :+ bKey).distinct
    // from-genesis advances have an empty old-A side (instants are
    // zero-padded digit strings, so the "earliest" sentinel must not
    // reach the lexicographic as-of compare)
    val aOld =
      if (aFrom == graft.lake.Timeline.Earliest)
        a.snapshot().filter(lit(false))
      else a.snapshotAsOf(aFrom, aCols)
    applyDelta(state,
      delta(a.changes(aFrom, aTo, aCols), aOld,
        b.snapshotAsOf(bTo, bCols),
        b.changes(bFrom, bTo, bCols), aKey, bKey, outCols),
      outCols)
  }

  /** An empty state with the right schema. */
  def emptyState(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
      outCols: Seq[String]): DataFrame =
    fullState(a, b, aKey, bKey, outCols).filter(lit(false))

  // ---------------------------------------------- persisted generations

  /** A generation name carries BOTH watermarks —
    * `gen_<aInstant>_<bInstant>`, each a zero-padded fixed-width instant
    * advancing monotonically, so the lexicographic max is the newest
    * state (the [[Generations]] contract, two-table form).
    */
  private val Prefix = "gen_"

  private def marks(g: String): (String, String) = {
    val Array(ai, bi) = g.split("_", 2)
    (ai, bi)
  }

  /** The persisted state and the (aInstant, bInstant) it is current as
    * of.
    */
  def current(s: SparkSession, stateDir: String)
      : Option[(DataFrame, (String, String))] =
    Generations.list(s, stateDir, Prefix).headOption.map { g =>
      (Generations.read(s, stateDir, Prefix, g), marks(g))
    }

  /** Fold everything committed on EITHER table since the last advance
    * into a new state generation; bootstrap from a fresh join when no
    * generation has BOTH watermarks on their table's active timeline.
    * Idempotent: re-invocation with no new commits — including a
    * crash-replay that already wrote the newest generation — only
    * re-sweeps. Returns the new (aInstant, bInstant) watermarks.
    */
  def advancePersisted(s: SparkSession, a: LakeTable, b: LakeTable,
      stateDir: String, aKey: String, bKey: String,
      outCols: Seq[String]): Option[(String, String)] = {
    val aLatest = a.latestCommit.getOrElse(return None)
    val bLatest = b.latestCommit.getOrElse(return None)
    val aOn = a.timeline.instants().toSet
    val bOn = b.timeline.instants().toSet
    val cur = Generations.current(s, stateDir, Prefix) { g =>
      val (ai, bi) = marks(g)
      aOn(ai) && bOn(bi)
    }
    val latest = s"${aLatest}_$bLatest"
    val (name, next) = cur.map(g => (g, marks(g))) match {
      case Some((g, (ai, bi))) if ai >= aLatest && bi >= bLatest => (g, None)
      case Some((g, (ai, bi))) =>
        (latest, Some(advance(Generations.read(s, stateDir, Prefix, g),
          a, b, ai, aLatest, bi, bLatest, aKey, bKey, outCols)))
      case None =>
        (latest, Some(fullState(a.snapshotAsOf(aLatest),
          b.snapshotAsOf(bLatest), aKey, bKey, outCols)))
    }
    Some(marks(Generations.publish(s, stateDir, Prefix, name, next)))
  }

  /** Continuous maintenance of the joined view: a new commit on EITHER
    * table triggers one [[advancePersisted]], which folds everything
    * committed on BOTH sides since the stored two-table watermark — the
    * bilateral analog of [[RollupMaintain]]/[[DistinctMaintain]]/
    * [[Scd2]]'s runStream. One query follows both tables and runs one
    * sequential foreachBatch, so two advances never race on the state
    * dir; idempotence + watermark bounding make crash replay a re-sweep.
    */
  def runStream(spark: org.apache.spark.sql.SparkSession, aPath: String,
      bPath: String, stateDir: String, aKey: String, bKey: String,
      outCols: Seq[String], checkpointDir: String, triggerSeconds: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (a, b) = (LakeTable.load(spark, aPath), LakeTable.load(spark, bPath))
    LakeFollow.start(spark, "join-maintain", Seq(aPath, bPath),
        checkpointDir, triggerSeconds) {
      (_, _) =>
        advancePersisted(spark, a, b, stateDir, aKey, bKey, outCols); ()
    }
  }
}

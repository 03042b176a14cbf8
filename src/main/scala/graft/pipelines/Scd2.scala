package graft.pipelines

import graft.lake.{LakeTable, Timeline}
import graft.streaming.LakeFollow
import graft.util.Generations
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Slowly-changing-dimension TYPE 2 materialization from the lake CDC
  * feed: the full version history of every key as
  * `(attrs..., valid_from, valid_to, is_current)` — the classic
  * warehouse dimension shape, derived from change images instead of
  * diffing snapshots.
  *
  * Versions are bounded by COMMIT ORDINALS (the commit's 1-based
  * position on the timeline), not wall-clock instants — ordinals are
  * deterministic replay-stable coordinates (instants are wall-clock and
  * would never hash-gate), and a consumer who wants timestamps joins
  * the ordinal→instant mapping ([[commitOrdinals]]) back on.
  *
  * Semantics per key: each assert image (insert / update_postimage)
  * OPENS a version at its commit's ordinal; the version CLOSES at the
  * next event for the key — the next assert (a newer version) or a
  * delete. An open version (`valid_to` null) is current. A deleted key
  * contributes its closed versions and nothing else: deletes end
  * history, they don't write rows.
  *
  * Scale shape: one change feed per commit range (each already pruned
  * to touched file groups), unioned with the ordinal tag; the chain
  * build is ONE key-partitioned window (lead over ≤ versions-per-key
  * rows) — partitioned by the table key, never a global sort. The
  * from-genesis build here replays every commit (the bootstrap); a
  * production pipeline maintains the dimension INCREMENTALLY by folding
  * each new commit's feed — append the new asserts as open versions,
  * close the previous version of touched keys — which is O(changed
  * rows) per advance, the same maintenance contract as
  * [[RollupMaintain]]/[[JoinMaintain]]/[[DistinctMaintain]].
  */
object Scd2 {

  /** (ordinal, instant) for every commit on the active timeline,
    * ascending — bounded metadata (the timeline), driver-side.
    */
  def commitOrdinals(t: LakeTable): Seq[(Long, String)] =
    t.timeline.instants().zipWithIndex
      .map { case (inst, i) => ((i + 1).toLong, inst) }

  /** The full SCD2 history of `t`: one row per key VERSION carrying the
    * user columns as of that version, `valid_from`/`valid_to` commit
    * ordinals (`valid_to` null = open) and `is_current`.
    */
  def history(t: LakeTable, keyCols: Seq[String]): DataFrame =
    historyOf(t, keyCols, commitOrdinals(t))

  /** [[history]] over the commits `ords` — a prefix of the timeline. */
  private def historyOf(t: LakeTable, keyCols: Seq[String],
      ords: Seq[(Long, String)]): DataFrame = {
    require(ords.nonEmpty, "empty table has no history")
    // an archive checkpoint is the NET effect of the commits it
    // collapsed — the per-commit change feeds a from-genesis history
    // needs are gone, and replaying the checkpoint as "one commit" would
    // silently merge every pre-archival version of a key into one. Fail
    // loudly; incremental [[advance]] on an existing state is unaffected
    // (its ordinals live in the state, not the timeline).
    require(t.timeline.read(ords.head._2).operation != "archive-checkpoint",
      "cannot bootstrap SCD2 history: the timeline was archived, so " +
        "per-commit change feeds below the checkpoint no longer exist; " +
        "bootstrap before archival or maintain the dimension incrementally")
    val events =
      if (t.timeline.read(ords.head._2).operation == "clone")
        // a branch FLATTENS pre-fork history into its clone genesis —
        // the one shape the single-scan feed refuses. Branch timelines
        // start at the fork, so the per-commit plan stays bounded here.
        ordinalEvents(t, ords, prevInstant = None)
      else {
        // the single-scan bootstrap: [[LakeTable.fullHistoryChanges]]
        // yields per-commit events (delete commits filled) from ONE
        // corpus scan — plan size constant in timeline length, where
        // one changes() call per commit grew 4 scans+joins per commit —
        // and the broadcast (instant → ordinal) map replaces the
        // per-feed lit() tag
        val s = t.spark
        import s.implicits._
        val om = ords.map { case (o, i) => (i, o) }.toDF("_inst_m", "_ord")
        t.fullHistoryChanges()
          .join(broadcast(om),
            col(LakeTable.ChangeCommitCol) === col("_inst_m"))
          .drop("_inst_m")
      }
    chains(events, keyCols)
  }

  /** Tagged SCD events for a run of commits: one pruned change feed per
    * commit, ordinal-tagged, preimages dropped (they are the closing
    * side of their own assert).
    */
  private def ordinalEvents(t: LakeTable, ords: Seq[(Long, String)],
      prevInstant: Option[String]): DataFrame = {
    val perCommit = ords.zipWithIndex.map { case ((ord, inst), i) =>
      val begin =
        if (i > 0) ords(i - 1)._2
        else prevInstant.getOrElse(Timeline.Earliest)
      t.changes(begin, inst).withColumn("_ord", lit(ord))
    }
    perCommit.reduce(_ unionAll _)
      .filter(col(LakeTable.ChangeTypeCol) =!= "update_preimage")
  }

  /** Version chains over a tagged event frame: asserts open versions,
    * the next event (assert or delete) closes them — one key-partitioned
    * lead() window.
    */
  private def chains(events: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_ord"))
    events
      .withColumn("_assert",
        col(LakeTable.ChangeTypeCol).isin("insert", "update_postimage"))
      .withColumn("valid_to", lead(col("_ord"), 1).over(w))
      .filter(col("_assert"))
      .drop(LakeTable.ChangeTypeCol, LakeTable.ChangeCommitCol, "_assert")
      .withColumnRenamed("_ord", "valid_from")
      .withColumn("is_current", col("valid_to").isNull)
  }

  // ---------------------------------------------- persisted generations

  /** A generation name carries the instant watermark AND its ordinal —
    * `gen_<instant>_<ord>` ([[Generations]]) — so an advance never
    * re-derives ordinals for commits it already folded (and the
    * dimension survives timeline archival of its own past: ordinals of
    * already-folded commits live in the state, not the timeline).
    */
  private val Prefix = "gen_"

  private def mark(g: String): (String, Long) = {
    val Array(inst, ord) = g.split("_", 2)
    (inst, ord.toLong)
  }

  /** The persisted dimension and the (instant, ordinal) watermark it is
    * current as of.
    */
  def current(s: org.apache.spark.sql.SparkSession, stateDir: String)
      : Option[(DataFrame, (String, Long))] =
    Generations.list(s, stateDir, Prefix).headOption.map { g =>
      (Generations.read(s, stateDir, Prefix, g), mark(g))
    }

  /** Fold every commit since the last advance into the persisted SCD2
    * dimension — the incremental maintenance form: the open versions of
    * touched keys close at the key's FIRST new event, new asserts chain
    * among themselves, untouched keys never move. O(changed rows +
    * touched-key versions) per advance, the same contract as the other
    * IVM families. Bootstrap = [[history]], when no generation's instant
    * is still on the active timeline; it refuses loudly when genesis was
    * archived (no per-commit feeds to replay). Both the fold and the
    * bootstrap stop at `latestCommit`, below any pending writer, so a
    * commit that publishes out of instant order is folded by a later
    * advance instead of skipped. Idempotent: re-invocation with no new
    * commits — including a crash-replay that already wrote the newest
    * generation — only re-sweeps.
    */
  def advance(s: org.apache.spark.sql.SparkSession, t: LakeTable,
      stateDir: String, keyCols: Seq[String]): Option[(String, Long)] = {
    val latest = t.latestCommit.getOrElse(return None)
    val all = t.timeline.instants()
    val onTimeline = all.toSet
    val cur = Generations.current(s, stateDir, Prefix)(g =>
      onTimeline(mark(g)._1))
    val (name, next) = cur.map(g => (g, mark(g))) match {
      case Some((g, (inst, _))) if inst >= latest => (g, None) // nothing new
      case Some((g, (inst, ord))) =>
        // the new ordinals continue from the stored one (archival-stable
        // — already-folded ordinals never re-derive from the timeline)
        val newOrds = all.filter(i => i > inst && i <= latest).zipWithIndex
          .map { case (ni, i) => (ord + i + 1, ni) }
        val events = ordinalEvents(t, newOrds, prevInstant = Some(inst))
        // first new event per key closes that key's open version
        // (assert ⇒ superseded, delete ⇒ ended)
        val firstNew = events
          .groupBy(keyCols.map(col): _*)
          .agg(min(col("_ord")).as("_first_ord"))
        val closed = Generations.read(s, stateDir, Prefix, g)
          .join(firstNew, keyCols, "left")
          .withColumn("valid_to",
            when(col("is_current") && col("_first_ord").isNotNull,
              col("_first_ord")).otherwise(col("valid_to")))
          .withColumn("is_current", col("valid_to").isNull)
          .drop("_first_ord")
        (f"${latest}_${newOrds.last._1}%020d",
          Some(closed.unionByName(chains(events, keyCols))))
      case None =>
        // ordinals are timeline positions, counted up to `latest`
        val ords = commitOrdinals(t).filter(_._2 <= latest)
        (f"${latest}_${ords.size}%020d", Some(historyOf(t, keyCols, ords)))
    }
    Some(mark(Generations.publish(s, stateDir, Prefix, name, next)))
  }

  /** Continuous dimension maintenance: every new commit on the table
    * runs one [[advance]], so the SCD2 history stays current with every
    * commit — the same always-on contract as
    * [[DistinctMaintain.runStream]]/[[RollupMaintain]]. The advance
    * derives its events from the timeline's per-commit feeds (a
    * micro-batch may span several commits, and version chaining needs
    * per-commit order), so the batch is only the trigger. Crash-replay
    * safe for free: advance is idempotent and watermark-bounded, so a
    * replayed batch only re-sweeps.
    */
  def runStream(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      stateDir: String, keyCols: Seq[String], checkpointDir: String,
      triggerSeconds: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val t = LakeTable.load(spark, tablePath)
    LakeFollow.start(spark, "scd2-maintain", Seq(tablePath),
        checkpointDir, triggerSeconds) {
      (_, _) => advance(spark, t, stateDir, keyCols); ()
    }
  }
}

package graft.lake

import graft.util.Generations
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DecimalType, DoubleType, FloatType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A keyed, partitioned, versioned table on Parquet + a JSON commit
  * timeline — the native rebuild of the Hudi table format the reference
  * depends on (written via package.scala:15-81, read via
  * ODS2DWD.scala:30-56).
  *
  * Semantics reproduced:
  *  - record identity = concat of key columns (ComplexKeyGenerator,
  *    reference package.scala:52);
  *  - precombine versioning: within a batch and on merge the row with the
  *    greater precombine value wins, incoming wins ties
  *    (DefaultHoodieRecordPayload, reference HudiConfig.scala:45);
  *  - global index: an upsert whose partition value changed moves the row
  *    to the new partition (reference HudiConfig.scala:47-48) — automatic
  *    here because matching is by key across all partitions;
  *  - COW: upsert/delete rewrite only the data files that actually contain
  *    matched keys; all other files are carried by reference in the commit;
  *  - hidden meta columns `_record_key`, `_commit_time` (reference's
  *    `_hoodie_record_key`/`_hoodie_commit_time`, package.scala:166-168);
  *    carried-over rows keep their original `_commit_time`;
  *  - snapshot / incremental `(begin, end]` / read-optimized queries
  *    (reference ODS2DWD.scala:51-56) plus time travel `snapshotAsOf`.
  *
  * Scale design (100 TB target): writes touch only matched files, found by
  * tagging ([[tagFiles]]) — driver-side bucket and key-range prunes
  * against commit-metadata stats (no data read), a record-key bloom probe
  * for point batches, then one exact scan of just the `_record_key`
  * column of the candidate files. Shuffles are limited to the incoming
  * batch + matched files, never the whole table. Reads hand Catalyst a plain Parquet
  * relation (explicit schema + basePath) so filter pushdown, column
  * pruning, and hive-style partition pruning all stay active.
  */
class LakeTable private (val spark: SparkSession, val path: String) {
  import LakeTable._

  private[lake] val tablePath = new Path(path)
  private[lake] val fs: FileSystem =
    tablePath.getFileSystem(spark.sessionState.newHadoopConf())
  private var _meta: TableMeta = TableMeta.load(fs, tablePath)
  val timeline = new Timeline(fs, tablePath)

  def meta: TableMeta = _meta

  /** User-column schema (set on first write). */
  def userSchema: Option[StructType] =
    if (_meta.schemaJson.isEmpty) None
    else Some(DataType.fromJson(_meta.schemaJson).asInstanceOf[StructType])

  /** User columns + meta columns, the physical schema of data files. */
  def fullSchema: StructType = {
    val u = userSchema.getOrElse(
      throw new IllegalStateException(s"table ${_meta.name} has no schema yet"))
    StructType(u.fields ++ Seq(
      StructField(RecordKeyCol, StringType, nullable = false),
      StructField(CommitTimeCol, StringType, nullable = false),
      StructField(DeletedCol, BooleanType, nullable = true)))
  }

  /** Latest instant a CONSUMER may safely read up to: the latest
    * completed commit, capped strictly below any live in-flight optimistic
    * writer ([[Timeline.stableInstant]]). Pipelines use this as their
    * incremental watermark — capping here keeps consumption monotonic
    * even when concurrent writers publish out of instant order.
    */
  def latestCommit: Option[String] = timeline.stableInstant()

  // ---------------------------------------------------------------- reads

  /** Latest view of the table (meta columns included). For MOR tables
    * with outstanding delta files this is the merge-on-read view: base ∪
    * delta resolved to the latest row per key by (precombine,
    * commit-time) — one keyed shuffle, the read-side cost MOR trades for
    * its cheap writes.
    *
    * Note on partition pruning: on a pure-base (COW or compacted) read,
    * a filter on a partition column prunes files via the metadata index.
    * On a MOR merged read it cannot be pushed below the key resolution —
    * under the global index a key's versions may span partitions, so
    * pre-merge pruning could elect a stale winner; Catalyst correctly
    * applies such filters after the merge. Compact to restore pruning.
    */
  def snapshot(): DataFrame = snapshotAsOf(MaxInstant)

  /** Snapshot with the DERIVED (hidden) partition values appended as
    * columns — the read-side accessor for transform partitioning.
    * Derived columns are never part of the user schema (writers never
    * supply them), so plain reads don't carry them; this recomputes
    * each value in-plan with the same deterministic UTC arithmetic the
    * write path used, which equals the stored directory value
    * bit-for-bit (HiddenPartitionSpec pins dirs == derivation).
    */
  def snapshotWithDerived(): DataFrame = snapshotWithDerived(MaxInstant)

  /** [[snapshotWithDerived]] as of `instant` — time travel with the
    * hidden values appended (e.g. auditing what a retention
    * [[expirePartitions]] dropped).
    */
  def snapshotWithDerived(instant: String): DataFrame =
    _meta.partitionDerivations.foldLeft(snapshotAsOf(instant)) {
      case (d, (dcol, LakeTable.DerivationSpec(fn, src))) =>
        d.withColumn(dcol,
          LakeTable.partitionTransform(fn, col(src), d.schema(src).dataType))
      case (d, _) => d
    }

  /** Time travel: the table as of `instant` (inclusive). */
  def snapshotAsOf(instant: String): DataFrame =
    snapshotOfFiles(timeline.liveFiles(instant))

  /** [[snapshotAsOf]] restricted to `cols` user columns (meta columns
    * ride along) — the §2.3 skinny read for consumers that never touch
    * the rest of the row. On a MOR read the per-key resolution
    * aggregate's state is then exactly `cols` wide instead of the full
    * table width; nested pruning cannot do this through `max_by(struct)`
    * on its own.
    */
  def snapshotAsOf(instant: String, cols: Seq[String]): DataFrame =
    snapshotOfFiles(timeline.liveFiles(instant), cols)

  /** Merged view over an explicit live-file set (a snapshot body — shared
    * with [[changes]]' pruned before/after states). `cols` non-empty
    * projects the read to those user columns (+ meta and, when
    * resolution runs, the precombine field) BEFORE the resolution
    * aggregate.
    */
  private def snapshotOfFiles(live: Seq[FileStat],
      cols: Seq[String] = Nil): DataFrame = {
    val needResolve = live.exists(_.isDelta)
    val df0 = readStats(live)
    val df =
      if (cols.isEmpty) df0
      else df0.select(
        (cols ++ (if (needResolve) Seq(_meta.precombineField) else Nil) ++
          Seq(RecordKeyCol, CommitTimeCol, DeletedCol))
          .distinct.map(col): _*)
    val out =
      if (needResolve) resolveLatest(df, tombstoneBarrier(live)) else df
    if (cols.isEmpty) out
    else out.select(
      (cols ++ Seq(RecordKeyCol, CommitTimeCol, DeletedCol))
        .distinct.map(col): _*)
  }

  /** Per-key latest tombstone commit time, read from ONLY the live files
    * whose commit stats report tombstone rows (small delete deltas) —
    * `None` when no tombstones exist, so tombstone-free reads skip the
    * resolution join entirely.
    */
  private def tombstoneBarrier(live: Seq[FileStat]): Option[DataFrame] = {
    val tombFiles = live.filter(_.tombstones > 0)
    if (tombFiles.isEmpty) None
    else Some(readStats(tombFiles)
      .filter(coalesce(col(DeletedCol), lit(false)))
      .groupBy(col(RecordKeyCol))
      .agg(max(col(CommitTimeCol)).as("_del_t")))
  }

  /** Latest-row resolution for merge-on-read: keep the max
    * (precombine, _commit_time) row per key — same payload ordering as
    * the COW merge (greater precombine wins, later commit wins ties).
    * With a tombstone `barrier` (MOR deletes), a data row is only
    * considered if committed AFTER the key's latest tombstone: the delete
    * kills all earlier versions regardless of precombine, and a later
    * re-insert revives the key — Hudi delete-block semantics.
    */
  private def resolveLatest(df: DataFrame,
      barrier: Option[DataFrame] = None): DataFrame = {
    val data = df.filter(!coalesce(col(DeletedCol), lit(false)))
    val alive = barrier match {
      case None => data
      case Some(t) =>
        data.join(t, Seq(RecordKeyCol), "left")
          .filter(col("_del_t").isNull || col(CommitTimeCol) > col("_del_t"))
          .drop("_del_t")
    }
    // Resolution runs over whatever columns `df` carries (a full
    // readStats frame, or a §2.3 skinny projection of one — the max_by
    // aggregate state is exactly as wide as the caller's projection);
    // output preserves df's column order, which for a full frame is the
    // physical order of a plain file read.
    val dfCols = df.columns.toIndexedSeq
    val fields = dfCols.filter(_ != RecordKeyCol)
    // Partition index scope: the key embeds the partition prefix, so also
    // grouping by the partition columns is semantically identical — but it
    // makes them grouping ATTRIBUTES of the output, which lets Catalyst
    // push a partition filter below the aggregation and prune files even
    // on a merged MOR read. Impossible under the global scope, where one
    // key's versions may span partitions and pre-merge pruning could
    // elect a stale winner (see the class doc note). (Key-only grouping
    // stays correct for projections that drop a partition column.)
    val partLocal =
      _meta.indexScope == "partition" && _meta.partitionFields.nonEmpty &&
        _meta.partitionFields.forall(dfCols.contains)
    val groupCols =
      if (partLocal) (_meta.partitionFields :+ RecordKeyCol).map(col)
      else Seq(col(RecordKeyCol))
    alive.groupBy(groupCols: _*)
      .agg(max_by(struct(fields.map(col): _*),
        struct(col(_meta.precombineField), col(CommitTimeCol))).as("_r"))
      .select(dfCols.map {
        case RecordKeyCol => col(RecordKeyCol)
        case f if partLocal && _meta.partitionFields.contains(f) => col(f)
        case f => col(s"_r.`$f`").as(f)
      }: _*)
  }

  /** Snapshot without meta columns (reference package.scala:165-169). */
  def snapshotUser(): DataFrame =
    snapshot().drop(RecordKeyCol, CommitTimeCol, DeletedCol)

  /** Rows committed in `(begin, end]` — the reference's incremental query
    * (QUERY_TYPE_INCREMENTAL, BEGIN/END_INSTANTTIME, ODS2DWD.scala:51-56).
    * `begin = "earliest"` reads from the start of the timeline.
    *
    * On MOR tables the read set can contain several delta versions of the
    * same key; like Hudi's incremental query on MERGE_ON_READ (which
    * merges log blocks), the in-range rows are resolved to the latest
    * version per key, so consumers see one merged row per changed key —
    * never intermediate versions.
    */
  def incremental(begin: String, end: String = MaxInstant): DataFrame = {
    val b = if (begin == Timeline.Earliest) "" else begin
    // cap the range strictly below any live in-flight optimistic writer:
    // a pending commit's instant sorts below already-published later
    // instants, so advancing past it would skip it forever once it lands
    val e = timeline.stableEnd(end)
    // file-level commit-range prune: a rewrite/delete output added inside
    // the range can consist ENTIRELY of carried-over rows with pre-range
    // commit times — its maxCommit stat proves no row can pass the filter,
    // so skip opening it (row-group stats would skip too, but only after
    // the file is opened and its footer read)
    val files = timeline.addedBetween(b, e)
      .filter(f => f.maxCommit == null || f.maxCommit > b)
    val df = readStats(files)
      .filter(col(CommitTimeCol) > lit(b) && col(CommitTimeCol) <= lit(e))
    if (files.exists(_.isDelta)) resolveLatest(df, tombstoneBarrier(files))
    else df
  }

  /** Change-data feed over `(begin, end]` — the Hudi CDC / Delta CDF
    * analog, derived at READ time from the timeline instead of logged at
    * write time (no write-path cost; the trade is that the feed is the
    * NET effect across the range, not a per-commit operation log):
    *
    *  - `insert`            — key absent at `begin`, present at `end`
    *                          (after image);
    *  - `update_preimage` / `update_postimage` — key present at both ends
    *                          with a row version committed in range
    *                          (Delta CDF's two-row update shape);
    *  - `delete`            — key present at `begin`, absent at `end`
    *                          (before image; `_change_commit` is null —
    *                          a COW rewrite leaves no per-row removal
    *                          instant).
    *
    * A key written in range but restored to its pre-range winner (e.g. a
    * lower-precombine upsert that lost resolution, or insert-then-delete
    * inside the range) nets out and is NOT emitted.
    *
    * Scale shape: both end states are read only for files whose key range
    * overlaps the touched files' span, then semi-joined to the exact
    * touched keys — O(changed file groups), not O(table). Files REMOVED
    * in range are read for their keys (COW deletes live nowhere else);
    * like time travel, the feed needs clean-retention to cover `begin`.
    */
  /** Output shape of [[changes]]: the user columns plus the change-type
    * and change-commit markers.
    */
  def changesSchema: StructType = StructType(fullSchema.fields
    .filterNot(f => Seq(RecordKeyCol, CommitTimeCol, DeletedCol)
      .contains(f.name)) ++ Seq(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(ChangeCommitCol, StringType, nullable = true)))

  def changes(begin: String, end: String = MaxInstant,
      cols: Seq[String] = Nil): DataFrame = {
    val b = if (begin == Timeline.Earliest) "" else begin
    val e = timeline.stableEnd(end)
    val uAll = userSchema.getOrElse(throw new IllegalStateException(
      "table has no schema yet")).fieldNames.toSeq
    // `cols` non-empty: the feed carries only those user columns (§2.3
    // skinny CDC for IVM consumers that aggregate a couple of columns —
    // the end-state resolution aggregates and the full-outer diff then
    // never touch the rest of the row). Schema order is preserved.
    val u = if (cols.isEmpty) uAll else uAll.filter(cols.contains)
    val outSchema =
      if (cols.isEmpty) changesSchema
      else StructType(changesSchema.fields.filter(f =>
        u.contains(f.name) || f.name == ChangeTypeCol ||
          f.name == ChangeCommitCol))

    // clean commits remove files that were already logically dead — they
    // are physical housekeeping, not content changes
    val removedInRange = timeline.between(b, e)
      .filterNot(_.operation == "clean").flatMap(_.removed).toSet
    val removedStats = timeline.between(Timeline.Earliest, e)
      .flatMap(_.added).filter(f => removedInRange.contains(f.path))
    // the feed reads the CONTENT of in-range-removed files (COW delete
    // images live nowhere else); if a clean already physically deleted
    // one, fail up front with the retention contract instead of a
    // mid-job FileNotFoundException
    requireReadable(removedStats, s"change feed ($b, $e]",
      "CDC consumers must stay within the clean retention window")
    val addedInRange = timeline.addedBetween(b, e)
      .filter(f => f.maxCommit == null || f.maxCommit > b)

    val candStats = addedInRange ++ removedStats
    if (candStats.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)

    // prune both end states to files whose key range can contain a
    // touched key (superset of per-key containment, so resolution over
    // the kept files is complete for every touched key). The touched
    // files' ranges are merged into DISJOINT intervals rather than one
    // global [min, max] — a CDC range touching a few scattered file
    // groups then skips everything between them
    val intervals: Seq[(String, String)] = {
      val rs = candStats
        .filter(f => f.minKey != null && f.maxKey != null)
        .map(f => (f.minKey, f.maxKey)).sortBy(_._1)
      if (rs.size != candStats.size) Seq.empty // a range-less file ⇒ no prune
      else rs.headOption.map { h =>
        rs.tail.foldLeft(Vector(h)) { case (acc, (mn, mx)) =>
          val (lmn, lmx) = acc.last
          if (mn <= lmx) acc.init :+ ((lmn, if (mx > lmx) mx else lmx))
          else acc :+ ((mn, mx))
        }
      }.getOrElse(Vector.empty)
    }
    def overlapping(fs: Seq[FileStat]): Seq[FileStat] =
      if (intervals.isEmpty) fs
      else fs.filter(f => f.minKey == null || f.maxKey == null ||
        intervals.exists(iv => f.maxKey >= iv._1 && f.minKey <= iv._2))
    // exact touched keys: every row version written in range, plus every
    // key whose file a in-range commit destroyed (COW deletes/rewrites)
    val inRangeRows = readStats(addedInRange)
      .filter(col(CommitTimeCol) > lit(b) && col(CommitTimeCol) <= lit(e))
      .select(col(RecordKeyCol))
    val cand = (if (removedStats.isEmpty) inRangeRows
      else inRangeRows.unionAll(
        readStats(removedStats).select(col(RecordKeyCol)))).distinct()

    // Both end states are (a) projected to the columns the feed carries
    // and (b) semi-joined to the touched keys BELOW the resolution
    // aggregate (r17, guide §2.3: filter/project before the exchange) —
    // the per-key max_by then only builds state for touched keys at feed
    // width, instead of resolving every key in the overlapping files at
    // full width and discarding most of that work in the old post-
    // aggregate semi-join. Per-key resolution is independent row-wise,
    // so restricting the key set first is semantics-preserving.
    def endState(liveAll: Seq[FileStat]): DataFrame = {
      val live = overlapping(liveAll)
      val needResolve = live.exists(_.isDelta)
      val raw = readStats(live).select(
        (u ++ (if (needResolve) Seq(_meta.precombineField) else Nil) ++
          Seq(RecordKeyCol, CommitTimeCol, DeletedCol))
          .distinct.map(col): _*)
        .join(cand, Seq(RecordKeyCol), "left_semi")
      if (needResolve) resolveLatest(raw, tombstoneBarrier(live)) else raw
    }
    val before0 = endState(timeline.liveFiles(b))
    val after0 = endState(timeline.liveFiles(e))

    val aS = after0
      .select(col(RecordKeyCol),
        struct((u :+ CommitTimeCol).map(col): _*).as("_a"))
    val bS = before0
      .select(col(RecordKeyCol), struct(u.map(col): _*).as("_b"))
    val j = aS.join(bS, Seq(RecordKeyCol), "full_outer")
    // single pass: classify each key into 0..2 change rows and explode —
    // a filter-per-kind union would execute the full-outer join once PER
    // BRANCH (4x the scan and shuffle work)
    val aChanged = col("_a").isNotNull &&
      col(s"_a.`$CommitTimeCol`") > lit(b)
    val aCommit = col(s"_a.`$CommitTimeCol`")
    val nullCommit = lit(null).cast(StringType)
    def entry(side: String, kind: String, commit: Column) = struct(
      struct(u.map(c => col(s"$side.`$c`").as(c)): _*).as("img"),
      lit(kind).as("t"), commit.as("c"))
    // no otherwise(): unmatched keys (net no-ops) yield null, which
    // explode() drops
    val arr = when(aChanged && col("_b").isNull,
        array(entry("_a", "insert", aCommit)))
      .when(aChanged && col("_b").isNotNull,
        array(entry("_b", "update_preimage", aCommit),
          entry("_a", "update_postimage", aCommit)))
      .when(col("_a").isNull && col("_b").isNotNull,
        array(entry("_b", "delete", nullCommit)))
    j.select(explode(arr).as("_x"))
      .select(u.map(c => col(s"_x.img.`$c`").as(c)) ++ Seq(
        col("_x.t").as(ChangeTypeCol), col("_x.c").as(ChangeCommitCol)): _*)
  }

  /** Full-history change feed at PER-COMMIT granularity from ONE scan —
    * the bootstrap form of [[changes]]. `changes(b, e)` is a net diff
    * (a key updated twice in range yields one event), so replaying
    * history commit-by-commit needs one `changes` call PER commit: a
    * plan that grows linearly with timeline length (4 scans+joins per
    * commit). This derives the same per-commit events from a single
    * pass instead:
    *
    *  - **asserts**: every row version ever written carries its own
    *    `_commit_time` (rewrites copy rows verbatim), so one scan of
    *    every file ever added — live or since-removed — yields all
    *    (key, commit) versions; copies collapse on (key, commit).
    *    A version is emitted only if it actually WON resolution at its
    *    commit (running max of (precombine, commit) per key, reset at
    *    delete barriers — a late MOR delta with a lower precombine never
    *    became current, exactly as the net feed never shows it).
    *  - **marker deletes**: MOR tombstones are rows (`_deleted`), direct
    *    events; the before-image is filled from the preceding assert.
    *  - **vanished keys** (COW deletes rewrite files WITHOUT the key):
    *    a visible version whose copy-chain ends — every file that holds
    *    it was removed, at an instant strictly before the key's next
    *    assert (a rewrite at the next assert is supersession, not
    *    delete) — yields a delete event at the chain-end commit. The
    *    table format guarantees a CURRENT version is always copied
    *    forward, so a dead chain means deleted-or-superseded, and the
    *    next-assert guard separates the two.
    *
    * Unlike [[changes]] (whose net classification cannot know it),
    * delete events here carry their commit in `_change_commit`.
    *
    * At 100 TB this is one corpus-sized scan + key-local windows — the
    * shape an SCD2 / audit-trail bootstrap needs; per-commit `changes`
    * remains the right tool for small incremental ranges. Same
    * retention contract as [[changes]]: every historical file must
    * still exist (clean destroys history). Refused on an archived
    * timeline (the checkpoint is a net effect, per-commit events below
    * it are gone) and on a branch (its clone genesis FLATTENS pre-fork
    * history by design — replay the source, or `changes` from the
    * fork).
    */
  def fullHistoryChanges(): DataFrame =
    historyPrep() match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], changesSchema)
      case Some((allAdded, removedAt)) =>
        requireHistoricalReadable(allAdded, removedAt)
        historyEventsOver(allAdded, removedAt, keyFilter = None)
    }

  /** Per-key history: [[fullHistoryChanges]] restricted to the keys in
    * `data` (any frame carrying the key columns, like [[delete]]) — the
    * "what happened to THIS record" audit lookup. The scan prunes to
    * files that can contain a probed key (key-range + record-key bloom,
    * over every file EVER added), so the cost is O(files touching the
    * key's file groups across history), not O(table history) — the
    * property that lets the audit primitive double as a point lookup at
    * 100 TB. Point-lookup contract: at most [[LakeTable.BloomProbeMaxKeys]]
    * distinct keys (bulk audits should scan [[fullHistoryChanges]]).
    */
  def keyHistory(data: DataFrame): DataFrame =
    historyPrep() match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], changesSchema)
      case Some((allAdded, removedAt)) =>
        import spark.implicits._
        val keys = withKeyCol(data).select(col(RecordKeyCol)).distinct()
          .as[String].collect().sorted
        require(keys.length <= BloomProbeMaxKeys,
          s"keyHistory is a point lookup (max $BloomProbeMaxKeys keys, " +
            s"got ${keys.length}); scan fullHistoryChanges for bulk audits")
        if (keys.isEmpty)
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], changesSchema)
        val ranged = allAdded.filter(f =>
          f.minKey == null || f.maxKey == null ||
            keys.exists(k => f.minKey <= k && k <= f.maxKey))
        // footer blooms are read below — verify retention FIRST so a
        // cleaned-away historical file fails with the contract error,
        // not a footer read failure
        requireHistoricalReadable(ranged, removedAt)
        val pruned = bloomPrune(ranged, keys)
        historyEventsOver(pruned, removedAt,
          keyFilter = Some(col(RecordKeyCol).isin(
            keys.toIndexedSeq.map(_.asInstanceOf[Any]): _*)))
    }

  /** Shared guards + driver-side file metadata of the history feeds:
    * every file ever added, and the instant each was LOGICALLY removed
    * (clean is physical housekeeping, not a content change). None when
    * the table has no commits or no files.
    */
  private def historyPrep(): Option[(Seq[FileStat], Map[String, String])] = {
    val insts = timeline.instants()
    if (insts.isEmpty) {
      changesSchema // force the no-schema IllegalStateException contract
      return None
    }
    val commits = insts.map(timeline.read)
    require(!commits.exists(_.operation == "archive-checkpoint"),
      "full-history feed impossible on an archived timeline: the " +
        "checkpoint is a net effect, per-commit events below it are gone")
    require(commits.head.operation != "clone",
      "full-history feed on a branch is the flattened genesis by " +
        "design; replay the source table or use changes() from the fork")
    val removedAt: Map[String, String] = commits
      .filterNot(_.operation == "clean")
      .flatMap(c => c.removed.map(_ -> c.instant)).toMap
    val allAdded = commits.flatMap(_.added)
    if (allAdded.isEmpty) None else Some((allAdded, removedAt))
  }

  /** The history feeds' retention probe: every since-removed file in
    * `stats` must still exist on disk ([[requireReadable]]).
    */
  private def requireHistoricalReadable(stats: Seq[FileStat],
      removedAt: Map[String, String]): Unit =
    requireReadable(stats.filter(f => removedAt.contains(f.path)),
      "full-history feed", "bootstrap within the clean retention window")

  /** Retention probe of the feeds that read removed files: every file in
    * `removedStats` must still exist on disk, else `feed` fails naming
    * the first missing one and the retention contract (`advice`). One
    * listStatus per touched partition dir, not one exists() RPC per file
    * — a wide range can name thousands of removed files in a handful of
    * dirs.
    */
  private def requireReadable(removedStats: Seq[FileStat], feed: String,
      advice: String): Unit = {
    if (removedStats.isEmpty) return
    val qualified = removedStats.map(f =>
      f.path -> fs.makeQualified(new Path(tablePath, f.path)).toString)
    val present: Set[String] = qualified.map { case (_, q) =>
      new Path(q).getParent
    }.distinct.flatMap { dir =>
      try fs.listStatus(dir).toSeq
        .map(st => fs.makeQualified(st.getPath).toString)
      catch { case _: java.io.FileNotFoundException => Seq.empty[String] }
    }.toSet
    qualified.collectFirst { case (p, q) if !present.contains(q) => p }
      .foreach { p =>
        throw new IllegalStateException(
          s"$feed needs file $p, already deleted by clean; $advice " +
            "(same contract as time travel)")
      }
  }

  /** The single-pass event derivation over an explicit file set (see
    * [[fullHistoryChanges]] for the semantics). `keyFilter` restricts
    * the raw scan to probed keys — pushed into the parquet read.
    */
  private def historyEventsOver(allAdded: Seq[FileStat],
      removedAt: Map[String, String],
      keyFilter: Option[Column]): DataFrame = {
    val u = userSchema.getOrElse(throw new IllegalStateException(
      "table has no schema yet")).fieldNames.toSeq
    val pc = _meta.precombineField
    def qualOf(rel: String): String = fs.makeQualified(
      if (rel.startsWith("/") || rel.contains("://")) new Path(rel)
      else new Path(tablePath, rel)).toString
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // "" = still live; the left-join sentinel distinguishes "live" from
    // "URI mapping missed" (which must fail loudly, not drop rows).
    // input_file_name() may or may not carry the scheme depending on
    // the filesystem — register both the qualified URI and the bare
    // URI path for every file
    val fileMeta = allAdded
      .flatMap { f =>
        val q = qualOf(f.path)
        val rm = removedAt.getOrElse(f.path, "")
        Seq(q -> rm, new Path(q).toUri.getPath -> rm)
      }
      .distinct.toDF("_src", "_rm")
    val raw0 = readStats(allAdded)
    val raw = keyFilter.fold(raw0)(raw0.filter)
    val tagged = raw
      .withColumn("_src", input_file_name())
      .join(broadcast(fileMeta), Seq("_src"), "left")
      .withColumn("_rm", when(col("_rm").isNull,
        raise_error(concat(lit("full-history feed: scan URI not in the " +
          "commit metadata map: "), col("_src"))))
        .otherwise(col("_rm")))
    // one row per (key, commit) VERSION: copies (rewrites, compactions)
    // collapse; within-commit duplicate keys (insert op) resolve by
    // precombine like the snapshot does. The copy chain reduces to: is
    // any holding file live, and when did the last one die.
    val verW = tagged
      .groupBy(col(RecordKeyCol), col(CommitTimeCol))
      .agg(
        max_by(struct((u :+ DeletedCol).map(col): _*),
          struct(col(pc), col("_src"))).as("_img"),
        max(when(col("_rm") === "", 1).otherwise(0)).as("_live"),
        max(when(col("_rm") =!= "", col("_rm"))).as("_chain_end"))
    // r16 optimization (guide §2.3 / §8 — decide on skinny rows, attach
    // the payload once): the event classification below is a chain of
    // key-window passes that only ever READS (commit, precombine,
    // tombstone flag, liveness, chain end) — but it used to carry every
    // user column through all three window shuffles+sorts plus the final
    // explode (full-width exchanges of the whole table history). Now the
    // windows run over a skinny RESOLUTION aggregate computed directly
    // from the scan — parquet column pruning makes that pass read only
    // (key, commit, precombine, tombstone) — and each emitted event
    // names the (key, commit) whose version image it needs; ONE join at
    // the end re-attaches the image from the full-width aggregate, so
    // the user columns cross the network exactly once before the final
    // sort. Same within-commit winner as the image aggregate: both
    // max_by on struct(precombine, _src). (Scd2Spec pins the plan: two
    // scans total, only one at full width, constant in timeline length.)
    val ver = tagged
      .groupBy(col(RecordKeyCol), col(CommitTimeCol))
      .agg(
        max_by(struct(col(pc).as("_p"), col(DeletedCol).as("_d")),
          struct(col(pc), col("_src"))).as("_r"),
        max(when(col("_rm") === "", 1).otherwise(0)).as("_live"),
        max(when(col("_rm") =!= "", col("_rm"))).as("_chain_end"))
      .select(col(RecordKeyCol), col(CommitTimeCol),
        col("_live"), col("_chain_end"),
        col("_r.`_p`").as("_pc"),
        coalesce(col("_r.`_d`"), lit(false)).as("_isdel"))
    // instants are zero-padded fixed-width, so lexicographic window
    // order IS commit order
    val wKey = Window.partitionBy(RecordKeyCol).orderBy(col(CommitTimeCol))
    val wPrev = wKey.rowsBetween(Window.unboundedPreceding, -1)
    val wPrevIncl = wKey.rowsBetween(Window.unboundedPreceding, 0)
    val staged = ver
      // delete barrier: a tombstone kills every earlier version
      // regardless of precombine, and a later re-insert revives the key
      // (Hudi delete-block semantics) — so resolution-visibility resets
      // at each marker delete
      .withColumn("_barrier",
        max(when(col("_isdel"), col(CommitTimeCol))).over(wPrev))
      // before-image COMMIT for marker deletes (the net feed's "_b"
      // side) — the image itself is joined back at the end
      .withColumn("_fill_ct", last(
        when(!col("_isdel"), col(CommitTimeCol)), ignoreNulls = true)
        .over(wPrevIncl))
    val wVis = Window.partitionBy(col(RecordKeyCol), col("_barrier"))
      .orderBy(col(CommitTimeCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val vis = staged
      .withColumn("_pmax",
        max(when(!col("_isdel"),
          struct(col("_pc").as(pc), col(CommitTimeCol)))).over(wVis))
      .withColumn("_visible", !col("_isdel") && (col("_pmax").isNull ||
        struct(col("_pc").as(pc), col(CommitTimeCol)) > col("_pmax")))
    // per-key neighborhood of each row among the VISIBLE asserts,
    // as conditional window aggregates so the whole derivation stays a
    // SINGLE pass (no filter-per-kind branches — each would re-execute
    // the scan, the changes() explode rationale):
    //  _next_vis: the next visible assert's commit;
    //  _prev_a:   the latest preceding visible assert (ct, liveness,
    //             chain end) — struct max orders by ct first;
    //  _present:  was the key present JUST BEFORE this row (a preceding
    //             visible assert not yet closed by a marker delete or by
    //             its own vanished copy-chain).
    val full = vis
      .withColumn("_next_vis", min(when(col("_visible"), col(CommitTimeCol)))
        .over(wKey.rowsBetween(1, Window.unboundedFollowing)))
      // a dead copy-chain strictly before the next assert = the key was
      // deleted at the chain's last removal (a chain dying AT the next
      // assert is supersession; a live file means the version or a copy
      // is still on disk)
      .withColumn("_vanish", col("_visible") && col("_live") === 0 &&
        col("_chain_end").isNotNull &&
        (col("_next_vis").isNull || col("_chain_end") < col("_next_vis")))
      .withColumn("_prev_a", max(when(col("_visible"),
        struct(col(CommitTimeCol).as("ct"), col("_live").as("lv"),
          col("_chain_end").as("ce")))).over(wPrev))
      .withColumn("_prev_vanished", col("_prev_a").isNotNull &&
        col("_prev_a.lv") === 0 && col("_prev_a.ce").isNotNull &&
        col("_prev_a.ce") < col(CommitTimeCol))
      .withColumn("_present", col("_prev_a").isNotNull &&
        !col("_prev_vanished") &&
        !(col("_barrier").isNotNull && col("_barrier") > col("_prev_a.ct")))
    // classify each (key, commit) row into 0..2 events and explode —
    // exactly the changes() single-pass idiom. Events are SKINNY: each
    // carries the commit of the version image it needs (`ict`), not the
    // image itself.
    def entry(imgCt: Column, kind: Column, commit: Column) =
      struct(imgCt.as("ict"), kind.as("t"), commit.as("c"))
    val ownCt = col(CommitTimeCol)
    val arr =
      // a tombstone only deletes a key that was present (a tombstone for
      // an absent key is a no-op, like the net feed's unmatched before)
      when(col("_isdel") && col("_present"),
        array(entry(col("_fill_ct"), lit("delete"), ownCt)))
      .when(col("_visible") && col("_vanish"),
        array(entry(ownCt, when(!col("_present"), "insert")
            .otherwise("update_postimage"), ownCt),
          entry(ownCt, lit("delete"), col("_chain_end"))))
      .when(col("_visible"),
        array(entry(ownCt, when(!col("_present"), "insert")
          .otherwise("update_postimage"), ownCt)))
    // no otherwise(): invisible versions and no-op tombstones yield
    // null, which explode() drops
    val events = full.select(col(RecordKeyCol), explode(arr).as("_x"))
      .select(col(RecordKeyCol), col("_x.ict").as("_ict"),
        col("_x.t").as(ChangeTypeCol), col("_x.c").as(ChangeCommitCol))
    // the single wide pass: every event pulls its version image by
    // (key, image commit) — verW is unique on that pair by construction.
    // The skinny EVENTS side is the hash build (guide §3.1): a
    // sort-merge join would shuffle AND SORT the wide image side — the
    // exact full-width sort this rework exists to avoid — while the
    // per-partition build table is only event keys.
    val images = verW.select(col(RecordKeyCol),
      col(CommitTimeCol).as("_ict"), col("_img"))
    images.join(events.hint("shuffle_hash"), Seq(RecordKeyCol, "_ict"))
      .select(u.map(n => col(s"_img.`$n`").as(n)) ++ Seq(
        col(ChangeTypeCol), col(ChangeCommitCol)): _*)
  }

  /** MOR read-optimized view: base files only, skipping un-compacted
    * deltas (reference MSK2Hudi.scala:5 / SURVEY S5). == snapshot for
    * COW.
    */
  def readOptimized(): DataFrame =
    readStats(timeline.liveFiles().filterNot(_.isDelta))

  /** Commit history of the active timeline, oldest first — the
    * DESCRIBE HISTORY analog, summarized from commit metadata alone (no
    * data access). Also surfaced as `CALL <cat>.system.timeline(...)`.
    */
  def history(): Seq[CommitSummary] =
    timeline.instants().map { i =>
      val c = timeline.read(i)
      CommitSummary(c.instant, c.operation,
        filesAdded = c.added.size, filesRemoved = c.removed.size,
        rowsAdded = c.added.map(_.numRecords).sum,
        bytesAdded = c.added.map(_.sizeBytes).sum,
        extra = Option(c.extra).getOrElse(Map.empty))
    }

  /** Register this table's current snapshot in the session catalog —
    * the stand-in for the reference's Hive meta sync
    * (HudiConfig.scala:38-44, package.scala:31-34; no HMS here). Readers
    * can then `spark.sql("SELECT ... FROM <name>")` like the reference's
    * temp-view flow (ODS2DWD.scala:32,41).
    */
  def syncToCatalog(name: String = _meta.name): Unit =
    snapshot().createOrReplaceTempView(name)

  private def absolute(rel: String): String = new Path(tablePath, rel).toString

  /** Build a DataFrame over `stats` through a metadata-backed FileIndex:
    * no filesystem listing at plan time, partition pruning served from
    * commit metadata (see [[LakeFileIndex]]).
    */
  private def readStats(stats: Seq[FileStat]): DataFrame = {
    if (stats.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], fullSchema)
    // renamed columns: files written before a rename keep the old
    // physical name — read BOTH names (absent ones null-fill under an
    // explicit schema) and coalesce below. A file never contains both
    // (writes emit only the current name, retired names can't be
    // re-added), so coalesce picks exactly the stored value.
    val ghosts = _meta.renamedFrom.toSeq.flatMap { case (cur, olds) =>
      val dt = fullSchema(fullSchema.fieldIndex(cur)).dataType
      olds.map(o => StructField(o, dt, nullable = true))
    }
    val physSchema = StructType(fullSchema.fields ++ ghosts)
    // DERIVED partition columns (hidden partitioning) are never part of
    // the user schema — synthesize their string field so the positional
    // dir decode still covers every path component; the final select
    // below restores fullSchema, so internal plan shapes never see them
    val partSchema = StructType(
      _meta.partitionFields.map(f =>
        if (_meta.partitionDerivations.contains(f))
          StructField(f, org.apache.spark.sql.types.StringType,
            nullable = true)
        else fullSchema(fullSchema.fieldIndex(f))))
    val dataSchema = StructType(
      physSchema.fields.filterNot(f => _meta.partitionFields.contains(f.name)))
    val index = new LakeFileIndex(spark, tablePath, stats, partSchema)
    // Bucket index, read side: when EVERY file in this read is a base
    // file carrying its commit-recorded bucket id, expose the layout as
    // a real BucketSpec — the scan reports HashPartitioning(keyCols, n),
    // so a join of two co-bucketed tables on the key plans with NO
    // shuffle on either side, and a key-equality filter prunes to one
    // bucket's files at plan time (Spark's own genBucketSet). Any
    // unrouted file in the set (delta, task-staged overwrite, pre-bucket
    // commit) falls back to a plain scan — correctness never rides on
    // the claim.
    val bucketSpec =
      if (_meta.bucketCount > 0 &&
          stats.forall(f => !f.isDelta && f.bucket.isDefined))
        Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
          _meta.bucketCount, _meta.recordKeyFields, Nil))
      else None
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partSchema, dataSchema, bucketSpec,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
      // relation output is dataSchema ++ partitionSchema — restore the
      // declared column order, resolving renamed columns across file
      // generations
      .select(fullSchema.fieldNames.toIndexedSeq.map { n =>
        _meta.renamedFrom.get(n) match {
          case Some(olds) => coalesce((n +: olds).map(col): _*).as(n)
          case None       => col(n)
        }
      }: _*)
  }

  // --------------------------------------------------------------- writes

  /** Append without key matching (Hudi `insert` op, reference
    * HudiOP.scala:4; may produce duplicate keys like Hudi insert does).
    *
    * OPTIMISTIC: the instant is reserved, the write job runs with no
    * lock held, and the lock is taken only for the publish. Appends
    * never write-write conflict (duplicate keys across inserts are
    * insert semantics even serially).
    */
  def insert(data: DataFrame, extra: Map[String, String] = Map.empty): String =
    reserved()((instant, _) => insertReserved(data, extra, instant)).get

  private def insertReserved(data: DataFrame, extra: Map[String, String],
      instant: String): Option[String] = {
    val incoming = withMeta(alignUser(data), instant)
    publishOptimistic(instant, writeStaging(incoming, instant), "insert",
      "base", Seq.empty, extra, visible = None)
    Some(instant)
  }

  /** The frame of every reserved write ([[insert]], [[upsert]],
    * [[delete]], [[txnPrepare]]): take the visible set, reserve the
    * instant, run `body(instant, visible)` — it returns the published
    * instant, or None when it published nothing — and release the
    * reservation. `holdOnSuccess` keeps it after a body that returns
    * normally (a txn prepare).
    *
    * The visible set is `visibleInstants`, not `instants`: an in-doubt
    * txn commit's data is invisible to the plan, so if it decides
    * committed it must be a conflict CANDIDATE at publish, not part of
    * the baseline.
    */
  private def reserved(holdOnSuccess: Boolean = false)(
      body: (String, Set[String]) => Option[String]): Option[String] = {
    val visible = timeline.visibleInstants().toSet
    val instant = timeline.reserveInstant()
    val out =
      try body(instant, visible)
      catch { case e: Throwable => timeline.releaseReservation(instant); throw e }
    if (!holdOnSuccess) timeline.releaseReservation(instant)
    out
  }

  /** Atomically replace the whole table content (SQL `INSERT OVERWRITE`):
    * one commit that adds the staged batch and removes every previously
    * live file. Readers see the old snapshot until the commit publishes;
    * time travel to pre-overwrite instants keeps working until `clean`.
    */
  def overwrite(data: DataFrame, extra: Map[String, String] = Map.empty): String = timeline.withLock() {
    rewriteLocked("overwrite", Some(data), extra = extra) { _ =>
      val live = timeline.liveFiles()
      Target(live, dropDirs = live.map(_.partition).toSet)
    }
  }

  /** Replace-where (Delta's replaceWhere / SQL `INSERT INTO ... REPLACE
    * WHERE` / static-partition `INSERT OVERWRITE ... PARTITION (...)`):
    * atomically delete every row matching `cond` and insert `data` — one
    * commit rewriting the files CONTAINING a matching row, found by a
    * distributed filter that a partition-aligned predicate prunes via the
    * metadata index. NULL-evaluating rows are kept. On MOR the rewrite
    * takes every live version of those files' keys ([[rewriteLocked]]),
    * so `cond` is decided on each key's latest version. Tombstone files
    * are never removed, but mask rows as a read barrier.
    */
  def replaceWhere(cond: Column, data: DataFrame,
      extra: Map[String, String] = Map.empty): String = timeline.withLock() {
    val matchCond = coalesce(cond, lit(false))
    rewriteLocked("replacewhere", Some(data), extra = extra) { _ =>
      val candidates = timeline.liveFiles().filterNot(_.tombstones > 0)
      val victims =
        if (candidates.isEmpty) Seq.empty
        else {
          import spark.implicits._
          val hit = readStats(candidates)
            .filter(matchCond)
            .select(input_file_name().as("_f")).distinct()
            .as[String].collect()
          candidates.filter(f => hit.exists(uriMatches(_, f.path)))
        }
      Target(victims, drop = Some(matchCond))
    }
  }

  /** Hive/Spark dynamic-partition-overwrite semantics (SQL `INSERT
    * OVERWRITE` under partitionOverwriteMode=dynamic, `writeTo(...)
    * .overwritePartitions()`): atomically replace exactly the partitions
    * the incoming batch touches, leaving every other partition alone.
    * Tombstone files are kept — they mask keys globally. On MOR a key
    * whose latest version lies in a replaced partition goes with all its
    * versions ([[rewriteLocked]]).
    */
  def overwritePartitions(data: DataFrame,
      extra: Map[String, String] = Map.empty): String = timeline.withLock() {
    requirePartitioned()
    rewriteLocked("overwritepartitions", Some(data), extra = extra)(
      overwrittenPartitions)
  }

  private def requirePartitioned(): Unit =
    require(_meta.partitionFields.nonEmpty,
      "dynamic partition overwrite requires a partitioned table " +
        "(unpartitioned tables: use overwrite())")

  /** The partition overwrite's target: the batch's dirs, every row gone. */
  private def overwrittenPartitions(dirs: Set[String]): Target =
    Target(scopedFiles(dirs), dropDirs = dirs)

  /** The live non-tombstone files of `dirs` — a partition-scoped
    * rewrite's target (tombstones mask keys globally: never removed).
    */
  private def scopedFiles(dirs: Set[String]): Seq[FileStat] =
    timeline.liveFiles().filter(f => dirs(f.partition) && f.tombstones == 0)

  /** Keyed upsert with precombine resolution (Hudi `upsert`, reference
    * package.scala:23 + HudiConfig.scala:45-48).
    *
    * Delete rows: a batch may carry a boolean [[LakeTable.DeletedCol]]
    * column (Hudi's `_hoodie_is_deleted`). A row whose flag is true
    * removes its key unconditionally, whatever the stored row's
    * precombine value ([[delete]] is an upsert of such rows); a delete
    * for a key that does not exist writes nothing. A CDC batch therefore
    * lands as ONE commit: COW tags and rewrites the matched files once,
    * MOR appends one delta whose delete rows are tombstones (in files
    * of their own: a tombstone file holds no live row). Inside the batch a
    * delete row resolves by precombine like any other row (a null
    * precombine sorts lowest). A batch without the column runs the
    * plain upsert plan.
    *
    * COW tagging and merge take one of two plans, split by ONE
    * threshold, [[LakeTable.BloomProbeMaxKeys]]:
    *  - point batch (at most that many rows, the streaming-CDC steady
    *    state): the batch's keys are collected to the driver once. Files
    *    are tagged bucket → key range → bloom (probed with those keys) →
    *    one exact scan of the survivors that returns the (file, key)
    *    hits. The merge splits the batch on that hit set — hits join
    *    their stored rows map-side (broadcast), the rest append as new —
    *    and the write runs one task per touched partition dir when the
    *    range-clustered write would be a single coalesced task anyway
    *    ([[writeStaging]]);
    *  - bulk batch: tagging semi-joins the batch against the range
    *    survivors, the merge is a sort-merge full outer join, and the
    *    write range-clusters.
    *
    * @param combine dedup the batch by key first (keep max precombine) —
    *   Hudi's `combine.before.upsert`. Pass false ONLY when the batch is
    *   known key-unique (e.g. already windowed/deduped upstream): it
    *   skips a full-batch shuffle, but duplicate keys would fan out the
    *   merge join and corrupt the table.
    */
  /** OPTIMISTIC concurrency (Hudi multi-writer OCC): the instant is
    * reserved up front, the merge plan and write job run with NO lock
    * held, and the lock is taken only for the conflict-checked publish.
    * A concurrent commit whose write-set overlaps this batch's key
    * ranges aborts the publish with `ConcurrentModificationException`
    * (re-run the upsert — the retry replans against the fresh
    * snapshot); disjoint writers publish freely. MOR delta appends are
    * conflict-free by construction — readers resolve concurrent
    * versions by (precombine, commit time).
    */
  def upsert(data: DataFrame, extra: Map[String, String] = Map.empty,
      combine: Boolean = true): String =
    upsertOrSkip(data, extra, combine, commitEmpty = true).get

  /** [[upsert]] that publishes nothing for a batch without rows (None) —
    * the "no rows, no commit" contract of the CDC routers and the hops,
    * decided by the bounds pass the upsert runs anyway instead of a
    * separate emptiness probe (which would plan and run the batch again).
    */
  private[graft] def upsertNonEmpty(data: DataFrame, combine: Boolean,
      extra: Map[String, String] = Map.empty): Option[String] =
    upsertOrSkip(data, extra, combine, commitEmpty = false)

  private def upsertOrSkip(data: DataFrame, extra: Map[String, String],
      combine: Boolean, commitEmpty: Boolean): Option[String] =
    reserved()(upsertReserved(data, extra, combine, _, _, commitEmpty))

  /** Commit nothing at `instant` under `op` — the empty commit of a batch
    * without rows, of a delete whose keys are all absent, and of a delete
    * on a table that has never been written.
    */
  private def commitNothing(instant: String, op: String,
      extra: Map[String, String]): Option[String] = {
    timeline.withLock() {
      timeline.commit(CommitMeta(instant, op, Seq.empty, Seq.empty, extra))
    }
    Some(instant)
  }

  /** The one keyed write, at an instant the caller reserved against the
    * `visible` set ([[reserved]]): [[upsert]]'s plan, also run by
    * [[delete]] (`op = "delete"`, a batch of delete rows). `op` names the
    * commit; a MOR upsert publishes as `deltacommit`.
    */
  private[graft] def upsertReserved(data: DataFrame,
      extra: Map[String, String], combine: Boolean, instant: String,
      visible: Set[String], commitEmpty: Boolean = true,
      op: String = "upsert"): Option[String] = {
    // delete rows (see [[upsert]]): the flag rides through alignment as
    // the meta column; without it the plan below is the plain upsert
    val marked = data.columns.contains(DeletedCol)
    val aligned = alignUser(data, keepDeleted = marked)
    val userCols = aligned.columns.toSeq.filterNot(_ == DeletedCol)
    val fieldOrder = userCols :+ CommitTimeCol :+ DeletedCol
    val pc = _meta.precombineField
    // within-batch precombine dedup: keep the max-precombine row per key.
    // max_by aggregates with partial (map-side) combine — cheaper at scale
    // than the window-function formulation. max_by skips null orderings,
    // so a row without a precombine value orders by struct (null lowest)
    // rather than leaving its key with null columns.
    val keyed = withMeta(aligned, instant)
    val incoming = (if (!combine) keyed
      else keyed
        .groupBy(col(RecordKeyCol))
        .agg(max_by(struct(fieldOrder.map(col): _*), struct(col(pc))).as("_s"))
        .select(col(RecordKeyCol) +: fieldOrder.map(c => col(s"_s.`$c`").as(c)): _*))
      .persist(StorageLevel.MEMORY_AND_DISK) // reference Y2, package.scala:66
    try {
      val (nRows, mnKey, mxKey, nDel) = batchBounds(incoming, marked)
      if (nRows == 0)
        return (if (commitEmpty) commitNothing(instant, op, extra) else None)
      val isDel = col(DeletedCol)
      def live(df: DataFrame) = if (marked) df.filter(!isDel) else df
      if (_meta.tableType == "mor") {
        // merge-on-read: append the deduped batch as delta files — no
        // matched-file lookup, no rewrite; readers resolve by key. This
        // is the cheap-write path the reference selects with
        // tableType=MOR (MSK2Hudi.scala:42, HudiConfig.scala:17-26).
        // Appends never conflict (concurrent versions of a key resolve
        // by precombine/commit-time at read). Delete rows become
        // tombstones, staged by a write of their own: a file reporting
        // tombstones is never a victim of replaceWhere, partition
        // overwrite or scoped compaction, so it must hold no live rows.
        val tombs = tombstoneRows(incoming.filter(isDel), instant)
        val staging =
          if (nDel == 0) writeStaging(incoming, instant)
          else if (nDel == nRows) writeStaging(tombs, instant)
          else writeStaging(tombs, instant,
            into = Some(writeStaging(live(incoming), instant)))
        publishOptimistic(instant, staging,
          if (op == "upsert") "deltacommit" else op, "delta",
          Seq.empty, extra, visible = None, () => maybeCompactInline())
        return Some(instant)
      }
      // point batch: its keys (and the partition values its rows carry)
      // come to the driver ONCE; tagging, the merge and the write all use
      // that copy. A bulk batch stays distributed end to end.
      val held = hold(incoming, nRows, dirs = true)
      val tagged = tagFiles(
        incoming.select(
          (RecordKeyCol +: _meta.recordKeyFields).distinct.map(col): _*),
        mnKey, mxKey, held)
      val matched = tagged.files
      // only deletes, and none of their keys exists: nothing to write
      if (matched.isEmpty && nDel == nRows)
        return commitNothing(instant, op, extra)
      val out =
        if (matched.isEmpty) live(incoming)
        else {
          val eS = readStats(matched)
            .select(col(RecordKeyCol), struct(fieldOrder.map(col): _*).as("e"))
          val iS = incoming
            .select(col(RecordKeyCol), struct(fieldOrder.map(col): _*).as("i"))
          val kept = when(col("i").isNull, col("e"))
          // a delete row removes its key whatever the stored precombine
          val winner = (if (marked) kept.when(col(s"i.`$DeletedCol`"), lit(null))
              else kept)
            .when(col("e").isNull, col("i"))
            .when(col(s"e.`$pc`") > col(s"i.`$pc`"), col("e"))
            .otherwise(col("i")).as("r")
          val mergedKeyed = tagged.hits match {
            case Some(hits) =>
              // point batch: the exact scan already returned the keys that
              // exist, so the batch splits on the driver-held hit set —
              // stored ⟕ broadcast(incoming) resolves updates map-side,
              // and incoming rows whose key is no hit append as new. The
              // matched files are scanned once, by this join.
              val iNew = iS.filter(!keyIn(hits))
              eS.join(broadcast(iS), Seq(RecordKeyCol), "left")
                .select(col(RecordKeyCol), winner)
                .unionAll(
                  (if (marked) iNew.filter(!col(s"i.`$DeletedCol`")) else iNew)
                    .select(col(RecordKeyCol), col("i").as("r")))
            case None =>
              // bulk batch: sort-merge full outer on the key — both sides
              // shuffle, the right plan when the update set is a large
              // fraction of the matched files
              eS.join(iS, Seq(RecordKeyCol), "full_outer")
                .select(col(RecordKeyCol), winner)
          }
          (if (marked) mergedKeyed.filter(col("r").isNotNull) else mergedKeyed)
            .select(col(RecordKeyCol) +: fieldOrder.map(c => col(s"r.`$c`").as(c)): _*)
        }
      val staging = writeStaging(out, instant, dirs = held.fold(
        Seq.empty[Seq[String]])(h => pointDirs(matched, nRows - nDel, h.dirs)))
      publishOptimistic(instant, staging, op, "base", matched.map(_.path),
        extra, Some(visible))
      Some(instant)
    } finally incoming.unpersist()
  }

  /** Delete by key (Hudi `delete`, reference HudiOP.scala:6): rows of
    * `data` name the keys to remove; a key that does not exist is a
    * no-op. The batch needs the record-key columns, plus the partition
    * columns under `indexScope = "partition"` (part of the record's
    * identity there; a batch without them fails loudly). Its other
    * columns are ignored, and it never changes the schema.
    *
    * A delete is an [[upsert]] of `_deleted` rows, committed as `delete`:
    * COW rewrites only the files holding a matched key (survivors keep
    * their `_commit_time`), MOR appends a tombstone delta. A table never
    * written, or a batch none of whose keys exists, gets an empty
    * `delete` commit.
    */
  def delete(data: DataFrame, extra: Map[String, String] = Map.empty): String =
    reserved()(deleteAsUpsert(data, extra, _, _)).get

  /** [[delete]]'s body: its keys as delete rows — identity columns kept,
    * every other user column a typed null, `_deleted = true` — through
    * the upsert's write.
    */
  private def deleteAsUpsert(data: DataFrame, extra: Map[String, String],
      instant: String, visible: Set[String]): Option[String] =
    userSchema match {
      case None => commitNothing(instant, "delete", extra)
      case Some(s) =>
        val identity = identityFields
        val rows = data.select(s.fields.toIndexedSeq.map(f =>
          (if (identity.contains(f.name)) col(f.name) else lit(null))
            .cast(f.dataType).as(f.name)) :+ lit(true).as(DeletedCol): _*)
        upsertReserved(rows, extra, combine = true, instant, visible,
          op = "delete")
    }

  /** MOR delete markers for the keys of `keys` (a frame carrying the
    * record key): user columns null, `_deleted = true` — the rows
    * [[tombstoneBarrier]] reads and `FileStat.tombstones` counts.
    */
  private def tombstoneRows(keys: DataFrame, instant: String): DataFrame =
    keys.select(userSchema.get.fields.toIndexedSeq
      .map(f => lit(null).cast(f.dataType).as(f.name)) ++
      Seq(col(RecordKeyCol), lit(instant).as(CommitTimeCol),
        lit(true).as(DeletedCol)): _*)

  // ---------------------------------------------------- file-set rewrites

  /** A rewrite's pick: the live `files` it replaces, and the rows of them
    * that go — those matching `drop` and those in the dirs `dropDirs`.
    */
  private case class Target(files: Seq[FileStat], drop: Option[Column] = None,
      dropDirs: Set[String] = Set.empty) {
    def dropsRows: Boolean = drop.isDefined || dropDirs.nonEmpty
  }

  /** A rewrite's row order within each dir (default: the record key) and
    * the keys it adds to its commit's `extra`.
    */
  private case class Layout(clusterExprs: Seq[Column] = Nil,
      extra: Map[String, String] = Map.empty)

  /** A batch its own tasks staged at the reserved `instant` (the SQL
    * dynamic partition overwrite): published unrouted, behind a
    * partition-level conflict check against the plan-time `visible` set.
    */
  private case class TaskStaged(instant: String, staging: Path,
      visible: Set[String])

  /** The one file-set rewrite, run by every commit that replaces live
    * files under the writer lock (caller holds it):
    *  1. stage the batch (`data` at a fresh instant, or `staged`) and
    *     `pick` the target given the partition dirs the batch staged;
    *  2. close the target over record keys ([[closeOverKeys]]);
    *  3. read the closed set — resolved under the live tombstone barrier
    *     when it holds a delta, as [[snapshotOfFiles]] does — and stage
    *     the surviving rows with `layout` into the batch's staging dir,
    *     so the publish numbers every file once (not read when every row
    *     goes);
    *  4. publish one commit `op` removing the closed set. Rows keep their
    *     `_commit_time`. Crash specs halt at `<op>.staged` / `<op>.renamed`:
    *     the residue is a staging dir or never-committed files, invisible
    *     to readers and swept by CALL system.cleanup_orphans.
    */
  private def rewriteLocked(op: String, data: Option[DataFrame] = None,
      staged: Option[TaskStaged] = None, extra: Map[String, String] = Map.empty,
      layout: DataFrame => Layout = _ => Layout())(
      pick: Set[String] => Target): String = {
    val instant = staged.fold(timeline.nextInstant())(_.instant)
    val batch = staged.map(_.staging).filter(fs.exists(_)).orElse(data.map(d =>
      writeStaging(withMeta(alignUser(d), instant), instant)))
    val target = pick(batch.fold(Set.empty[String])(stagedDirs))
    val live = timeline.liveFiles()
    val closed = closeOverKeys(target, live)
    val (staging, layoutExtra) =
      if (closed.forall(f => target.dropDirs(f.partition))) (batch, Map.empty)
      else {
        val resolved = if (!closed.exists(_.isDelta)) readStats(closed)
          else resolveLatest(readStats(closed), tombstoneBarrier(live))
        val kept = target.drop.fold(resolved)(c => resolved.filter(!c))
        val rows = (if (target.dropDirs.isEmpty) kept
          else withDerivedPartitions(kept).filter(!inDirs(target.dropDirs)))
          .persist(StorageLevel.MEMORY_AND_DISK) // layout + write passes
        try {
          val l = layout(rows)
          (Some(writeStaging(rows, instant, l.clusterExprs, into = batch,
            cached = true)), l.extra)
        } finally { rows.unpersist(); () }
      }
    FaultInjection.point(s"$op.staged")
    val stats = staging.fold(Seq.empty[FileStat]) { s =>
      val parts = collectStagedStats(s)
      staged.foreach(t => checkStagedConflict(instant, op, s, parts,
        t.visible, partitionLevel = true))
      renameStaged(s, instant, "base", parts, routed = staged.isEmpty)
    }
    FaultInjection.point(s"$op.renamed")
    timeline.commit(CommitMeta(instant, op, stats, closed.map(_.path),
      extra ++ layoutExtra))
    instant
  }

  /** Close a rewrite's target over record keys: a rewrite that resolves
    * or drops rows must take every live version of the keys it touches,
    * or an older version outlives a dropped row, or sits as a second
    * base next to the resolved one once no delta is left. It applies
    * when the table has a live delta and the target holds a delta or
    * drops rows; COW plans are unchanged. [[tagFiles]] adds the live
    * non-tombstone files holding a key of the target's deltas (of every
    * target file when rows are dropped), then of each added delta, until
    * none is added. A base key needs no probe otherwise: keyed writes
    * and rewrites leave no second base version of a key, so its other
    * versions are deltas outside, which stay live and win on read.
    */
  private def closeOverKeys(target: Target, live: Seq[FileStat]): Seq[FileStat] = {
    @scala.annotation.tailrec
    def grow(closed: Seq[FileStat], probe: Seq[FileStat]): Seq[FileStat] = {
      val in = closed.map(_.path).toSet
      val rest = live.filter(f => f.tombstones == 0 && !in(f.path))
      if (probe.isEmpty || rest.isEmpty) closed
      else {
        val keys = readStats(probe).select(
          (RecordKeyCol +: _meta.recordKeyFields).distinct.map(col): _*)
        val added = tagFiles(keys, probe.map(_.minKey).min,
          probe.map(_.maxKey).max, hold(keys, probe.map(_.numRecords).sum),
          rest).files
        grow(closed ++ added, added.filter(_.isDelta))
      }
    }
    val t = target.files
    if (!live.exists(_.isDelta) || !(target.dropsRows || t.exists(_.isDelta))) t
    else grow(t, if (target.dropsRows) t else t.filter(_.isDelta))
  }

  /** The partition dirs a staging dir holds parquet files in (a root
    * file is Spark's empty output, not a dir).
    */
  private def stagedDirs(staging: Path): Set[String] = {
    val dirs = scala.collection.mutable.Set[String]()
    val it = fs.listFiles(staging, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) dirs += partitionOfRel(relIn(staging, p))
    }
    dirs.toSet - ""
  }

  /** `true` on a row whose partition values (derived ones present) name
    * one of the stored `dirs` — compared as the strings Spark writes.
    */
  private def inDirs(dirs: Set[String]): Column =
    concat_ws("/", _meta.partitionFields.map { f =>
      val v = col(f).cast(StringType)
      concat(lit(s"$f="),
        when(v.isNull || v === "", lit("__HIVE_DEFAULT_PARTITION__")).otherwise(v))
    }: _*).isin(dirs.toSeq.map(_.split("/")
      .map(LakeFileIndex.unescapePathName).mkString("/")): _*)

  /** MOR table service: merge base + delta into fresh base files
    * (Hudi compaction; inline cadence per `inlineCompactMax`, reference
    * HudiConfig.scala:22-23). Rows keep their original `_commit_time`, so
    * incremental reads spanning a compaction stay correct. Tombstoned
    * keys are dropped by the barrier join, so a full compaction
    * physically removes deleted rows AND their tombstones.
    */
  def compact(): Option[String] =
    timeline.withLock() { compactLocked(timeline.liveFiles()) }

  /** Compact `target` when it holds a delta — caller holds the lock. */
  private def compactLocked(target: Seq[FileStat]): Option[String] =
    if (!target.exists(_.isDelta)) None
    else Some(rewriteLocked("compact")(_ => Target(target)))

  /** Partition-scoped compaction: merge base + deltas of the given
    * partition dirs into fresh base files — the per-file-group compaction
    * policy of log-structured table formats, so one hot partition's delta
    * debt does not force a whole-table rewrite.
    *
    * The rewrite takes every live version of the keys of the
    * partitions' deltas ([[rewriteLocked]]): a key that moved partition
    * under the global index, or whose delta here is stale, has its other
    * versions rewritten with it, so no key is left twice. Tombstone files
    * are never removed by a scoped compaction (they mask keys globally);
    * they are still applied as a read barrier, so masked rows are dropped
    * from the rewritten base. Only a FULL [[compact]] physically purges
    * tombstones.
    */
  def compactPartitions(parts: Set[String]): Option[String] =
    timeline.withLock() { compactLocked(scopedFiles(parts)) }

  private def maybeCompactInline(): Unit = {
    if (_meta.inlineCompactMax <= 0 && _meta.inlineCompactMaxBytes <= 0L)
      return
    if (_meta.asyncCompact) {
      // Async table service (reference KDS2Hudi.scala:131-133): the debt
      // check + compaction run on a background thread AFTER this commit
      // publishes, so the ingest path never waits for a rewrite. At most
      // one job is pending per table handle — the job re-evaluates debt
      // under the writer lock, so triggers that arrive while one is
      // queued are safely coalesced into it (and any debt the running
      // job missed re-triggers on the next commit).
      if (asyncServicePending.compareAndSet(false, true)) {
        lastAsyncService = LakeTable.serviceExecutor.submit(new Runnable {
          def run(): Unit =
            try timeline.withLock() { compactDebtLocked() }
            catch { case e: Throwable =>
              // kept for [[awaitTableServices]]: the first failure wins
              asyncServiceFailure.compareAndSet(null, e); ()
            } finally asyncServicePending.set(false)
        })
      }
    } else compactDebtLocked() // already under the writer lock
  }

  /** The inline-compaction debt policy — caller must hold the writer
    * lock. Per-file-group debt: a partition dir compacts when its
    * OUTSTANDING delta count reaches `inlineCompactMax` OR its
    * outstanding delta bytes reach `inlineCompactMaxBytes` (either
    * policy alone triggers — few huge deltas should not wait for many
    * small ones). Live-set counting self-resets at compact/cluster,
    * which remove the deltas, and only the dirs at or past a threshold
    * rewrite — a cold partition's file group is never rewritten because
    * a hot one keeps taking updates. Tombstone deltas (global key
    * maskers) cannot be purged by a scoped rewrite, so any tombstone
    * debt at threshold escalates to a full compaction.
    */
  private def compactDebtLocked(): Unit = {
    val maxN = _meta.inlineCompactMax
    val maxB = _meta.inlineCompactMaxBytes
    val live = timeline.liveFiles()
    val deltas = live.filter(_.isDelta)
    val hot = deltas.groupBy(_.partition).filter { case (_, fs) =>
      (maxN > 0 && fs.size >= maxN) ||
      (maxB > 0L && fs.map(_.sizeBytes).sum >= maxB)
    }.keySet
    if (hot.nonEmpty) {
      compactLocked(if (deltas.exists(_.tombstones > 0)) live
        else scopedFiles(hot))
      ()
    }
  }

  private val asyncServicePending =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var lastAsyncService: java.util.concurrent.Future[_] = _
  private val asyncServiceFailure =
    new java.util.concurrent.atomic.AtomicReference[Throwable]()

  /** Block until the currently-pending async table service (if any) has
    * finished — tests and orderly shutdown; ingest never calls this.
    * Rethrows the first async service failure since the last call (the
    * failed job's commit never published; the debt stays and re-triggers
    * on the next commit).
    */
  def awaitTableServices(): Unit = {
    val f = lastAsyncService
    if (f != null) f.get()
    val failed = asyncServiceFailure.getAndSet(null)
    if (failed != null) throw failed
  }

  /** Table service: small-file bin-packing (the OPTIMIZE/file-sizing
    * maintenance op). Partitions holding `minFiles`+ BASE files under
    * `targetBytes` get exactly those files rewritten into key-clustered,
    * well-filled ones; everything else — big files, cold partitions,
    * MOR deltas (compaction's job) — is untouched. Rows pass through
    * verbatim (same `_commit_time`, same precombine values), so merged
    * MOR reads, incremental reads and time travel resolve identically;
    * the commit removes only the packed files. At 100 TB the small-file
    * population is the metadata + task-granularity killer (every file is
    * a plan entry and a read task); packing is O(picked bytes), never
    * O(table).
    */
  def packSmallFiles(targetBytes: Long = 128L * 1024 * 1024,
      minFiles: Int = 2): Option[String] = timeline.withLock() {
    require(targetBytes > 0 && minFiles >= 2,
      s"need targetBytes > 0 and minFiles >= 2, got ($targetBytes, $minFiles)")
    val live = timeline.liveFiles()
    val picked = live
      .filter(f => !f.isDelta && f.tombstones == 0 &&
        f.sizeBytes > 0 && f.sizeBytes < targetBytes)
      .groupBy(_.partition).filter(_._2.size >= minFiles)
      .values.flatten.toSeq
    if (picked.isEmpty) None
    else Some(rewriteLocked("pack")(_ => Target(picked)))
  }

  /** Table service: rewrite the live file set clustered (range-
    * partitioned + sorted) by `sortCols` within each partition dir — the
    * sort-order/clustering service of modern table formats (Hudi
    * clustering, z-order-lite). Filters on `sortCols` then skip whole
    * files via parquet row-group min/max; snapshot content is unchanged
    * (rows keep their `_commit_time`, so incremental reads across a
    * clustering stay correct, and the rewrite is pruned from them by its
    * commit-range stats). Trade-off: files are no longer key-clustered,
    * so the next keyed upsert's file prune is wider until it rewrites.
    */
  def cluster(sortCols: Seq[String]): Option[String] = timeline.withLock() {
    require(sortCols.nonEmpty, "cluster needs at least one sort column")
    // fail fast on the statically-knowable misuse, before any instant /
    // frame work: arbitrary-column layout would replace the bucket
    // routing (zorder/hilbert compose instead — per-bucket curve order)
    require(_meta.bucketCount == 0,
      "cluster(col) layout rewrites are incompatible with the bucket " +
        "index: files must stay hash-routed by key " +
        "(zorder/hilbert compose — they sort WITHIN each bucket)")
    val live = timeline.liveFiles()
    if (live.isEmpty) None
    else Some(rewriteLocked("cluster",
      layout = _ => Layout(sortCols.map(col)))(_ => Target(live)))
  }

  /** Z-ORDER clustering rewrite: lays files along a space-filling curve
    * over several numeric columns so the per-file zone maps stay tight on
    * EVERY participating column at once — a lexicographic `cluster(a, b)`
    * sort gives b's zone maps no locality beyond ties in a.
    *
    * Bucketization is equi-depth (one multi-column `approxQuantile` pass
    * computes 2^bitsPerCol boundaries per column on the driver — a few KB
    * — so skewed distributions still spread across the curve), then the
    * per-column bucket ids are bit-interleaved into the sort key. A
    * maintenance rewrite like [[cluster]]: rows keep their commit times,
    * so time travel and incremental reads are unaffected.
    */
  def clusterZOrder(cols: Seq[String],
      bitsPerCol: Int = 8,
      incremental: Boolean = false): Option[String] = timeline.withLock() {
    require(cols.size * bitsPerCol <= 30,
      s"cols*bitsPerCol must fit an int, got ${cols.size * bitsPerCol} bits")
    // interleave: bit j of column i's bucket → output bit j*k + i,
    // so all columns contribute equally at every granularity
    clusterCurveLocked(cols, bitsPerCol, "zorder", incremental) { buckets =>
      val k = cols.size
      (for (i <- 0 until k; j <- 0 until bitsPerCol) yield
        shiftleft(shiftright(buckets(i), j).bitwiseAND(lit(1)), j * k + i))
        .reduce(_ + _)
    }
  }

  /** HILBERT clustering rewrite: same equi-depth bucketization as
    * [[clusterZOrder]] but the sort key is the Hilbert curve position —
    * consecutive curve cells are always face-adjacent, so file runs
    * form compact blobs instead of Z's diagonal jumps and box filters
    * open fewer files for the same file count (HilbertSpec pins the
    * segment-count dominance; ZoneMapSpec pins the file-level prune).
    */
  def clusterHilbert(cols: Seq[String],
      bitsPerCol: Int = 8,
      incremental: Boolean = false): Option[String] = timeline.withLock() {
    require(cols.size * bitsPerCol <= 62,
      s"cols*bitsPerCol must fit a long, got ${cols.size * bitsPerCol} bits")
    clusterCurveLocked(cols, bitsPerCol, "hilbert", incremental)(
      graft.functions.HilbertIndex(_, bitsPerCol))
  }

  /** Shared space-filling-curve clustering body — caller holds the
    * writer lock and supplies the bucket-ids→curve-position map.
    *
    * `incremental = true` is the liquid-clustering maintenance shape:
    * only files added SINCE the last matching curve commit are laid out
    * along the curve, reusing that commit's stored equi-depth bounds so
    * cell ids stay comparable across generations — previously-clustered
    * files are byte-untouched, and the service cost is O(new data), not
    * O(table), every cycle. Delta files are excluded from the
    * incremental target entirely (the [[packSmallFiles]] rule):
    * rewriting an update delta for key k into a `kind=base` file while
    * k's older version survives in an untargeted base would leave an
    * all-base snapshot with BOTH versions — [[snapshotOfFiles]] only
    * runs key resolution when some live file isDelta, so deltas must
    * be left to compaction, which rewrites the matching bases too.
    * Tombstone-bearing bases are likewise skipped (removing a
    * tombstone while its masked key survives in an untargeted base
    * would resurrect the row — the [[compactPartitions]] rule).
    * With no prior matching curve commit, incremental falls back to a
    * full clustering (which seeds the stored bounds).
    */
  private def clusterCurveLocked(cols: Seq[String], bitsPerCol: Int,
      curveKind: String, incremental: Boolean)(
      curve: Seq[Column] => Column): Option[String] = {
    require(cols.size >= 2,
      "curve clustering needs >= 2 columns; use cluster() for one")
    // numeric columns bucket their own double domain; string columns
    // bucket the order-preserving first-8-bytes proxy (zone maps keep
    // the exact string min/max, so the proxy only shapes the layout)
    def curveProxy(c: String): Column = {
      val dt = fullSchema(fullSchema.fieldIndex(c)).dataType
      dt match {
        case _: org.apache.spark.sql.types.NumericType =>
          col(c).cast("double")
        case org.apache.spark.sql.types.StringType =>
          graft.functions.StringPrefix64(col(c)).cast("double")
        case other => throw new IllegalArgumentException(
          s"curve column $c must be numeric or string (got $other); " +
            "derive a numeric proxy column for other types first")
      }
    }
    cols.foreach(curveProxy) // validate types up front
    val live = timeline.liveFiles()
    if (live.isEmpty) return None
    // prior bounds for THIS curve/cols/bits, if any (newest wins)
    val seed = Map("cluster.curve" -> curveKind,
      "cluster.cols" -> cols.mkString(","), "cluster.bits" -> bitsPerCol.toString)
    val prior: Option[(String, Seq[Seq[Double]])] = curveCommits()
      .find(c => seed.forall { case (k, v) => c.extra.get(k).contains(v) })
      .map(c => (c.instant, graft.util.Json.mapper.readValue(
        c.extra("cluster.bounds"), classOf[Array[Array[Double]]])
        .map(_.toSeq).toSeq))
    val (target, reused) = (incremental, prior) match {
      case (true, Some((since, bs))) =>
        val addedAt = timeline.between(Timeline.Earliest, MaxInstant)
          .flatMap(c => c.added.map(f => f.path -> c.instant)).toMap
        (live.filter(f => addedAt.get(f.path).forall(_ > since) &&
          !f.isDelta && f.tombstones == 0), Some(bs))
      case _ => (live, None) // full rewrite (seeds the bounds)
    }
    if (target.isEmpty) return None
    Some(rewriteLocked("cluster", layout = { rows =>
      val nb = 1 << bitsPerCol
      val bounds: Seq[Seq[Double]] = reused.getOrElse {
        val probs = (1 until nb).map(_.toDouble / nb).toArray
        val doubled = rows.select(cols.map(c => curveProxy(c).as(c)): _*)
        doubled.stat.approxQuantile(cols.toArray, probs, 0.01)
          .map(_.toSeq).toSeq
      }
      // bucket_c = #boundaries <= value (equi-depth rank, 0..nb-1);
      // nulls sort first (bucket 0). Codegen'd binary search — a
      // higher-order fold here gets re-inlined into every downstream
      // bit read by projection collapse (interpreted quadratic).
      val buckets = cols.zip(bounds).map { case (c, bs) =>
        coalesce(
          graft.functions.EquiDepthBucket(
            curveProxy(c), bs.distinct.sorted.toArray),
          lit(0))
      }
      Layout(Seq(curve(buckets)),
        seed + ("cluster.bounds" -> graft.util.Json.write(bounds)))
    })(_ => Target(target)))
  }

  /** The most recent curve-clustering commit's parameters, if any —
    * the seed an incremental maintenance run continues from.
    */
  private def lastCurveSeed(): Option[(String, Seq[String], Int)] =
    curveCommits().nextOption().map(c => (c.extra("cluster.curve"),
      c.extra("cluster.cols").split(",").toSeq, c.extra("cluster.bits").toInt))

  /** Curve-clustering commits (their `cluster.*` extra keys), newest first. */
  private def curveCommits(): Iterator[CommitMeta] =
    timeline.between(Timeline.Earliest, MaxInstant).reverseIterator
      .filter(_.extra.contains("cluster.bounds"))

  /** One-call maintenance policy (the table-services scheduler): run,
    * in order, exactly the services this table currently needs —
    *
    *  1. compaction when any delta debt is outstanding (MOR read
    *     amplification / tombstone resolution cost);
    *  2. small-file bin-packing against `targetBytes`;
    *  3. incremental curve clustering when a curve seed exists and new
    *     files arrived since (the liquid-maintenance cycle; on bucketed
    *     tables the curve orders rows WITHIN each hash bucket);
    *  4. secondary-index refresh for every existing posting sidecar
    *     (O(new files) each) — without it, post-build files accumulate
    *     outside the postings and the prune decays toward a full scan
    *     (lookups stay CORRECT; staleness safety is structural);
    *  5. retention clean beyond `retainCommits`.
    *
    * Staged QUERY artifacts (BM25 postings, span/band indexes, IVF
    * cells) are maintained by their own absorb/refresh calls
    * (`bm25Incremental`, `Dedup` staged bands, `ivfAddBatch`) — they
    * key on corpus snapshots, not table commits, so the table scheduler
    * is the wrong cadence for them.
    *
    * Each step is its own atomic commit under the writer lock and
    * no-ops without debt, so a scheduler can call this blindly every
    * cycle; the compact/pack outputs count as "new since seed" and get
    * curve-sorted by step 3 in the same call. Returns the work done as
    * (service, instant-or-count) pairs — empty means the table was
    * already healthy.
    */
  def maintain(targetBytes: Long = 128L * 1024 * 1024,
      retainCommits: Int = 8): Seq[(String, String)] = {
    val done = scala.collection.mutable.ArrayBuffer[(String, String)]()
    recoverTxns().foreach { case (i, outcome) => done += s"txn-$outcome" -> i }
    if (timeline.liveFiles().exists(_.isDelta))
      compact().foreach(i => done += "compact" -> i)
    packSmallFiles(targetBytes).foreach(i => done += "pack" -> i)
    lastCurveSeed().foreach { case (kind, cols, bits) =>
      val r =
        if (kind == "hilbert") clusterHilbert(cols, bits, incremental = true)
        else clusterZOrder(cols, bits, incremental = true)
      r.foreach(i => done += s"cluster-$kind" -> i)
    }
    indexedColumns().foreach { c =>
      val before = secondaryIndexAsOf(c)
      val after = refreshSecondaryIndex(c)
      if (after != before)
        after.foreach(i => done += s"secidx-$c" -> i)
    }
    val cleaned = clean(retainCommits)
    if (cleaned > 0) done += "clean" -> cleaned.toString
    done.toSeq
  }

  // ------------------------------------- multi-table transaction support

  /** PREPARE one operation of a multi-table transaction ([[TxnGroup]]):
    * runs the ordinary write path (same staging, OCC conflict check and
    * publish) but the commit carries the in-doubt txn markers, so it is
    * INVISIBLE to every reader until the coordinator decision record
    * says committed — and the instant's in-flight reservation is LEFT
    * HELD, capping incremental consumers' stable watermark below the
    * prepare until the caller releases it post-decision (the lost-commit
    * guard). On failure the reservation is released and the error
    * rethrown; the caller aborts the whole transaction.
    */
  private[graft] def txnPrepare(op: String, data: DataFrame, txnId: String,
      coord: String, combine: Boolean = true,
      userExtra: Map[String, String] = Map.empty): String = {
    val extra = userExtra ++ Map(Timeline.TxnIdKey -> txnId,
      Timeline.TxnCoordKey -> coord, Timeline.TxnPendingKey -> "true")
    reserved(holdOnSuccess = true)(op match {
      case "insert" => (instant, _) => insertReserved(data, extra, instant)
      case "upsert" => upsertReserved(data, extra, combine, _, _)
      case "delete" => deleteAsUpsert(data, extra, _, _)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported transactional operation: $other")
    }).get
  }

  /** Roll back an in-doubt or aborted txn prepare: drop its commit file
    * and delete its staged data files. Commit file FIRST — a crash
    * between the two steps leaves orphan data files (referenced by no
    * commit, swept by [[cleanOrphanedData]]), never a commit referencing
    * deleted files. Callers must have established the abort decision
    * first; readers already treat the commit as invisible either way.
    */
  private[graft] def txnRollback(instant: String): Unit = timeline.withLock() {
    if (!timeline.instants().contains(instant)) return // already rolled back
    val meta = timeline.read(instant)
    timeline.dropCommits(Seq(instant))
    timeline.requireLockHeld("txn rollback")
    meta.added.map(_.path).foreach(deleteDataFile)
  }

  /** Resolve every in-doubt multi-table-transaction commit on this
    * table's timeline — the participant-side recovery a scheduler (or
    * [[maintain]]) can run blindly:
    *
    *  - decision says committed → nothing to do (the commit is visible
    *    by resolution; reported for observability);
    *  - decision says aborted → roll the prepare back;
    *  - no decision, preparing writer still live (its in-flight
    *    reservation heartbeats) → leave it alone;
    *  - no decision, writer dead → decide ABORT through the coordinator
    *    (atomic under the coordinator table's writer lock — a paused
    *    coordinator waking later loses the decision race and reports
    *    the abort to its caller), then roll back.
    *
    * Returns (instant, "committed" | "rolledback") pairs.
    */
  def recoverTxns(): Seq[(String, String)] = {
    val pending = timeline.instants().map(timeline.read)
      .filter(_.extra.get(Timeline.TxnPendingKey).contains("true"))
    pending.flatMap { m =>
      val coord = m.extra(Timeline.TxnCoordKey)
      timeline.txnState(coord) match {
        case "committed" => Some(m.instant -> "committed")
        case "aborted" =>
          txnRollback(m.instant)
          Some(m.instant -> "rolledback")
        case _ if timeline.reservationLive(m.instant) => None
        case _ =>
          // dead writer, no decision: abort it (the presumed-abort rule)
          TxnGroup.decide(fs, coord, "aborted") match {
            case "committed" => Some(m.instant -> "committed")
            case _ =>
              txnRollback(m.instant)
              Some(m.instant -> "rolledback")
          }
      }
    }
  }

  /** Timeline archival (reference keep.min/max.commits): roll history
    * older than `keepCommits` into a checkpoint; see Timeline.archive.
    */
  def archiveTimeline(keepCommits: Int): Seq[String] =
    timeline.withLock() {
      // a savepointed instant must stay on the ACTIVE timeline — its
      // snapshot is reconstructed from commits ≤ it, which archival
      // collapses into the boundary checkpoint
      val keep = savepoints().headOption match {
        case Some(sp) =>
          val inst = timeline.instants()
          math.max(keepCommits, inst.size - inst.indexOf(sp))
        case None => keepCommits
      }
      timeline.archive(keep)
    }

  // ------------------------------------------------------ secondary index

  /** Secondary (non-key column) point-lookup index: per-column POSTING
    * LISTS `(value, data file)` in a sidecar [[Generations]] generation
    * under `_lake/secidx/<column>/asof_<instant>/`. Where
    * the per-file zone maps ([[FileStat.cols]]) prune by [min, max]
    * range — useless once a probed value falls inside every file's
    * range — the posting list names EXACTLY the files holding the
    * value, the Hudi-1.0 secondary-index shape.
    *
    * Correctness under staleness is structural, not best-effort:
    * [[snapshotWhere]] reads (a) the posting-matched base files, (b)
    * EVERY file added by commits after the index's as-of instant, and
    * (c) every live delta file — so any newer version of any row is
    * always in the read set, and the residual filter on top keeps the
    * predicate exact. A base file live at the as-of instant can only
    * leave the live set (COW rewrite/delete moves its survivors into a
    * post-as-of file covered by (b)), never change — so the only way
    * the index can go stale-WRONG is a [[restore]] below its as-of
    * instant, which [[secondaryIndexAsOf]] detects (as-of no longer on
    * the timeline ⇒ index ignored, lookups fall back to the full
    * scan; rebuild to re-enable).
    *
    * Scale shape: the build is one column-pruned scan emitting
    * per-file distinct values (map-side combinable); the lookup reads
    * the (small) index with the value predicate pushed to its parquet
    * scan, collects a FILE LIST (bounded metadata — files holding the
    * value), and plans a snapshot over that pruned set: O(files
    * containing v + files since the index), not O(table).
    */
  private def secIdxDir(column: String) =
    new Path(tablePath, s"_lake/secidx/$column").toString

  private def fileBase(rel: String): String =
    rel.substring(rel.lastIndexOf('/') + 1)

  /** Build (or rebuild) the posting-list index for `column` as of the
    * latest commit. Returns the as-of instant, or None on an empty
    * table. No lock needed: the source file set is an immutable
    * committed view and the sidecar generation is `_SUCCESS`-gated.
    */
  def buildSecondaryIndex(column: String): Option[String] = {
    val asOf = latestCommit.getOrElse(return None)
    val base = timeline.liveFiles(asOf).filterNot(_.isDelta)
    if (base.isEmpty) return None
    // posting entries key on the data file's basename (UUID-named, so
    // unique per table); guard the assumption loudly
    val names = base.map(f => fileBase(f.path))
    require(names.distinct.size == names.size,
      s"secondary index requires unique data-file basenames")
    val posting = readStats(base)
      .select(col(column).as("v"),
        element_at(split(input_file_name(), "/"), -1).as("file"))
      .distinct()
    Some(Generations.publish(spark, secIdxDir(column), SecIdxPrefix, asOf,
      Some(posting)))
  }

  /** Columns that currently have a posting-list index sidecar — the
    * set [[maintain]]'s index-upkeep step refreshes. One listing of
    * `_lake/secidx/`; only dirs holding at least one complete
    * (`_SUCCESS`-gated) generation count.
    */
  def indexedColumns(): Seq[String] = {
    val root = new Path(tablePath, "_lake/secidx")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(c =>
        Generations.list(spark, secIdxDir(c), SecIdxPrefix).nonEmpty)
      .sorted
  }

  /** Incrementally refresh the posting-list index for `column`: scan
    * ONLY base files added since the current generation's as-of
    * instant, drop postings of files removed since, and publish the
    * merged generation — O(new files), never a table rescan. This is
    * the per-commit maintenance path at 100 TB (the same incremental
    * contract as the IVM families); [[buildSecondaryIndex]] is the
    * bootstrap/repair full build, which this falls back to when no
    * valid generation exists.
    */
  def refreshSecondaryIndex(column: String): Option[String] =
    secondaryIndexAsOf(column) match {
      case None => buildSecondaryIndex(column)
      case Some(asOf) =>
        val latest = latestCommit.getOrElse(return None)
        if (latest <= asOf)
          return Some(Generations.publish(spark, secIdxDir(column),
            SecIdxPrefix, asOf, None))
        val newBase = timeline.addedBetween(asOf, MaxInstant)
          .filterNot(_.isDelta)
        val goneBases = timeline.between(asOf, latest)
          .flatMap(_.removed).map(fileBase).toSet
        val old = Generations.read(spark, secIdxDir(column), SecIdxPrefix,
          asOf).filter(!col("file").isin(goneBases.toSeq: _*))
        val fresh =
          if (newBase.isEmpty) old
          else old.unionByName(readStats(newBase)
            .select(col(column).as("v"),
              element_at(split(input_file_name(), "/"), -1).as("file"))
            .distinct())
        Some(Generations.publish(spark, secIdxDir(column), SecIdxPrefix,
          latest, Some(fresh)))
    }

  /** The newest VALID index generation for `column`: its as-of instant
    * must still be on the active timeline ([[Generations]]). After a
    * [[restore]] below the build, files the dropped rewrite had removed
    * are live again and absent from its postings; archival that
    * collapses the as-of commit also invalidates (spuriously but safely
    * — lookups fall back to the full scan; rebuild to re-enable).
    */
  def secondaryIndexAsOf(column: String): Option[String] =
    Generations.current(spark, secIdxDir(column), SecIdxPrefix)(
      timeline.instants().toSet)

  /** The pruned live-file set for a probe of `values` on `column`, or
    * None when no valid index exists. The posting read is a filter-
    * pushed scan of the small index; the collect is bounded metadata
    * (the file list holding the probed values).
    */
  private[lake] def secondaryPrunedFiles(column: String,
      values: Seq[Any]): Option[Seq[FileStat]] =
    secondaryIndexAsOf(column).map { asOf =>
      val idx = Generations.read(spark, secIdxDir(column), SecIdxPrefix,
        asOf)
      val matched = idx
        .filter(col("v").isin(values: _*))
        .select("file").distinct()
        .collect().map(_.getString(0)).toSet
      val newer = timeline.addedBetween(asOf, MaxInstant).map(_.path).toSet
      timeline.liveFiles().filter(f =>
        f.isDelta || newer.contains(f.path) ||
          matched.contains(fileBase(f.path)))
    }

  /** Point lookup on a NON-key column through the secondary index:
    * the merged snapshot filtered to `column IN values`, reading only
    * posting-matched + post-index + delta files. Falls back to the
    * full snapshot scan when no valid index exists — same result,
    * index only changes the read set.
    */
  def snapshotWhere(column: String, values: Seq[Any]): DataFrame = {
    val pred = col(column).isin(values: _*)
    secondaryPrunedFiles(column, values) match {
      case Some(keep) => snapshotOfFiles(keep).filter(pred)
      case None => snapshot().filter(pred)
    }
  }

  // ------------------------------------------------------------- branching

  /** Zero-copy branch (Delta shallow clone / Nessie branch shape): a new
    * table at `destPath` whose genesis commit REFERENCES this table's
    * live data files by absolute path — no data copied, the branch is
    * writable immediately and evolves its own timeline while the source
    * keeps its own.
    *
    * Contracts:
    *  - The fork instant is SAVEPOINTED on the source, so source cleans
    *    can never reclaim a file the branch's genesis references
    *    (release it when the branch is merged/abandoned).
    *  - Branch-side table services never touch source files physically:
    *    every physical delete goes through [[deleteDataFile]], which
    *    skips external (absolute) paths — a branch clean/restore/vacuum
    *    only reclaims files the branch itself wrote.
    *  - Pre-fork history is FLATTENED into the genesis (rows keep their
    *    source `_commit_time`s, but branch time travel starts at the
    *    fork) — the same contract as Delta's shallow clone.
    */
  def shallowCloneTo(destPath: String, name: String): LakeTable = {
    val asOf = latestCommit.getOrElse(
      throw new IllegalStateException("cannot branch an empty table"))
    savepoint(asOf)
    val live = timeline.liveFiles(asOf)
    val srcRoot = fs.makeQualified(tablePath).toUri.getPath
    val branch = LakeTable.create(spark, destPath, _meta.copy(name = name))
    // an already-absolute path is an EXTERNAL reference this table
    // inherited (branch-of-branch: our genesis points into our own
    // source) — keep it verbatim; prefixing srcRoot would mint a
    // '/dest/..//src/...' path that never resolves
    val extStats = live.map(f =>
      if (f.path.startsWith("/") || f.path.contains("://")) f
      else f.copy(path = s"$srcRoot/${f.path}"))
    branch.timeline.withLock() {
      val instant = branch.timeline.nextInstant()
      branch.timeline.commit(CommitMeta(instant, "clone", extStats,
        Seq.empty, Map("clone.source" -> srcRoot, "clone.asof" -> asOf)))
    }
    branch
  }

  /** Merge a branch's net changes since the fork back into this table:
    * ONE upsert commit carrying the branch's current versions of changed
    * keys and `_deleted` rows for branch-deleted keys, derived from the
    * branch's OWN change feed — O(branch-changed rows), never a table
    * diff.
    *
    * With `failOnConflict` (default), keys changed on BOTH sides since
    * the fork abort the merge (the Nessie/git contract); without it the
    * standard upsert payload ordering decides (greater precombine wins).
    * In the conflict-free case the branch version always wins: this
    * table still holds the fork-time version, which the branch's write
    * already superseded under the same ordering.
    *
    * Returns the merge commit, or None when the branch has no changes
    * since `forkInstant`.
    */
  def mergeFrom(branch: LakeTable, forkInstant: String,
      failOnConflict: Boolean = true): Option[String] = {
    // the fork instant lives on THIS table's timeline; on the branch the
    // same state is its genesis CLONE commit (a later wall-clock
    // instant) — branch-side changes must baseline there, or the whole
    // genesis reads as inserts and branch deletes net to nothing
    val genesis = branch.timeline.instants().headOption.getOrElse(
      throw new IllegalStateException("branch has no commits"))
    val gMeta = branch.timeline.read(genesis)
    require(gMeta.operation == "clone" &&
        gMeta.extra.get("clone.asof").contains(forkInstant),
      s"not a branch forked from this table at $forkInstant " +
        s"(genesis: ${gMeta.operation} ${gMeta.extra})")
    // materialize the feed ONCE: it is a multi-join job over snapshot
    // files, and the emptiness probe, conflict semi-join, and the write
    // below would otherwise each recompute it (3x). Sized
    // O(branch-changed rows) by construction, so the local materialize
    // is a sliver, not a table
    val ch = branch.changes(genesis)
      .filter(col(ChangeTypeCol) =!= "update_preimage")
      .localCheckpoint()
    if (ch.isEmpty) return None
    val keyCols = _meta.recordKeyFields
    if (failOnConflict) {
      val mine = changes(forkInstant)
        .select(keyCols.map(col): _*).distinct()
      val conflicts = ch.select(keyCols.map(col): _*).distinct()
        .join(mine, keyCols, "left_semi")
        .limit(5).collect()
      require(conflicts.isEmpty,
        s"merge conflict: keys changed on both sides since $forkInstant, " +
          s"e.g. ${conflicts.map(_.toSeq.mkString("(", ",", ")")).mkString(" ")}")
    }
    // one key per row (the net feed minus preimages): inserts and
    // postimages upsert, branch deletes ride along as `_deleted` rows
    Some(upsert(ch.withColumn(DeletedCol, col(ChangeTypeCol) === "delete")
      .drop(ChangeTypeCol, ChangeCommitCol), combine = false))
  }

  /** Physical data-file deletion, branch-safe: externally referenced
    * files (absolute paths written by [[shallowCloneTo]]'s genesis) are
    * NEVER ours to destroy — they belong to the source table. Logical
    * removal still applies; only the disk delete is skipped.
    */
  private def deleteDataFile(rel: String): Unit =
    if (!rel.startsWith("/") && !rel.contains("://")) {
      fs.delete(new Path(tablePath, rel), false)
      ()
    }

  // ------------------------------------------------------------ savepoints

  private def savepointDir = new Path(tablePath, "_lake/savepoints")
  private def savepointPath(i: String) =
    new Path(savepointDir, i + ".savepoint")

  /** Pin a committed instant (Hudi savepoint): [[clean]] keeps every
    * file its snapshot needs and [[archiveTimeline]] keeps it on the
    * active timeline, so time travel / restore to it always work
    * regardless of retention. Released via [[releaseSavepoint]].
    */
  def savepoint(instant: String): Unit = timeline.withLock() {
    require(timeline.instants().contains(instant),
      s"unknown instant $instant")
    fs.mkdirs(savepointDir)
    val out = fs.create(savepointPath(instant), true)
    out.close()
  }

  def releaseSavepoint(instant: String): Unit = timeline.withLock() {
    fs.delete(savepointPath(instant), false)
    ()
  }

  /** Pinned instants, ascending. */
  def savepoints(): Seq[String] =
    if (!fs.exists(savepointDir)) Seq.empty
    else fs.listStatus(savepointDir).toSeq
      .map(_.getPath.getName.stripSuffix(".savepoint")).sorted

  /** Table service: physically delete files removed more than
    * `retainCommits` commits ago (reference clean/archive knobs,
    * HudiConfig.scala:33-37). Incremental reads older than the retained
    * window stop working — same footgun as the reference's
    * `keep 2 commits` default, documented in SURVEY §7.
    */
  /** Remove staging directories left by crashed writes (they are
    * pre-commit, so deleting them can never lose committed data). Only
    * dirs older than `olderThanMs` are touched, to avoid racing a live
    * writer's staging area.
    */
  def cleanOrphanedStaging(olderThanMs: Long = 60 * 60 * 1000L): Int = {
    val stagingRoot = new Path(tablePath, "_lake/staging")
    if (!fs.exists(stagingRoot)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = fs.listStatus(stagingRoot)
      .filter(_.getModificationTime < cutoff)
    orphans.foreach(st => fs.delete(st.getPath, true))
    orphans.length
  }

  /** Roll the table back to `instant` (Hudi savepoint-restore): drop
    * every later commit and physically delete the files those commits
    * added. Refuses when the target state is no longer reconstructible —
    * a later `clean` may have deleted files that were live at `instant`
    * (the same retention contract that bounds time travel) — and when an
    * ACTIVE savepoint pins a later snapshot: [[savepoint]] documents
    * that pinned snapshots stay reconstructible, and a branch genesis
    * ([[shallowCloneTo]]) references the pinned files absolutely, so
    * restoring below one would physically delete files every outstanding
    * branch needs. Pass `force = true` to explicitly accept destroying
    * them. Irreversible: the rolled-back commits and their data are
    * gone.
    */
  def restore(instant: String, force: Boolean = false): Unit =
      timeline.withLock() {
    val all = timeline.instants()
    require(all.contains(instant), s"unknown instant $instant")
    val drop = all.filter(_ > instant)
    if (drop.isEmpty) return
    val pinned = savepoints().filter(_ > instant)
    require(force || pinned.isEmpty,
      s"cannot restore to $instant: savepoint(s) ${pinned.mkString(", ")} " +
        "pin later snapshots (e.g. a branch fork); release them first or " +
        "pass force = true to destroy them")
    // verify the restored live set still exists on disk (a clean after a
    // later rewrite may have removed it)
    val missing = timeline.liveFiles(instant)
      .filterNot(f => fs.exists(new Path(tablePath, f.path)))
    require(missing.isEmpty,
      s"cannot restore to $instant: ${missing.size} file(s) cleaned away, " +
        s"e.g. ${missing.take(3).map(_.path).mkString(", ")}")
    val dropped = drop.map(timeline.read)
    timeline.dropCommits(drop)
    // delete the rolled-back commits' data files (now unreferenced);
    // fenced like clean's deletes — destruction is not retryable
    timeline.requireLockHeld("restore")
    dropped.flatMap(_.added.map(_.path)).distinct
      .foreach(deleteDataFile)
    // savepoints above the restore target point at dropped commits
    savepoints().filter(_ > instant).foreach(releaseSavepoint)
  }

  /** Remove published-but-never-committed data files — the residue of a
    * writer that crashed AFTER publishing its data files but BEFORE its
    * commit (a same-instant retry self-cleans them; this sweeps the rest,
    * e.g. when the clock moved the retry to a new instant). A file is an
    * orphan iff NO active commit references it, as added (live or
    * historical) or as removed-awaiting-clean. Safe under the writer
    * lock — publishes also happen under it, so nothing is mid-publish
    * while the sweep lists. O(data files on disk): an opt-in maintenance
    * op, never on the write path.
    */
  def cleanOrphanedData(): Int = timeline.withLock() {
    val commits = timeline.instants().map(timeline.read)
    val referenced = (commits.flatMap(_.added.map(_.path)) ++
      commits.flatMap(_.removed)).toSet
    val rootUri = fs.makeQualified(tablePath).toUri.getPath
    val orphans = scala.collection.mutable.ArrayBuffer[Path]()
    val it = fs.listFiles(tablePath, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toUri.getPath
      if (p.startsWith(rootUri + "/")) {
        val rel = p.substring(rootUri.length + 1)
        if (rel.endsWith(".parquet") && !rel.startsWith("_lake/") &&
            !referenced.contains(rel))
          orphans += st.getPath
      }
    }
    orphans.foreach(p => fs.delete(p, false))
    orphans.length
  }

  /** Retire transaction decision records nothing references anymore.
    * Deleting one returns its prepares to the in-doubt ("pending")
    * resolution, so the rules differ by state:
    *
    *  - **aborted** records are deletable once THIS table stops
    *    referencing them: a participant that still holds an
    *    aborted-pending prepare sees "pending" after the delete — the
    *    SAME invisible state — and its recovery re-decides abort (the
    *    writer is long dead), converging to the identical rollback;
    *  - **committed** records are deletable only when EVERY participant
    *    listed in the record has stopped referencing it (sealed by
    *    archival, or its timeline is gone) — flipping a live committed
    *    prepare back to in-doubt would let recovery abort a committed
    *    transaction. Records without a participant list are kept.
    *
    * Tiny files; swept with [[clean]]; O(records × participants)
    * metadata reads, no data touched.
    */
  private def cleanTxnRecords(): Int = {
    val txnDir = new Path(tablePath, "_lake/txn")
    if (!fs.exists(txnDir)) return 0
    def pendingRefs(tl: Timeline): Set[String] =
      tl.instants().map(tl.read)
        .filter(_.extra.get(Timeline.TxnPendingKey).contains("true"))
        .flatMap(_.extra.get(Timeline.TxnCoordKey))
        .map(c => new Path(c).getName).toSet
    val localRefs = pendingRefs(timeline)
    val deletable = fs.listStatus(txnDir)
      .filter(_.getPath.getName.endsWith(".json"))
      .filter { st =>
        val name = st.getPath.getName
        val node = try {
          val in = fs.open(st.getPath)
          try {
            val bytes = new Array[Byte](st.getLen.toInt)
            in.readFully(bytes)
            graft.util.Json.mapper.readTree(
              new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          } finally in.close()
        } catch { case _: java.io.IOException => null }
        val state = Option(node).flatMap(n => Option(n.get("state")))
          .map(_.asText()).getOrElse("")
        val tables = Option(node).flatMap(n => Option(n.get("tables")))
          .map { arr =>
            (0 until arr.size()).map(i => arr.get(i).asText())
          }.getOrElse(Seq.empty)
        state match {
          case "aborted" =>
            // age gate: deleting an aborted record returns its txn to
            // "pending", and a zombie coordinator paused between its
            // fence and decide() would then write "committed" for a
            // transaction whose halves were already rolled back. Any
            // coordinator that passed its fence while reservations
            // were live must decide within the reservation-stale TTL
            // (decide's in-lock verify re-checks liveness), so a
            // record older than 2× that TTL has no live racer left —
            // only then may it retire. Also prevents maintain()'s
            // recoverTxns (writes the abort) and clean (would delete
            // it) from racing within one pass: a fresh abort record
            // always survives the pass that wrote it.
            !localRefs.contains(name) &&
              (System.currentTimeMillis() - st.getModificationTime >
                Timeline.txnAbortGraceMs)
          case "committed" if tables.nonEmpty =>
            tables.forall { tp =>
              val p = new Path(tp)
              try !fs.exists(p) ||
                !pendingRefs(new Timeline(fs, p)).contains(name)
              catch { case _: java.io.IOException => false }
            }
          case _ => false
        }
      }
    deletable.foreach(st => fs.delete(st.getPath, false))
    deletable.length
  }

  /** Partition-retention service: logically DROP every partition
    * directory whose value for `column` sorts strictly below `cutoff` —
    * the ops lever hidden time-transform partitioning exists for
    * (derived day/month/hour strings sort chronologically, so
    * `expirePartitions("ts_months", "2024-01")` retires everything
    * before 2024). METADATA-ONLY: one delete commit lists the dropped
    * files as removed — no data is read or rewritten, snapshot/
    * incremental/CDC semantics are the ordinary delete-commit ones,
    * time travel below the expiry still sees the rows, and [[clean]]
    * physically deletes the files once they age past retention
    * (savepoints keep pinning theirs). The comparison is lexicographic
    * on the directory-encoded value (== chronological for the derived
    * transforms; for identity partitions make sure the encoding
    * sorts the way you mean). The null-partition sentinel never
    * expires. Refused while MOR delta files are live — a delta row for
    * an expired key would outlive its dropped base and resurface as a
    * half-merged row; compact first.
    *
    * @return the dropped partition values (distinct, sorted)
    */
  def expirePartitions(column: String, cutoff: String): Seq[String] =
    timeline.withLock() {
      require(_meta.partitionFields.contains(column),
        s"$column is not a partition column of ${_meta.name}")
      val live = timeline.liveFiles()
      require(!live.exists(_.isDelta),
        "expirePartitions needs an all-base table (MOR delta rows would " +
          "outlive their dropped base files); run compact() first")
      def valueOf(part: String): Option[String] = part.split("/")
        .collectFirst { case kv if kv.startsWith(column + "=") =>
          kv.drop(column.length + 1) }
      val dropped = live.filter(f => valueOf(f.partition)
        .exists(v => v != "__HIVE_DEFAULT_PARTITION__" && v < cutoff))
      if (dropped.isEmpty) return Seq.empty
      timeline.requireLockHeld("expire-partitions")
      val instant = timeline.nextInstant()
      timeline.commit(CommitMeta(instant, "delete", Seq.empty,
        dropped.map(_.path),
        Map("expire.column" -> column, "expire.cutoff" -> cutoff)))
      dropped.flatMap(f => valueOf(f.partition)).distinct.sorted
    }

  /** @return number of physically deleted data files */
  def clean(retainCommits: Int = 2): Int = timeline.withLock() {
    cleanOrphanedStaging()
    cleanTxnRecords()
    val inst = timeline.instants()
    if (inst.size <= retainCommits) return 0
    val cutoff = inst(inst.size - retainCommits - 1)
    // A file is physically deletable only when the commit that REMOVED it
    // is at or before the cutoff: every retained instant t > cutoff then
    // already sees it as logically removed, so snapshotAsOf / incremental
    // over the retained window never opens it (Hudi KEEP_LATEST_COMMITS
    // keeps the file slices the last N commits can reach). Selecting by
    // add-instant instead would delete files still live at retained
    // instants and break time travel within the retention window.
    val commits = inst.map(timeline.read)
    val alreadyCleaned =
      commits.filter(_.operation == "clean").flatMap(_.removed).toSet
    // files a SAVEPOINTED snapshot still needs are never deletable,
    // whatever removed them later — the savepoint pins them
    val pinned = savepoints()
      .flatMap(sp => timeline.liveFiles(sp).map(_.path)).toSet
    // a commit that is NOT txn-visible (an in-doubt — undecided or
    // aborted-but-not-yet-rolled-back — multi-table prepare) lists the
    // base files it replaced in `removed`, but readers still SEE those
    // files live (commitsUpTo filters the prepare out): its removed set
    // only becomes cleanable after the transaction decides committed.
    // Aborted prepares roll back (their removed files stay live
    // forever), undecided ones may commit later — either way deleting
    // now corrupts every visible snapshot.
    val deletable = commits
      .filter(c => c.instant <= cutoff && c.operation != "clean" &&
        timeline.txnVisible(c))
      .flatMap(_.removed)
      .distinct
      .filterNot(alreadyCleaned.contains)
      .filterNot(pinned.contains)
    // fencing: physical deletes cannot be rolled back by an aborted
    // commit — verify the lock lease is still ours before destroying
    timeline.requireLockHeld("clean")
    deletable.foreach(deleteDataFile)
    if (deletable.nonEmpty) {
      val instant = timeline.nextInstant()
      timeline.commit(CommitMeta(instant, "clean", Seq.empty, deletable))
    }
    deletable.size
  }

  // ------------------------------------------------- schema evolution DDL

  /** Physical names retired by renames — still present in old data files,
    * never allowed back as user columns.
    */
  private def retiredNames: Set[String] = _meta.renamedFrom.values.flatten.toSet

  /** Metadata-only column rename — no data rewrite. Old files keep the
    * old physical name; reads coalesce the current and prior names (see
    * [[readStats]]), writes emit only the new name, and the next
    * compaction/clustering retires the old name physically. Record-key
    * and precombine columns may be renamed (their VALUES, including the
    * stored `_record_key`, are unchanged); partition columns cannot —
    * their name is baked into the directory layout.
    */
  def renameColumn(oldName: String, newName: String): Unit = timeline.withLock() {
    val u = userSchema.getOrElse(
      throw new IllegalStateException("table has no schema yet"))
    require(u.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!u.fieldNames.contains(newName), s"column exists: $newName")
    require(!_meta.partitionFields.contains(oldName),
      s"cannot rename partition column $oldName (directory layout bakes its name)")
    require(!derivationSources.contains(oldName),
      s"cannot rename $oldName: a hidden partition column derives from " +
        s"it (${_meta.partitionDerivations})")
    require(!_meta.droppedColumns.contains(newName) && !retiredNames.contains(newName),
      s"$newName was previously dropped/renamed away; old files still hold it")
    // nullable: pre-rename files don't contain the new physical name —
    // the reader null-fills it there and the coalesce restores the value
    val evolved = StructType(u.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName, nullable = true) else f))
    val priorChain = _meta.renamedFrom.getOrElse(oldName, Seq.empty)
    _meta = _meta.copy(
      schemaJson = evolved.json,
      recordKeyFields =
        _meta.recordKeyFields.map(n => if (n == oldName) newName else n),
      precombineField =
        if (_meta.precombineField == oldName) newName else _meta.precombineField,
      renamedFrom =
        (_meta.renamedFrom - oldName) + (newName -> (oldName +: priorChain)))
    TableMeta.save(fs, tablePath, _meta)
  }

  /** Metadata-only column ADD — no data rewrite: files written before
    * the add simply null-fill the new column under the explicit read
    * schema (the same mechanism write-time schema evolution uses). The
    * column is always nullable — pre-existing rows have no value for it.
    * Re-adding a dropped/renamed-away name is refused (old files still
    * hold stale values that would resurrect).
    */
  def addColumn(name: String, dataType: DataType): Unit = timeline.withLock() {
    val u = userSchema.getOrElse(
      throw new IllegalStateException("table has no schema yet"))
    require(!u.fieldNames.contains(name), s"column exists: $name")
    require(!_meta.droppedColumns.contains(name) && !retiredNames.contains(name),
      s"$name was previously dropped/renamed away; old files still hold it")
    _meta = _meta.copy(schemaJson =
      StructType(u.fields :+ StructField(name, dataType, nullable = true)).json)
    TableMeta.save(fs, tablePath, _meta)
  }

  /** Metadata-only column type WIDENING (int→long, float→double, ...):
    * allowed exactly when the parquet readers can apply the promotion to
    * existing files in place ([[isWidening]]) — the same rule the write
    * path uses. A NARROWER request (the declared type already covers
    * every source value — int into bigint, decimal literal into double)
    * is refused with a cast-the-source hint rather than silently
    * no-opped: Spark's `MERGE WITH SCHEMA EVOLUTION` re-diffs the
    * schema after `alterTable` and raises an opaque internal error for
    * any surviving difference, so failing here with an actionable
    * message is strictly better. Schema never narrows. Anything else
    * (string↔numeric, ...) would need a data rewrite and is refused.
    */
  def widenColumn(name: String, to: DataType): Unit = timeline.withLock() {
    val u = userSchema.getOrElse(
      throw new IllegalStateException("table has no schema yet"))
    val f = u.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
    if (f.dataType == to) return
    if (isWidening(f.dataType, to)) {
      _meta = _meta.copy(schemaJson = StructType(
        u.fields.map(x => if (x.name == name) x.copy(dataType = to) else x)).json)
      TableMeta.save(fs, tablePath, _meta)
      return
    }
    // narrower-than-declared: Catalyst's up-cast lattice (int⊂bigint)
    // plus decimal-literal⊂double/float, which the lattice excludes
    val narrower =
      org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(to, f.dataType) ||
      ((to, f.dataType) match {
        case (_: DecimalType, DoubleType | FloatType) => true
        case _                                        => false
      })
    if (narrower)
      throw new IllegalArgumentException(
        s"$name is declared ${f.dataType.simpleString}, which already " +
          s"covers ${to.simpleString}; schema evolution never narrows a " +
          s"column — cast the source to ${f.dataType.simpleString}")
    throw new IllegalArgumentException(
      s"cannot change $name from ${f.dataType.simpleString} to " +
        s"${to.simpleString}: only widening promotions the parquet " +
        "reader applies in place are supported")
  }

  /** Metadata-only column drop — no data rewrite. Old files keep the
    * column's bytes until compaction/clustering rewrites them; reads use
    * the evolved schema, so the column simply stops being materialized
    * (column pruning makes the residue free). The name is tombstoned:
    * re-adding it would resurrect stale values from old files. Key,
    * precombine, and partition columns cannot be dropped.
    */
  def dropColumn(name: String): Unit = timeline.withLock() {
    val u = userSchema.getOrElse(
      throw new IllegalStateException("table has no schema yet"))
    require(u.fieldNames.contains(name), s"no such column: $name")
    val protected_ = (_meta.recordKeyFields :+ _meta.precombineField) ++
      _meta.partitionFields
    require(!protected_.contains(name),
      s"cannot drop $name: key/precombine/partition columns are required")
    require(!derivationSources.contains(name),
      s"cannot drop $name: a hidden partition column derives from it " +
        s"(${_meta.partitionDerivations})")
    val evolved = StructType(u.fields.filterNot(_.name == name))
    _meta = _meta.copy(
      schemaJson = evolved.json,
      droppedColumns =
        (_meta.droppedColumns ++ (name +: _meta.renamedFrom.getOrElse(name,
          Seq.empty))).distinct,
      renamedFrom = _meta.renamedFrom - name)
    TableMeta.save(fs, tablePath, _meta)
  }

  // -------------------------------------------------------------- helpers

  /** Strip meta cols if present; capture schema on first write; evolve it
    * on later writes (schema-on-write evolution):
    *  - new incoming columns are appended to the table schema as nullable
    *    fields — existing files simply read them as null (the parquet
    *    reader null-fills absent columns under an explicit schema);
    *  - columns missing from the batch are null-filled (key, precombine,
    *    and partition columns excepted — those must be present);
    *  - an incoming column STRICTLY WIDER than the stored type (int→long,
    *    int/long→double, float→double, decimal scale-up) widens the table
    *    schema — Spark 4's parquet readers apply widening conversions, so
    *    files written with the narrower type stay readable in place;
    *  - otherwise existing columns are cast to the stored type (the table
    *    schema is authoritative; narrowing never drifts it).
    */
  private def alignUser(data: DataFrame,
      keepDeleted: Boolean = false): DataFrame = {
    // `keepDeleted`: the upsert's delete flag rides along as a boolean
    // after the user columns; it never enters the user schema
    val clean0 =
      if (keepDeleted) data.drop(RecordKeyCol, CommitTimeCol)
      else data.drop(RecordKeyCol, CommitTimeCol, DeletedCol)
    val flag =
      if (keepDeleted) Seq(coalesce(col(DeletedCol).cast(BooleanType),
        lit(false)).as(DeletedCol))
      else Nil
    // a batch still carrying a column's PRE-RENAME name (e.g. a lagging
    // CDC stream) writes into the current name
    val renameLookup = _meta.renamedFrom.toSeq
      .flatMap { case (cur, olds) => olds.map(_ -> cur) }.toMap
    val renamed = renameLookup.foldLeft(clean0) { case (d, (o, c)) =>
      if (d.columns.contains(o) && !d.columns.contains(c))
        d.withColumnRenamed(o, c)
      else d
    }
    // DERIVED partition columns never enter the user schema: writers
    // never supply them (the hidden-partitioning contract — a second
    // INSERT must not suddenly require the column), and a batch that
    // does carry one has it dropped here; writeStaging re-derives the
    // value deterministically for the directory layout.
    val clean = _meta.partitionDerivations.keys
      .foldLeft(renamed)((d, c) => d.drop(c))
    val incoming = StructType(clean.schema.filterNot(_.name == DeletedCol))
    userSchema match {
      case Some(s) =>
        val (newFields, widened) = schemaDelta(s, incoming)
        val evolved =
          if (newFields.isEmpty && widened.toSeq == s.fields.toSeq) s
          else evolveSchemaLocked(incoming)
        val required = (_meta.recordKeyFields :+ _meta.precombineField) ++
          _meta.partitionFields
        evolved.fields.toIndexedSeq.map { f =>
          if (incoming.fieldNames.contains(f.name))
            col(f.name).cast(f.dataType).as(f.name)
          else if (required.contains(f.name))
            throw new IllegalArgumentException(
              s"batch is missing required column ${f.name}")
          else lit(null).cast(f.dataType).as(f.name)
        } match { case cols => clean.select(cols ++ flag: _*) }
      case None =>
        evolveSchemaLocked(incoming)
        // realign: a concurrent first writer may have captured first —
        // the recursion hits the Some branch with the schema now settled
        alignUser(data, keepDeleted)
    }
  }

  /** New and widened fields of `incoming` against stored schema `s`
    * (dropped/retired names never re-enter — old files still hold their
    * stale values).
    */
  private def schemaDelta(s: StructType,
      incoming: StructType): (Array[StructField], Array[StructField]) = {
    val newFields = incoming.fields
      .filterNot(f => s.fieldNames.contains(f.name))
      .filterNot(f => _meta.droppedColumns.contains(f.name) ||
        retiredNames.contains(f.name))
      .map(_.copy(nullable = true))
    val widened = s.fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case Some(in) if isWidening(f.dataType, in.dataType) =>
          f.copy(dataType = in.dataType)
        case _ => f
      }
    }
    (newFields, widened)
  }

  /** Capture or evolve the user schema under the writer lock against the
    * FRESH on-disk meta: optimistic writers no longer hold the lock
    * while planning, so two concurrent evolutions must MERGE (recompute
    * against what is actually stored) instead of last-write-wins.
    * Reentrant-safe from already-locked write paths.
    */
  private def evolveSchemaLocked(incoming: StructType): StructType =
    timeline.withLock() {
      _meta = TableMeta.load(fs, tablePath)
      userSchema match {
        case None =>
          _meta = _meta.copy(schemaJson = incoming.json)
          TableMeta.save(fs, tablePath, _meta)
          incoming
        case Some(s) =>
          val (newFields, widened) = schemaDelta(s, incoming)
          if (newFields.isEmpty && widened.toSeq == s.fields.toSeq) s
          else {
            val e = StructType(widened ++ newFields)
            _meta = _meta.copy(schemaJson = e.json)
            TableMeta.save(fs, tablePath, _meta)
            e
          }
      }
    }

  /** Lossless type promotions the parquet readers can apply to existing
    * files (Spark 4 widening conversions): int family upward, int→double,
    * float→double, decimal precision growth at equal-or-greater scale
    * headroom.
    */
  private def isWidening(stored: DataType, in: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (stored, in) match {
      case (ByteType, ShortType | IntegerType | LongType)       => true
      case (ShortType, IntegerType | LongType)                  => true
      case (IntegerType, LongType)                              => true
      case (ByteType | ShortType | IntegerType, DoubleType)     => true
      case (FloatType, DoubleType)                              => true
      case (a: DecimalType, b: DecimalType) =>
        // same scale, more precision — the only decimal promotion the
        // parquet widening reader applies to existing files in place
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  /** Null-key guard + key/commit meta columns. concat of casted key cols =
    * the reference's ComplexKeyGenerator (package.scala:52); rows with any
    * null key column are dropped (reference generates the same filter,
    * genPrimaryKeyFilter package.scala:185-188).
    */
  private def withMeta(df: DataFrame, instant: String): DataFrame = {
    val stamped = withKeyCol(df).withColumn(CommitTimeCol, lit(instant))
    // an aligned upsert batch brings its own delete flag
    if (df.columns.contains(DeletedCol)) stamped
    else stamped.withColumn(DeletedCol, lit(false))
  }

  /** The record-key expression for a batch of the given schema —
    * shared by the DataFrame write paths ([[withKeyCol]]) and the
    * task-level row-level-operation writers (which bind it against the
    * incoming row schema and evaluate it per row; see LakeRowLevel).
    */
  private[graft] def keyColumnFor(batchSchema: StructType): Column = {
    def component(c: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.types._
      // the TABLE schema decides the key component's type (a delete batch
      // may carry differently-typed columns; key identity must not depend
      // on the batch's accidental types), falling back to the batch type
      // before the first write
      val dt = userSchema.flatMap(s => s.fields.find(_.name == c))
        .orElse(batchSchema.fields.find(_.name == c)).map(_.dataType)
      val typed = dt.map(d => col(c).cast(d)).getOrElse(col(c))
      val integral = dt match {
        case Some(ByteType | ShortType | IntegerType | LongType) => true
        case _                                                   => false
      }
      // fixed-width encoding: string order == numeric order, so the
      // range-clustered files' min/max key stats stay numerically tight
      val enc =
        if (_meta.keyEncoding == "padded" && integral)
          lpad(typed.cast(StringType), 20, "0")
        else typed.cast(StringType)
      // partition components may be null (hive default partition); keep
      // the key arity stable with the same sentinel the dirs use
      if (_meta.partitionFields.contains(c))
        coalesce(enc, lit("__HIVE_DEFAULT_PARTITION__"))
      else enc
    }
    concat_ws(KeySep, identityFields.map(component): _*)
  }

  /** The user columns a record key encodes ([[keyColumnFor]]). Under the
    * partition index scope identity = (partition values, key values):
    * prefixing the partition components makes every keyed code path
    * (matching, merge, delete, file pruning) partition-local with no
    * further special-casing, because keys from different partitions can
    * never collide and sort into disjoint ranges per partition dir.
    */
  private def identityFields: Seq[String] =
    if (_meta.indexScope == "partition")
      _meta.partitionFields ++ _meta.recordKeyFields
    else _meta.recordKeyFields

  /** Source columns referenced by hidden-partition derivations — they
    * cannot be renamed or dropped while a derivation reads them.
    */
  private def derivationSources: Set[String] =
    _meta.partitionDerivations.values.collect {
      case LakeTable.DerivationSpec(_, src) => src
    }.toSet

  /** Hidden partitioning: compute absent DERIVED partition columns from
    * their source column ([[TableMeta.partitionDerivations]]). A batch
    * already carrying the column wins (rewrite paths replay stored
    * values verbatim); a batch carrying neither the derived nor the
    * source column fails alignUser's required-column check as before.
    */
  private def withDerivedPartitions(df: DataFrame): DataFrame =
    _meta.partitionDerivations.foldLeft(df) { case (d, (dcol, spec)) =>
      val m = LakeTable.DerivationSpec
      spec match {
        case _ if d.columns.contains(dcol) => d
        case m(fn, src) if d.columns.contains(src) =>
          val dt = d.schema(src).dataType
          d.withColumn(dcol, LakeTable.partitionTransform(fn, col(src), dt))
        case m(_, _) => d
        case _ => throw new IllegalArgumentException(
          s"unsupported partition derivation '$spec' for column $dcol " +
            "(supported: days|months|years|hours(<column>))")
      }
    }

  private def withKeyCol(df: DataFrame): DataFrame =
    // the PK-not-null guard applies to the RECORD key fields only —
    // partition components of a partition-scoped key may be null
    df.filter(_meta.recordKeyFields.map(col(_).isNotNull).reduce(_ && _))
      .withColumn(RecordKeyCol, keyColumnFor(df.schema))

  /** One pass over the batch: (row count, min key, max key, delete rows
    * — counted only with `deletes`, else 0). Replaces an isEmpty probe +
    * a separate bounds aggregation — one Spark job that also
    * materializes the batch's cache for the writes that follow.
    */
  private def batchBounds(df: DataFrame,
      deletes: Boolean = false): (Long, String, String, Long) = {
    val aggs = Seq(count(lit(1)).as("c"),
      min(RecordKeyCol).as("mn"), max(RecordKeyCol).as("mx")) ++
      (if (deletes) Seq(count(when(col(DeletedCol), 1)).as("d")) else Nil)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1),
      if (r.isNullAt(2)) null else r.getString(2),
      if (deletes) r.getLong(3) else 0L)
  }

  /** Map a scan-reported absolute file URI back to a stored path —
    * relative to the table root, or absolute for branch-referenced
    * external files ([[shallowCloneTo]]), where prepending "/" would
    * double the slash and never match.
    */
  private def uriMatches(hit: String, stored: String): Boolean =
    if (stored.startsWith("/")) hit.endsWith(stored)
    else hit.endsWith("/" + stored)

  /** A point batch held on the driver ([[hold]]): its distinct record
    * keys and, when asked for, the distinct partition dirs its rows
    * write to — each a tuple of the partition fields' values (derived
    * ones included) cast to string, the form the dir names carry. Delete
    * rows write nothing, so their (possibly all-null) values name no dir.
    */
  private case class Held(keys: Array[String], dirs: Seq[Seq[String]])

  /** Collect a batch of `rows` rows to the driver when it is a point
    * batch (at most [[LakeTable.BloomProbeMaxKeys]] rows) — one job over
    * `df` (cached by the caller), whose result every later phase of the
    * write reuses. None for a bulk or empty batch, and for any batch
    * while the table has no live file (nothing to tag, no stats to size
    * a write).
    */
  private def hold(df: DataFrame, rows: Long,
      dirs: Boolean = false): Option[Held] =
    if (rows <= 0 || rows > BloomProbeMaxKeys || timeline.liveFiles().isEmpty)
      None
    else {
      val parts = if (dirs) _meta.partitionFields else Nil
      val flag = if (dirs) Seq(col(DeletedCol)) else Nil
      val got = (if (dirs) withDerivedPartitions(df) else df)
        .select((col(RecordKeyCol) +: flag) ++
          parts.map(col(_).cast(StringType)): _*)
        .collect()
      Some(Held(got.map(_.getString(0)).distinct,
        if (dirs) got.filterNot(_.getBoolean(1))
          .map(r => parts.indices.map(i => r.getString(i + 2))).distinct.toSeq
        else Nil))
    }

  /** `_record_key ∈ keys` for a driver-held key set, shipped to the
    * tasks once as a broadcast variable (no broadcast-exchange job, and
    * plan strings stay free of the key list).
    */
  private def keyIn(keys: Set[String]): Column =
    if (keys.isEmpty) lit(false)
    else {
      val b = spark.sparkContext.broadcast(keys)
      udf((k: String) => b.value.contains(k)).apply(col(RecordKeyCol))
    }

  /** Tagging's result: the files holding at least one batch key and, on
    * the point path, the batch keys found there.
    */
  private case class Tagged(files: Seq[FileStat], hits: Option[Set[String]])

  /** Tag the files of `live` (default: the live set) that hold a key of
    * `batchKeys` — the files a keyed write must rewrite, or a rewrite's
    * key closure must add. `batchKeys` carries the record key (plus the
    * user key columns, when present, for the bucket step); `mn`/`mx` are
    * its bounds. The prune runs bucket → key range → bloom → exact scan:
    *  1. [[bucketPrune]] and the key-range overlap use commit-metadata
    *     stats only (no data read);
    *  2. a point batch (`held`, its keys on the driver) probes each
    *     survivor's record-key bloom with those keys (footer-only reads —
    *     the prune that still works when files are not key-clustered),
    *     then ONE exact scan of the remaining candidates' key column
    *     returns the (file, key) hits: the files to rewrite AND the keys
    *     that exist, so the merge needs no second look;
    *  3. a bulk batch skips the bloom (probing millions of keys per file
    *     costs more than the scan it saves) and left-semi joins the batch
    *     against the candidates, returning files only.
    */
  private def tagFiles(batchKeys: DataFrame, mn: String, mx: String,
      held: Option[Held],
      live: Seq[FileStat] = timeline.liveFiles()): Tagged = {
    val none = Tagged(Seq.empty, held.map(_ => Set.empty[String]))
    if (live.isEmpty || mn == null) return none
    // bucket prune first: under the bucket index files are hash-
    // scattered, so every file's key RANGE spans the key space and the
    // range step below keeps everything — the batch's bucket set is the
    // prune that works (Hudi BUCKET-index tagging). Untagged files
    // (deltas, pre-bucket commits) are conservatively kept.
    val bucketed = bucketPrune(live, batchKeys)
    val ranged = bucketed.filter(f => !(f.maxKey < mn || f.minKey > mx))
    val candidates = held.fold(ranged)(h => bloomPrune(ranged, h.keys))
    if (candidates.isEmpty) return none
    import spark.implicits._
    val scan = readStats(candidates)
      .select(col(RecordKeyCol), input_file_name().as("_f"))
    val (hitFiles, hits) = held match {
      case Some(h) =>
        val pairs = scan.filter(keyIn(h.keys.toSet))
          .as[(String, String)].collect()
        (pairs.map(_._2).distinct, Some(pairs.map(_._1).toSet))
      case None =>
        (scan.join(batchKeys.select(col(RecordKeyCol)), Seq(RecordKeyCol),
          "left_semi").select(col("_f")).distinct().as[String].collect(),
          None)
    }
    // map absolute URIs back to stored paths by unique suffix
    Tagged(candidates.filter(f => hitFiles.exists(uriMatches(_, f.path))),
      hits)
  }

  /** Bucket step of [[tagFiles]]: when the table is bucketed and
    * the batch carries its user key columns, keep only files whose
    * recorded bucket id is in the batch's bucket set (one tiny distinct
    * job — at most `bucketCount` values, map-side combined). Files
    * without a recorded bucket are kept: the prune must stay sound for
    * deltas and unrouted commits.
    */
  private[lake] def bucketPrune(candidates: Seq[FileStat],
      incomingKeys: DataFrame): Seq[FileStat] = {
    if (_meta.bucketCount <= 0 ||
        !_meta.recordKeyFields.forall(incomingKeys.columns.contains) ||
        candidates.forall(_.bucket.isEmpty)) return candidates
    val hit = incomingKeys
      .select(pmod(hash(_meta.recordKeyFields.map(col): _*),
        lit(_meta.bucketCount)).as("_b"))
      .distinct().collect().map(_.getInt(0)).toSet
    candidates.filter(f => f.bucket.forall(hit.contains))
  }

  /** Keep only candidates whose record-key bloom could contain one of
    * the driver-held `keys` — the point-batch bloom step of
    * [[tagFiles]]. Small candidate sets probe on the driver; large ones
    * fan out one task per file slice, shipping the keys by broadcast.
    */
  private[lake] def bloomPrune(candidates: Seq[FileStat],
      keys: Array[String]): Seq[FileStat] =
    if (candidates.size <= FooterReadFanoutThreshold) {
      val conf = spark.sessionState.newHadoopConf()
      candidates.filter(f =>
        KeyBloom.mayContain(conf, new Path(absolute(f.path)), keys))
    } else {
      val serConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val bKeys = spark.sparkContext.broadcast(keys)
      val paths = candidates.map(f => (f.path, absolute(f.path)))
      val kept = spark.sparkContext
        .parallelize(paths, math.min(paths.size,
          spark.sparkContext.defaultParallelism))
        .filter { case (_, abs) =>
          KeyBloom.mayContain(serConf.value, new Path(abs), bKeys.value) }
        .map(_._1).collect().toSet
      candidates.filter(f => kept.contains(f.path))
    }

  /** The partition dirs a point rewrite writes to (as [[Held]] tuples,
    * a stored dir read back from its path) — the dirs of the `rewritten`
    * files plus `batchDirs`, those of the `batchRows` rows the batch
    * itself writes (its delete rows write none) — when
    * its range-clustered write would run as ONE coalesced task anyway
    * and the dirs fit one task per core; else Nil (keep the range plan).
    *
    * The range write shuffles the rewrite and lets AQE coalesce it. AQE
    * merges partitions up to `max(minPartitionSize, min(advisory size,
    * total / defaultParallelism))` (`parallelismFirst`, Spark's default)
    * or up to the advisory size, so the coalesced shuffle is one task
    * while the total stays within `minPartitionSize` (resp. the
    * advisory size). The total is estimated from commit-recorded file
    * stats: the rewritten files' bytes plus `batchRows` at the table's
    * mean bytes per row (an upper bound: updated rows count twice). No
    * stats yet, AQE or its coalescing off, or a bucketed layout: the
    * range plan (or bucket routing) stays.
    */
  private def pointDirs(rewritten: Seq[FileStat], batchRows: Long,
      batchDirs: Seq[Seq[String]]): Seq[Seq[String]] = {
    import org.apache.spark.sql.internal.SQLConf
    val c = spark.sessionState.conf
    val sized = timeline.liveFiles().filter(f => f.sizeBytes > 0 && f.numRecords > 0)
    if (_meta.bucketCount > 0 || sized.isEmpty ||
        !c.adaptiveExecutionEnabled || !c.coalesceShufflePartitionsEnabled)
      return Nil
    val minSize = c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val target =
      if (c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) minSize
      else math.max(minSize, c.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val rw = rewritten.map(_.path).toSet
    val bytesPerRow = sized.map(_.sizeBytes).sum / sized.map(_.numRecords).sum
    val estimate = sized.filter(f => rw(f.path)).map(_.sizeBytes).sum +
      batchRows * bytesPerRow
    if (estimate > target) return Nil
    val stored = rewritten.map(_.partition).distinct.map(p =>
      p.split("/").toSeq.filter(_.nonEmpty).map { kv =>
        val v = LakeFileIndex.unescapePathName(kv.substring(kv.indexOf('=') + 1))
        if (v == "__HIVE_DEFAULT_PARTITION__") null else v
      })
    val dirs = (stored ++ batchDirs).distinct
    if (dirs.size > spark.sparkContext.defaultParallelism) Nil else dirs
  }

  /** Spread a point rewrite one task per partition dir ([[pointDirs]]):
    * one dir is a single task with no shuffle; more each get their own
    * shuffle partition by id. Every dir lands in exactly one task, so it
    * gets one file. A row whose values match no listed tuple (none
    * should) still goes to one fixed task.
    */
  private def spreadByDir(df: DataFrame, dirs: Seq[Seq[String]]): DataFrame = {
    val parts = _meta.partitionFields.map(col(_).cast(StringType))
    if (dirs.size <= 1) df.coalesce(1)
    else {
      def is(t: Seq[String]): Column = parts.zip(t).map {
        case (c, null) => c.isNull
        case (c, v)    => c === lit(v)
      }.reduce(_ && _)
      val id = dirs.zipWithIndex.tail
        .foldLeft(when(is(dirs.head), 0)) { case (acc, (t, i)) =>
          acc.when(is(t), i) }
        .otherwise(0)
      df.repartitionById(dirs.size, id)
    }
  }

  /** Cluster + write `out` (user cols + meta cols) into hive-style
    * partition dirs of a fresh staging dir, NO lock required — optimistic
    * writers run this before taking the lock for the (cheap) publish.
    * `into` adds the files to an earlier staging of the same commit;
    * `cached` says the caller already cached `out`, so the range sample
    * needs no cache of its own.
    *
    * `dirs` non-empty marks a point rewrite that [[pointDirs]] admitted
    * (its range-clustered write would coalesce into one task): it skips
    * the cache and the range sample and writes one task per partition
    * dir ([[spreadByDir]]), rows sorted by (partition dirs, key) — the
    * same one key-sorted file per touched dir, written in parallel.
    */
  private def writeStaging(out: DataFrame, instant: String,
      clusterExprs: Seq[Column] = Seq.empty,
      into: Option[Path] = None,
      dirs: Seq[Seq[String]] = Nil, cached: Boolean = false): Path = {
    // hidden partitioning: derived partition columns live OUTSIDE the
    // user schema, so every staged write re-derives them here — the one
    // choke point all writers (user batches, COW rewrites, compaction,
    // clustering, tombstones) pass through. Deterministic UTC arithmetic
    // means a rewrite recomputes exactly the stored directory value.
    val derivedNames = _meta.partitionDerivations.keys.toSeq.sorted
      .filterNot(fullSchema.fieldNames.contains)
    val withDerived = withDerivedPartitions(out)
    val perDir = dirs.nonEmpty
    val selected = withDerived.select(
      (fullSchema.fieldNames.toIndexedSeq ++ derivedNames).map(col): _*)
    // range partitioning SAMPLES its input before shuffling — without a
    // cache that re-executes the (expensive) merge plan twice
    val ordered0 =
      if (perDir || cached) selected
      else selected.persist(StorageLevel.MEMORY_AND_DISK)
    // File clustering: range-partition by (partition dirs, record key) and
    // sort within tasks, so (a) a small batch lands in few well-filled
    // files (AQE coalesces the sampled shuffle — without this every write
    // task emits a sliver file per partition value: tasks × partitions
    // small files, a 100 TB metadata problem), and (b) each data file
    // covers a NARROW, sorted key range. Tight per-file min/max key stats
    // make the driver-side candidate prune in tagFiles effective — a
    // keyed update/delete touching few keys rewrites few files instead of
    // every hash-scattered file — and sorted keys give parquet row-group
    // stats that skip at scan (Hudi's sort-mode/clustering analog).
    val clusterCols = _meta.partitionFields.map(col) ++
      (if (clusterExprs.nonEmpty) clusterExprs else Seq(col(RecordKeyCol)))
    // Bucket index: route rows with Spark's own bucket function —
    // `repartition(n, keyCols)` IS `HashPartitioning(keyCols, n)`, whose
    // partition-id expression `pmod(murmur3(keyCols), n)` is exactly what
    // a BucketSpec read assumes — so shuffle partition i holds bucket i
    // verbatim and the staged `part-i-*` name identifies the bucket.
    // The explicit partition count is AQE-stable (REPARTITION_BY_NUM is
    // never coalesced or split). Within a bucket, rows sort by
    // (partition dirs, key) for tight parquet row-group stats — or, on a
    // curve-clustering rewrite, by (partition dirs, curve, key): the
    // bucket stays the SHUFFLE unit (hash-routed by key, so SPJ
    // zero-shuffle joins keep working) and the curve orders rows INSIDE
    // it, composing multi-column skipping with the bucket index. With
    // [[LakeTable.CurveBucketFileRowsConf]] set, each bucket splits into
    // files covering narrow curve ranges (file-level zone-map pruning
    // inside the probed bucket); unset, the curve still tightens parquet
    // row-group stats within the one file per bucket.
    val ordered =
      if (_meta.bucketCount > 0) {
        val intra = _meta.partitionFields.map(col) ++
          (if (clusterExprs.nonEmpty) clusterExprs :+ col(RecordKeyCol)
          else Seq(col(RecordKeyCol)))
        ordered0
          .repartition(_meta.bucketCount, _meta.recordKeyFields.map(col): _*)
          .sortWithinPartitions(intra: _*)
      } else if (perDir)
        spreadByDir(ordered0, dirs).sortWithinPartitions(clusterCols: _*)
      else ordered0
        .repartitionByRange(clusterCols: _*)
        .sortWithinPartitions(clusterCols: _*)
    try {
      // unique per attempt: even if two writers ever raced to the same
      // instant, their staging areas cannot collide. `into` adds this
      // write's files to an earlier staging of the same commit.
      val staging = into.getOrElse(new Path(tablePath,
        s"_lake/staging/${instant}_${java.util.UUID.randomUUID().toString.take(8)}"))
      val curveSplit =
        if (_meta.bucketCount > 0 && clusterExprs.nonEmpty)
          spark.conf.getOption(LakeTable.CurveBucketFileRowsConf)
            .map(_.toLong).filter(_ > 0)
            .orElse {
              // auto-size: rows-per-file = target bytes / observed row
              // width, where the width comes from the live files' commit
              // footer stats (sizeBytes/numRecords — no filesystem or
              // data reads). Unset stats (old commits) ⇒ no split, same
              // as before; a manual bucketFileRows always wins.
              val target =
                spark.conf.getOption(LakeTable.CurveTargetFileBytesConf)
                  .map(_.toLong).getOrElse(LakeTable.CurveTargetFileBytes)
              val live = timeline.liveFiles()
                .filter(f => f.sizeBytes > 0 && f.numRecords > 0)
              val bytes = live.map(_.sizeBytes).sum
              val rows = live.map(_.numRecords).sum
              if (target > 0 && rows > 0 && bytes > 0)
                Some(math.max(1L, target / math.max(1L, bytes / rows)))
              else None
            }
        else None
      // every data file carries a record-key bloom (Hudi BLOOM-index
      // analog) — footer-only upsert tagging via [[KeyBloom]]
      val w0 = ordered.write.mode(if (into.isDefined) "append" else "overwrite")
        .options(KeyBloom.writerOptions)
      val w = curveSplit.fold(w0)(n => w0.option("maxRecordsPerFile", n))
      val w2 =
        if (_meta.partitionFields.nonEmpty) w.partitionBy(_meta.partitionFields: _*)
        else w
      w2.parquet(staging.toString)
      staging
    } finally { if (!perDir && !cached) ordered0.unpersist(); () }
  }

  /** Publish a driver-staged optimistic write under the lock: stats,
    * optional write-set conflict check against commits not in `visible`
    * (None ⇒ append semantics, never conflicting), rename, commit,
    * follow-up. Cleans the staging dir and rethrows on conflict — the
    * caller's statement retries against the fresh snapshot.
    */
  /** Under the publish lock: abort if this writer's in-flight reservation
    * was swept as stale while the job ran (GC pause / stalled heartbeat).
    * Once swept, incremental consumers may have advanced their stable
    * watermark past the instant — committing anyway would publish BELOW
    * the watermark and the commit would be skipped forever (the
    * lost-commit anomaly the reservation exists to prevent). The caller's
    * statement retries with a fresh reservation.
    */
  private def requireReservationLive(instant: String, op: String,
      staging: Path): Unit =
    if (!timeline.reservationLive(instant)) {
      fs.delete(staging, true)
      throw new java.util.ConcurrentModificationException(
        s"$op prepared at instant $instant, but its in-flight " +
          "reservation was swept as stale while the write ran; " +
          "re-run the statement")
    }

  private def publishOptimistic(instant: String, staging: Path, op: String,
      kind: String, removed: Seq[String], extra: Map[String, String],
      visible: Option[Set[String]],
      followUp: () => Unit = () => ()): Seq[FileStat] = timeline.withLock() {
    requireReservationLive(instant, op, staging)
    val parts = collectStagedStats(staging)
    visible.foreach { vis =>
      val stagedRanges = parts.collect { case (src, p) if p.rows > 0L =>
        (partitionOfRel(relIn(staging, src)), p.minKey, p.maxKey)
      }
      // the write-set includes the content we DESTROY: resolve the
      // removed paths' recorded ranges (an all-rows-deleted rewrite
      // stages nothing, but its removals still conflict)
      val removedRanges =
        if (removed.isEmpty) Seq.empty
        else {
          val byPath = timeline.between(Timeline.Earliest, MaxInstant)
            .flatMap(_.added).map(f => f.path -> f).toMap
          removed.flatMap(byPath.get)
            .map(f => (f.partition, f.minKey, f.maxKey))
        }
      try checkWriteConflict(instant, op, vis,
        stagedRanges ++ removedRanges, removed.toSet)
      catch { case e: java.util.ConcurrentModificationException =>
        fs.delete(staging, true); throw e
      }
    }
    val stats = renameStaged(staging, instant, kind, parts)
    FaultInjection.point("publish.renamed")
    timeline.commit(CommitMeta(instant, op, stats, removed, extra))
    followUp()
    stats
  }

  /** Spark's staged output name is `part-<shufflePartitionId>-<uuid>…`;
    * under bucket routing the shuffle partition id IS the bucket id.
    */
  private def stagedBucketId(name: String): Int = {
    val m = LakeTable.StagedPartPattern.matcher(name)
    require(m.find(), s"bucketed staging produced an unexpected name: $name")
    m.group(1).toInt
  }

  /** Per-staged-file stats (footer reads / exact fallback) WITHOUT moving
    * anything — so an optimistic publish can run its conflict check on
    * the write-set's key ranges before the files become visible.
    */
  private def collectStagedStats(
      staging: Path): Seq[(Path, FooterStats.Parts)] = {
    {
      val marker = staging.getName + "/"
      val stagedFiles: Seq[Path] = {
        val buf = scala.collection.mutable.ArrayBuffer[Path]()
        val it = fs.listFiles(staging, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) buf += st.getPath
        }
        buf.sortBy(_.toString).toSeq
      }
      // Per-file stats from parquet FOOTERS — no second pass over the
      // written data (at 100 TB the old re-scan doubled write I/O). Falls
      // back to the exact Spark aggregate for the whole batch if any
      // footer lacks usable statistics (e.g. very long keys truncate
      // binary stats away). Small commits read footers on the driver;
      // big commits fan the O(files) footer round-trips out to executors.
      val conf = spark.sessionState.newHadoopConf()
      // zone-map columns: every mappable user data column (meta and
      // partition columns have dedicated pruning paths), capped so commit
      // metadata stays O(small) per file on very wide tables
      val zoneCols: Seq[String] = fullSchema.fields.toSeq
        .filterNot(f => Seq(RecordKeyCol, CommitTimeCol, DeletedCol)
          .contains(f.name))
        .filterNot(f => _meta.partitionFields.contains(f.name))
        .filter(f => FooterStats.zoneMappable(f.dataType))
        .map(_.name)
        .take(ZoneMapMaxColumns)
      val viaFooter: Seq[Option[(Path, FooterStats.Parts)]] =
        if (stagedFiles.size <= FooterReadFanoutThreshold)
          stagedFiles.map(p => FooterStats.read(conf, p, zoneCols).map(p -> _))
        else {
          val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
          val names = stagedFiles.map(_.toString)
          spark.sparkContext
            .parallelize(names, math.min(names.size, 64))
            .map(n => n -> FooterStats.read(serConf.value, new Path(n), zoneCols))
            .collect().toSeq.sortBy(_._1)
            .map { case (n, parts) => parts.map(new Path(n) -> _) }
        }
      val partsList: Seq[(Path, FooterStats.Parts)] =
        if (viaFooter.forall(_.isDefined)) viaFooter.flatten
        else spark.read
          .schema(fullSchema)
          .option("basePath", staging.toString)
          .parquet(staging.toString)
          .groupBy(input_file_name().as("_f"))
          .agg(count(lit(1)).as("n"),
            min(RecordKeyCol).as("mn"), max(RecordKeyCol).as("mx"),
            sum(when(coalesce(col(DeletedCol), lit(false)), 1L).otherwise(0L))
              .as("tomb"),
            min(CommitTimeCol).as("minc"), max(CommitTimeCol).as("maxc"))
          .collect().toSeq
          .map { r =>
            val f = r.getString(0)
            val rel = f.substring(f.indexOf(marker) + marker.length)
            new Path(staging, rel) -> FooterStats.Parts(r.getLong(1),
              r.getString(2), r.getString(3), r.getString(5), r.getString(6),
              r.getLong(4))
          }
          .sortBy(x => x._1.toString)
      partsList
    }
  }

  /** Relative path of a staged/final file inside its root dir. */
  private def relIn(root: Path, p: Path): String = {
    val marker = root.getName + "/"
    val s = p.toString
    s.substring(s.indexOf(marker) + marker.length)
  }

  private def partitionOfRel(rel: String): String =
    if (rel.contains("/")) rel.substring(0, rel.lastIndexOf("/")) else ""

  /** Move pre-statted staged files to their final `<instant>_<n>.parquet`
    * names and drop the staging dir.
    */
  private def renameStaged(staging: Path, instant: String, kind: String,
      partsList: Seq[(Path, FooterStats.Parts)],
      routed: Boolean = true): Seq[FileStat] = {
    {
      var i = 0
      // writeStaging routed this staging by bucket — tag each file with
      // Spark's bucket suffix (read by BucketingUtils.getBucketId) and
      // record the id in commit metadata (the read-side source of truth).
      // Task-staged writers (`routed = false`, dynamic overwrite) are not
      // routed: their files publish untagged and the read side falls back
      // to unbucketed scans until a routed rewrite (compact/pack) retags.
      val bucketed = _meta.bucketCount > 0 && kind == "base" && routed
      val stats = partsList.flatMap { case (src, p) =>
        val rel = relIn(staging, src)
        val partition = partitionOfRel(rel)
        if (p.rows == 0L) None
        else {
          val bId = if (bucketed) Some(stagedBucketId(src.getName)) else None
          val finalName = bId match {
            case Some(b) => f"${instant}-$i%05d" + f"_$b%05d.parquet"
            case None    => f"${instant}_$i%05d.parquet"
          }
          i += 1
          val finalRel = if (partition.isEmpty) finalName else s"$partition/$finalName"
          val dst = new Path(tablePath, finalRel)
          fs.mkdirs(dst.getParent)
          val size = fs.getFileStatus(src).getLen
          // Crash recovery: a writer that died AFTER publishing data files
          // but BEFORE publishing its commit leaves files under this very
          // instant name (the failed instant was never committed, so the
          // retry computes it again). Any existing dst is therefore
          // uncommitted garbage by construction — committed instants are
          // strictly below every nextInstant() — and overwriting it both
          // unblocks the retry and self-cleans the orphan.
          if (fs.exists(dst)) fs.delete(dst, false)
          if (!fs.rename(src, dst))
            throw new IllegalStateException(s"publish rename failed: $rel")
          Some(FileStat(finalRel, partition, p.rows, p.minKey, p.maxKey,
            kind, size, tombstones = p.tombstones,
            minCommit = p.minCommit, maxCommit = p.maxCommit,
            cols = p.cols, bucket = bId))
        }
      }
      fs.delete(staging, true)
      stats
    }
  }

  // -------------------------------------------------- row-level operations

  /** Begin a row-level operation (SQL MERGE INTO / UPDATE / delta DELETE):
    * RESERVE the commit instant — no lock is held while the (possibly
    * long) distributed write job runs; the reservation keeps concurrent
    * writers numbering above us and incremental consumers from advancing
    * past us ([[Timeline.reserveInstant]]). [[rowLevelCommit]] validates
    * under the lock that nothing CONFLICTING committed in between —
    * concurrent commits with a disjoint write-set publish freely.
    */
  private[graft] def rowLevelBegin(): String = timeline.reserveInstant()

  /** Completed instants visible at plan time — the baseline for the
    * publish-time write-conflict check.
    */
  private[graft] def committedInstants(): Set[String] =
    timeline.visibleInstants().toSet

  /** Driver-side task-completion heartbeat: keeps a long optimistic write
    * job's reservation from going stale mid-flight.
    */
  private[graft] def renewReservation(instant: String): Unit =
    timeline.renewReservation(instant)

  /** A fresh staging dir for a row-level operation's task writers. */
  private[graft] def rowLevelStaging(instant: String): Path =
    new Path(tablePath,
      s"_lake/staging/${instant}_rl_${java.util.UUID.randomUUID().toString.take(8)}")

  /** Commit operations that change no logical row content (table
    * services): never a write-write conflict with an optimistic commit.
    */
  private val ContentPreservingOps =
    Set("compact", "pack", "cluster", "clean", "archive-checkpoint")

  /** Write-write conflict gate for an optimistic commit (Hudi's
    * SimpleConcurrentFileWritesConflictResolutionStrategy analog, at key
    * granularity instead of file-slice granularity): a commit that
    * completed AFTER our plan-time snapshot (`visible`) conflicts iff its
    * write-set can intersect ours. Snapshot isolation with write-write
    * conflict detection — concurrent writers touching disjoint keys (or,
    * under `indexScope = "partition"` / `partitionLevel`, disjoint
    * partitions) both publish, which is what lets 2 pipelines feed 2
    * partitions of one table without serializing on each other. Read-set
    * conflicts (write skew) are NOT detected — same guarantee Hudi
    * documents for multi-writer OCC.
    *
    * `ours` = (partition, minKey, maxKey) of our staged files; the
    * concurrent commit's set = its added files' recorded ranges plus the
    * recorded ranges of every file it removed (content it destroyed). An
    * unresolvable removed path conservatively counts as a conflict.
    */
  private def checkWriteConflict(instant: String, op: String,
      visible: Set[String], ours: Seq[(String, String, String)],
      ourRemoved: Set[String] = Set.empty,
      partitionLevel: Boolean = false): Unit = {
    val current = timeline.instants()
    // a plan-time-visible instant missing from the ACTIVE timeline above
    // the oldest active instant means restore() rolled the table back
    // mid-operation (archival only ever moves the OLDEST instants out,
    // below the checkpoint boundary) — publishing would resurrect
    // rolled-back rows our plan read
    val oldestActive = current.headOption.getOrElse("")
    if (visible.exists(i => i > oldestActive && !current.contains(i)))
      throw new java.util.ConcurrentModificationException(
        s"$op prepared at instant $instant, but the table was restored " +
          "to an earlier instant while the operation ran; re-run the " +
          "statement against the rolled-back state")
    val candidates = current
      .filterNot(visible).filterNot(_ == instant)
    if (candidates.isEmpty) return
    val metasAll = candidates.map(timeline.read)
    // a commit that removed a file WE also remove moved that file group
    // under us — this includes content-preserving services (compaction,
    // clustering): readers see the same rows, but our remove-set is now
    // stale and publishing would leave the service's copy of our keys
    // alive next to our rewrite (duplicates). Always a conflict.
    metasAll.find(_.removed.exists(ourRemoved.contains)).foreach { c =>
      throw new java.util.ConcurrentModificationException(
        s"$op prepared at instant $instant conflicts with concurrent " +
          s"commit ${c.instant} (${c.operation}): it rewrote a file " +
          "group this operation rewrites; re-run the statement")
    }
    val metas = metasAll
      .filterNot(c => ContentPreservingOps.contains(c.operation))
    if (metas.isEmpty) return
    lazy val pathStats: Map[String, FileStat] =
      timeline.between(Timeline.Earliest, MaxInstant)
        .flatMap(_.added).map(f => f.path -> f).toMap
    val partScoped = partitionLevel || _meta.indexScope == "partition"
    def overlaps(partition: String, mn: String, mx: String): Boolean =
      ours.exists { case (p, omn, omx) =>
        (!partScoped || p == partition) &&
        (partitionLevel ||
          // an unknown key range on EITHER side could cover anything —
          // conservative conflict, matching the unresolvable-removed-path
          // branch below (silently missing a conflict loses a write)
          mn == null || mx == null || omn == null || omx == null ||
          (mx >= omn && omx >= mn))
      }
    metas.foreach { c =>
      val conflict =
        c.added.exists(f => overlaps(f.partition, f.minKey, f.maxKey)) ||
        c.removed.exists { path =>
          pathStats.get(path) match {
            case Some(f) => overlaps(f.partition, f.minKey, f.maxKey)
            case None    => overlaps(partitionOfRel(path), null, null) ||
              !partitionLevel // range unknown ⇒ conservative conflict
          }
        }
      if (conflict)
        throw new java.util.ConcurrentModificationException(
          s"$op prepared at instant $instant conflicts with concurrent " +
            s"commit ${c.instant} (${c.operation}): overlapping write " +
            "sets; re-run the statement")
    }
  }

  /** Task-retry orphan sweep of a task-staged write (row-level ops,
    * dynamic overwrite): only files named by committed task messages
    * (`files`) publish — a retried task's first attempt may have left
    * partials.
    */
  private def sweepTaskOrphans(staging: Path, files: Seq[Path]): Unit = {
    val keep = files.map(p => fs.makeQualified(p).toString).toSet
    if (fs.exists(staging)) {
      val it = fs.listFiles(staging, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet") &&
            !keep.contains(fs.makeQualified(st.getPath).toString))
          fs.delete(st.getPath, false)
      }
    }
  }

  /** OCC gate of a task-staged publish over its statted files `parts`:
    * on conflict the staging dir is dropped and the error rethrown.
    * Caller must hold the writer lock.
    */
  private def checkStagedConflict(instant: String, op: String,
      staging: Path, parts: Seq[(Path, FooterStats.Parts)],
      visible: Set[String], partitionLevel: Boolean): Unit = {
    val ours = parts.collect { case (src, p) if p.rows > 0L =>
      (partitionOfRel(relIn(staging, src)), p.minKey, p.maxKey)
    }
    try checkWriteConflict(instant, op, visible, ours,
      partitionLevel = partitionLevel)
    catch { case e: java.util.ConcurrentModificationException =>
      fs.delete(staging, true); throw e
    }
  }

  /** Publish a row-level operation: orphan sweep, optimistic-concurrency
    * check, publish + commit, then the table-type follow-up. COW keeps
    * its no-deltas contract (read-optimized == snapshot): data deltas
    * compact their partitions — the key closure takes the old base of a
    * key an update moved — and a tombstone, which masks keys globally,
    * compacts the table. MOR falls under the inline-compaction debt
    * policy.
    */
  private[graft] def rowLevelCommit(instant: String, staging: Path,
      files: Seq[Path], op: String, visible: Set[String],
      extra: Map[String, String] = Map.empty): Unit = timeline.withLock() {
    val stats = try {
      requireReservationLive(instant, s"row-level $op", staging)
      sweepTaskOrphans(staging, files)
      if (files.isEmpty) { fs.delete(staging, true); Seq.empty }
      else {
        val parts = collectStagedStats(staging)
        checkStagedConflict(instant, s"row-level $op", staging, parts,
          visible, partitionLevel = false)
        renameStaged(staging, instant, "delta", parts, routed = false)
      }
    } catch { case e: Throwable => timeline.releaseReservation(instant); throw e }
    timeline.commit(CommitMeta(instant, op, stats, Seq.empty, extra))
    timeline.releaseReservation(instant)
    if (stats.nonEmpty) {
      if (_meta.tableType == "cow")
        compactLocked(if (stats.exists(_.tombstones > 0)) timeline.liveFiles()
          else scopedFiles(stats.map(_.partition).toSet))
      else maybeCompactInline()
    }
  }

  /** Abandon a row-level operation (job failure): nothing was committed,
    * so dropping the pre-commit staging dir and the instant reservation
    * fully undoes it.
    */
  private[graft] def rowLevelAbort(instant: String, staging: Path): Unit = {
    fs.delete(staging, true)
    timeline.releaseReservation(instant)
  }

  /** Publish a task-staged dynamic partition overwrite: the staged base
    * files replace every previous file of exactly the partitions they
    * touch ([[overwritePartitions]] semantics, distributed-writer form).
    * Conflict granularity is the PARTITION — the operation replaces
    * whole partitions, so any concurrent data commit into them is a
    * lost-update hazard regardless of key ranges.
    */
  private[graft] def dynamicOverwriteCommit(instant: String, staging: Path,
      files: Seq[Path], visible: Set[String]): Unit = timeline.withLock() {
    requirePartitioned()
    try {
      requireReservationLive(instant, "dynamic-partition-overwrite", staging)
      sweepTaskOrphans(staging, files)
      rewriteLocked("overwritepartitions",
        staged = Some(TaskStaged(instant, staging, visible)))(
        overwrittenPartitions)
    } catch { case e: Throwable => timeline.releaseReservation(instant); throw e }
    timeline.releaseReservation(instant)
  }
}

object LakeTable {
  val RecordKeyCol = "_record_key"
  val CommitTimeCol = "_commit_time"

  /** Posting-list generations of the secondary index: `asof_<instant>`. */
  private val SecIdxPrefix = "asof_"

  /** Shared daemon pool for async table services: a single thread —
    * services serialize on each table's writer lock anyway, and one
    * queue keeps a burst of triggers from spawning a thread per table.
    */
  private[lake] lazy val serviceExecutor: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-lake-table-service")
      t.setDaemon(true)
      t
    })

  /** MOR delete-tombstone marker (true on tombstone delta rows; false/null
    * on data rows — absent columns in pre-existing files read as null).
    */
  val DeletedCol = "_deleted"

  /** [[LakeTable.changes]] output: change kind and the commit instant of
    * the new row version (null for deletes — no per-row removal instant
    * survives a COW rewrite).
    */
  val ChangeTypeCol = "_change_type"
  val ChangeCommitCol = "_change_commit"

  /** Commits publishing more files than this read their footers via a
    * distributed job instead of a sequential driver loop.
    */
  private[graft] var FooterReadFanoutThreshold = 64

  /** Row-count ceiling of a POINT batch — the one threshold between the
    * two plans of the keyed write ([[LakeTable.upsert]], which
    * [[LakeTable.delete]] runs too). A batch at or below it is held on
    * the driver: bloom-probed tagging, one exact scan returning the hit
    * keys, a broadcast merge split by that hit set, the per-dir write. A
    * larger (bulk) batch stays distributed: semi-join tagging,
    * sort-merge merge, range-clustered write. Sized so the
    * driver copy stays tens of MB at typical key widths. Mutable so tests
    * can force either plan; production leaves the default.
    */
  private[graft] var BloomProbeMaxKeys = 200_000L

  /** Zone maps cover at most this many user columns per file (commit
    * metadata is read on every query plan — keep it bounded on very wide
    * tables; the leading columns win, mirroring their index priority).
    */
  private[graft] var ZoneMapMaxColumns = 16
  val KeySep = "|"
  val MaxInstant = "99999999999999999"

  /** Spark's staged output file name, `part-<partitionId>-…` — under
    * bucket routing the partition id is the bucket id.
    */
  private[lake] val StagedPartPattern =
    java.util.regex.Pattern.compile("^part-(\\d+)-")

  /** Rows per file when curve-clustering a BUCKETED table (session
    * conf): each bucket's curve-sorted rows split into files of at most
    * this many rows, so every file covers a narrow curve range and the
    * 2-D zone-map prune works at FILE granularity inside the probed
    * bucket. Unset/0 = one file per bucket (parquet row-group stats
    * still benefit from the curve order). Size it so files land near
    * the table's target file bytes at the corpus's row width.
    */
  val CurveBucketFileRowsConf = "spark.graft.lake.curve.bucketFileRows"

  /** Target physical size for a curve-range file inside a bucket —
    * rows-per-file auto-derives as target / observed row width (live
    * files' footer stats) unless [[CurveBucketFileRowsConf]] overrides
    * with an explicit row count. 0 disables auto-splitting.
    */
  val CurveTargetFileBytesConf = "spark.graft.lake.curve.targetFileBytes"
  val CurveTargetFileBytes: Long = 128L * 1024 * 1024

  /** `fn(src)` shape of a [[TableMeta.partitionDerivations]] value. */
  private[lake] val DerivationSpec =
    "^(days|months|years|hours)\\(([^)]+)\\)$".r

  /** The derived partition value for a time transform — computed in
    * UTC via epoch arithmetic (never the session timezone: two writers
    * in different zones must put one event in ONE directory, the
    * Iceberg transform contract). Integral sources are epoch MILLIS
    * (the repo's `created_ts` convention); timestamps go through
    * `unix_millis`; dates are already day numbers. Values are strings
    * (`2024-05-01`, `2024-05`, `2024`, `2024-05-01-13`) — stable
    * directory names with lexicographic == chronological order.
    */
  private[lake] def partitionTransform(fn: String, src: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val epochDate = to_date(lit("1970-01-01"))
    val millis: org.apache.spark.sql.Column = dt match {
      case ByteType | ShortType | IntegerType | LongType => src.cast(LongType)
      case TimestampType => unix_millis(src)
      case TimestampNTZType =>
        // NTZ carries no zone: take its wall-clock AS UTC via field
        // extraction (date/hour/minute/second on NTZ never consult the
        // session timezone — deterministic across writers)
        datediff(src.cast(DateType), epochDate).cast(LongType) *
          lit(86400000L) +
          hour(src).cast(LongType) * lit(3600000L) +
          minute(src).cast(LongType) * lit(60000L) +
          second(src).cast(LongType) * lit(1000L)
      case DateType => datediff(src, epochDate)
        .cast(LongType) * lit(86400000L)
      case other => throw new IllegalArgumentException(
        s"partition transform $fn needs a timestamp/date/epoch-millis " +
          s"column; got $other")
    }
    // floorDiv semantics for pre-epoch values: (m - pmod(m, d)) / d
    def fdiv(c: org.apache.spark.sql.Column, d: Long) =
      ((c - pmod(c, lit(d))) / lit(d)).cast(LongType)
    val dayNum = fdiv(millis, 86400000L).cast(IntegerType)
    val dayDate = date_add(to_date(lit("1970-01-01")), dayNum)
    fn match {
      case "days"   => date_format(dayDate, "yyyy-MM-dd")
      case "months" => date_format(dayDate, "yyyy-MM")
      case "years"  => date_format(dayDate, "yyyy")
      case "hours"  => concat(date_format(dayDate, "yyyy-MM-dd"), lit("-"),
        lpad(pmod(fdiv(millis, 3600000L), lit(24L)).cast(IntegerType)
          .cast(StringType), 2, "0"))
    }
  }

  def create(spark: SparkSession, path: String, meta: TableMeta): LakeTable = {
    require(meta.bucketCount >= 0, "bucketCount must be >= 0")
    if (meta.bucketCount > 0) {
      require(meta.recordKeyFields.nonEmpty,
        "the bucket index routes by the record key — keyless tables " +
          "cannot be bucketed")
      // BucketSpec columns must live in the data schema; identity
      // partition columns are stripped from data files
      require(!meta.recordKeyFields.exists(meta.partitionFields.contains),
        "bucket (record key) columns cannot also be partition columns")
    }
    meta.partitionDerivations.foreach { case (dcol, spec) =>
      require(meta.partitionFields.contains(dcol),
        s"derived partition column $dcol must be listed in partitionFields")
      require(DerivationSpec.findFirstIn(spec).isDefined,
        s"unsupported partition derivation '$spec' for $dcol " +
          "(supported: days|months|years|hours(<column>))")
      require(meta.indexScope == "global",
        "hidden partitioning requires indexScope=global: the key-only " +
          "delete paths cannot re-derive partition-prefixed keys")
      // fail the table DEFINITION, not every later write: a declared
      // schema that carries the derived name would have alignUser drop
      // the user's column and the required-column check reject each
      // batch with a misleading "missing column" error
      if (meta.schemaJson.nonEmpty) {
        val declared = org.apache.spark.sql.types.DataType
          .fromJson(meta.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
        require(!declared.contains(dcol),
          s"derived partition column $dcol is HIDDEN and must not " +
            "appear in the declared schema (it is re-derived from " +
            s"'$spec' on every write)")
        val DerivationSpec(_, src) = spec: @unchecked
        require(declared.contains(src),
          s"partition derivation '$spec' names source column $src, " +
            "which is not in the declared schema")
      }
    }
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!TableMeta.exists(fs, p)) TableMeta.save(fs, p, meta)
    new LakeTable(spark, path)
  }

  def load(spark: SparkSession, path: String): LakeTable =
    new LakeTable(spark, path)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    TableMeta.exists(fs, p)
  }
}

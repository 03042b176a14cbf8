package graft.queries

import graft.util.Generations
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A continuously-maintained IVF index — the faiss add/remove contract
  * ([[Similarity.ivfIncrementalTopK]] / [[Similarity.ivfDeleteTopK]])
  * restated as a LONG-LIVED artifact a streaming pipeline appends to.
  *
  * Layout is GENERATIONAL: `<root>/GEN.g<N>` (a tiny versioned pointer
  * file, written fresh per swap — the HIGHEST complete one is current)
  * names the current generation directory `g<N>/`, which holds:
  *
  *  - `cent/` + `base/` — the trained index: centroids and the corpus
  *    assigned and hive-partitioned BY CELL (probing = partition
  *    pruning). Written once per generation; never rewritten.
  *  - `add/b<batchId>/` — one cell-partitioned directory per add
  *    micro-batch: new vectors assigned to the EXISTING centroids (the
  *    standard IVF add; centroids drift only at the next rebuild).
  *  - `del/b<batchId>/` — one tiny vec_id parquet per delete
  *    micro-batch: the tombstone sidecar; probes mask candidates via a
  *    broadcast join against the (vec_id, newest delete batch) set
  *    before any cosine (faiss remove_ids — no retrain, no rewrite).
  *
  * Masking is ORDER-AWARE: every corpus row carries the batch id that
  * registered it (the base counts as batch -1), and a tombstone masks a
  * candidate only when the tombstone's batch is NEWER than the
  * candidate's. A delete in batch N followed by a net re-insert of the
  * same vec_id in batch M>N — a sequence the lake CDC feed emits,
  * because a later re-insert revives the key — therefore revives the
  * vector here too; an order-blind vec_id anti join would silently mask
  * it forever. A SAME-batch tombstone+add pair is an UPDATE decomposed
  * by [[graft.pipelines.AnnMaintain]] into remove-then-add (the faiss
  * update idiom): the add wins the tie, the tombstone masks every older
  * copy. (Within ONE batch a key is otherwise at most one of
  * insert/delete — the lake change feed is a net diff per key.)
  *
  * Batch directories are keyed by the STREAMING BATCH ID and written
  * with overwrite, so a checkpoint-replayed micro-batch converges on
  * the same files instead of duplicating vectors — the add/delete
  * analog of the IVM families' per-batch generation dirs. Readers only
  * mount `_SUCCESS`-complete batch dirs, so a crash mid-append is
  * invisible until its replay completes it.
  *
  * [[rebuild]] is the compaction lever (faiss's rebuild): retrain +
  * reassign over the surviving corpus INTO THE NEXT generation dir,
  * then swap the pointer — crash-atomic (a crash mid-rebuild leaves the
  * current generation byte-untouched and the half-written next one
  * unreferenced; the versioned pointer write is a single fresh-name
  * rename, so there is no instant with NO resolvable pointer).
  * Retention keeps one generation back, so a probe that resolved the
  * pointer just before a swap finishes reading its files. The pointer
  * records the highest folded batch id so checkpoint replays of
  * already-folded batches NO-OP instead of re-appending vectors the new
  * base already holds.
  *
  * Concurrency contract: batch registration guards against a rebuild
  * racing it — after writing its dir, [[addBatch]]/[[deleteBatch]]
  * re-read the pointer and RE-APPEND into the new generation if it
  * moved (the superseded dir is retention garbage), so a rebuild run
  * from a maintenance window cannot silently strand a concurrent
  * streaming append. [[rebuild]] itself assumes ONE rebuilder at a
  * time (the streaming path runs it inside foreachBatch; a
  * maintenance-window rebuild must not overlap another rebuild).
  */
final case class IvfStreamIndex(s: SparkSession, root: String) {

  private val fs = new Path(root)
    .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Versioned pointer files `GEN.g<N>`, newest generation first. */
  private def pointerFiles: Seq[(Long, Path)] = {
    val r = new Path(root)
    if (!fs.exists(r)) return Seq.empty
    fs.listStatus(r).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("GEN.g") && n.drop(5).nonEmpty &&
          n.drop(5).forall(_.isDigit)
      }
      .map(p => (p.getName.drop(5).toLong, p))
      .sortBy(-_._1).toSeq
  }

  private def readPointer(p: Path): (Long, Long) = {
    val in = fs.open(p)
    val txt =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    val Array(g, thr) = txt.split(" ")
    (g.toLong, thr.toLong)
  }

  /** (generation, highest batch id folded into its base). Resolves the
    * HIGHEST versioned pointer (a crashed swap can leave the previous
    * one beside it — stale pointers are harmless, the newest wins);
    * falls back to the legacy unversioned `GEN` file.
    */
  private def pointer: Option[(Long, Long)] = {
    pointerFiles.headOption.map { case (_, p) => readPointer(p) }
      .orElse {
        val legacy = new Path(root, "GEN")
        if (fs.exists(legacy)) Some(readPointer(legacy)) else None
      }
  }

  private def swapPointer(gen: Long, through: Long): Unit = {
    val tmp = new Path(root, s".GEN.g$gen.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$gen $through"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename to a FRESH name — never a delete-then-rename window with
    // no pointer on disk; resolution takes the highest version, so a
    // crash right here leaves the old pointer authoritative
    if (!fs.rename(tmp, new Path(root, s"GEN.g$gen")))
      throw new IllegalStateException(s"GEN pointer swap failed for $root")
    // best-effort retirement of superseded pointers (incl. legacy GEN)
    pointerFiles.filter(_._1 < gen).foreach(p => fs.delete(p._2, false))
    fs.delete(new Path(root, "GEN"), false)
    ()
  }

  private def gen: Long = pointer.map(_._1).getOrElse(
    throw new IllegalStateException(s"no IVF index at $root — build first"))

  /** Highest batch id folded into the current base by a [[rebuild]] —
    * a checkpoint-replayed batch at or below it must NO-OP (its vectors
    * already live in the rebuilt base; re-registering would duplicate
    * them). -1 before any rebuild.
    */
  def rebuiltThrough: Long = pointer.map(_._2).getOrElse(-1L)

  private def genDir(g: Long) = s"$root/g$g"
  private def basePath = s"${genDir(gen)}/base"
  private def centPath = s"${genDir(gen)}/cent"

  /** Current generation's base directory (spec probes immutability). */
  def baseDir: String = basePath

  def exists: Boolean = pointer.isDefined &&
    fs.exists(new Path(basePath, "_SUCCESS")) &&
    fs.exists(new Path(centPath, "_SUCCESS"))

  /** Train + assign from scratch over `e` (vec_id, embedding) into a
    * fresh generation and swap the pointer to it.
    */
  def build(e: DataFrame, cells: Int = Similarity.IvfCells): Unit =
    buildGen(e, cells, pointer.map(_._1 + 1).getOrElse(0L), -1L)

  private def buildGen(e: DataFrame, cells: Int, g: Long,
      through: Long): Unit = {
    fs.delete(new Path(genDir(g)), true)
    val cent = Similarity.ivfCentroids(e, cells)
    cent.write.mode("overwrite").parquet(s"${genDir(g)}/cent")
    e.select(col("vec_id"), col("embedding"))
      .join(Similarity.assignCells(e, cent), "vec_id")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"${genDir(g)}/base")
    swapPointer(g, through)
    // retention keeps exactly ONE generation back: an in-flight probe
    // that resolved the pointer just before the swap can finish reading
    // the previous generation's files; anything older is garbage
    if (!fs.exists(new Path(root))) return
    fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(n => n.length > 1 && n.startsWith("g") &&
        n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).filter(_ < g - 1)
      .foreach(old => fs.delete(new Path(genDir(old)), true))
  }

  def centroids: DataFrame = s.read.parquet(centPath)

  /** Test seam: runs after a batch dir lands but BEFORE the post-write
    * pointer re-check — lets a spec interleave a rebuild into the race
    * window deterministically.
    */
  private[queries] var onBatchWrite: () => Unit = () => ()

  /** Write one batch dir, guarded against a concurrent [[rebuild]]: if
    * the generation pointer moved while the dir was being written, the
    * dir landed in a superseded generation (retention deletes it two
    * swaps later — silent vector loss), so re-append into the live one.
    */
  private def registerBatch(batchId: Long)(write: Long => Unit): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      val (g, thr) = pointer.getOrElse(throw new IllegalStateException(
        s"no IVF index at $root — build first"))
      if (batchId <= thr) return // already folded by a rebuild: no-op
      write(g)
      onBatchWrite()
      if (gen == g) done = true
      else {
        attempts += 1
        if (attempts >= 3) throw new IllegalStateException(
          s"IVF generation at $root moved $attempts times while batch " +
            s"$batchId was registering — a rebuild loop is racing the " +
            "stream; stop one of them")
      }
    }
  }

  /** Fold an add micro-batch (vec_id, embedding) in: assign to the
    * existing centroids, write the batch's own cell-partitioned dir.
    * Idempotent per `batchId` (overwrite) — replay converges; a batch
    * already folded by a rebuild no-ops; a rebuild racing the write is
    * detected and the batch re-appends into the new generation.
    */
  def addBatch(newVecs: DataFrame, batchId: Long): Unit =
    registerBatch(batchId) { g =>
      newVecs.select(col("vec_id"), col("embedding"))
        .join(Similarity.assignCells(newVecs,
          s.read.parquet(s"${genDir(g)}/cent")), "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(f"${genDir(g)}/add/b$batchId%09d")
    }

  /** Register a delete micro-batch (vec_id): append-only tombstones,
    * index files byte-untouched. Idempotent per `batchId`; folded
    * batches no-op; a racing rebuild is detected like [[addBatch]].
    */
  def deleteBatch(delIds: DataFrame, batchId: Long): Unit =
    registerBatch(batchId) { g =>
      delIds.select(col("vec_id"))
        .write.mode("overwrite").parquet(f"${genDir(g)}/del/b$batchId%09d")
    }

  /** `_SUCCESS`-complete batch dirs of generation `g`, oldest first.
    * Readers PIN a generation once per operation and pass it down —
    * resolving the pointer per accessor would let a rebuild landing
    * mid-probe mix two generations in one result.
    */
  private def batchDirsAt(g: Long, kind: String): Seq[String] =
    Generations.complete(s, s"${genDir(g)}/$kind").map(_.toString)

  private def batchIdOf(dir: String): Long =
    new Path(dir).getName.drop(1).toLong

  /** Count of registered (unfolded) batch dirs — the rebuild trigger. */
  def pendingBatches: Int = {
    val g = gen
    batchDirsAt(g, "add").size + batchDirsAt(g, "del").size
  }

  /** The registered corpus: base ∪ complete add batches (tombstones NOT
    * applied — see [[survivors]]). May hold several rows per vec_id
    * when a key was deleted and later re-inserted; exactly one of them
    * survives the order-aware mask.
    */
  def corpus: DataFrame = {
    val g = gen
    (Seq(s"${genDir(g)}/base") ++ batchDirsAt(g, "add"))
      .map(s.read.parquet(_)).reduce(_.unionByName(_))
  }

  /** Corpus rows tagged with the batch id that registered them (base =
    * -1) — the order key the tombstone mask compares against.
    */
  private def taggedCorpus(g: Long, addDirs: Seq[String]): DataFrame =
    ((s.read.parquet(s"${genDir(g)}/base").withColumn("_ab", lit(-1L))) +:
      addDirs.map(d =>
        s.read.parquet(d).withColumn("_ab", lit(batchIdOf(d)))))
      .reduce(_.unionByName(_))

  def tombstones: Option[DataFrame] = batchDirsAt(gen, "del") match {
    case Nil => None
    case ds  => Some(ds.map(s.read.parquet(_)).reduce(_.unionByName(_)))
  }

  /** Tombstones tagged with their batch id, reduced to the NEWEST
    * delete per vec_id (older deletes are superseded either way).
    */
  private def taggedTombstones(delDirs: Seq[String]): Option[DataFrame] =
    delDirs match {
      case Nil => None
      case ds => Some(ds.map(d =>
          s.read.parquet(d).withColumn("_db", lit(batchIdOf(d))))
        .reduce(_.unionByName(_))
        .groupBy("vec_id").agg(max(col("_db")).as("_db")))
    }

  /** The probe-able corpus with the ORDER-AWARE tombstone mask applied:
    * a row survives when no tombstone is newer than it — so a delete at
    * batch N kills the base row and every older add, while a net
    * re-insert at batch M>N revives the key. A SAME-batch tie (the
    * tombstone and the add share a batch id) survives: the lake change
    * feed is a net diff per key, so a tie can only be an UPDATE that
    * [[graft.pipelines.AnnMaintain]] decomposed into tombstone + re-add
    * — remove-then-add, where the add wins. One broadcast join against
    * the KB-scale (vec_id, newest delete) set; the cell-partitioned
    * index files are never rewritten.
    */
  def survivors: DataFrame = survivorsAt(gen)

  private def survivorsAt(g: Long): DataFrame =
    survivorsFrom(g, batchDirsAt(g, "add"), batchDirsAt(g, "del"))

  private def survivorsFrom(g: Long, addDirs: Seq[String],
      delDirs: Seq[String]): DataFrame = taggedTombstones(delDirs) match {
    case None => taggedCorpus(g, addDirs).drop("_ab")
    case Some(t) => taggedCorpus(g, addDirs)
      .join(broadcast(t), Seq("vec_id"), "left")
      .filter(col("_db").isNull || col("_db") <= col("_ab"))
      .drop("_ab", "_db")
  }

  /** The compaction lever (faiss rebuild): retrain + reassign over the
    * SURVIVING corpus ([[survivors]] — the same order-aware mask the
    * probes use) into the next generation, pointer-swapped in
    * atomically. The folded-through watermark is max(`throughBatch`,
    * every batch dir actually folded) — computed from the SAME dir
    * listing the survivor snapshot reads, so a batch the rebuild folds
    * can never replay as a duplicate, and a batch that lands AFTER the
    * listing stays above the watermark and re-appends itself via the
    * post-write pointer re-check. Crash-safe: the survivor snapshot is
    * written to a side dir before anything else, the current generation
    * is never touched, and a crash before the swap leaves the index
    * exactly as it was (re-run the rebuild).
    *
    * Run at most ONE rebuild at a time. A rebuild may overlap streaming
    * [[addBatch]]/[[deleteBatch]] calls (they re-check the pointer and
    * re-append), but a maintenance-window rebuild must not overlap
    * another rebuild — nothing arbitrates two swaps to the same next
    * generation.
    */
  def rebuild(throughBatch: Long,
      cells: Int = Similarity.IvfCells): Unit = {
    val g = gen // pin: dirs, survivors, and the next gen share one view
    val addDirs = batchDirsAt(g, "add")
    val delDirs = batchDirsAt(g, "del")
    val through =
      (throughBatch +: (addDirs ++ delDirs).map(batchIdOf)).max
    val snap = s"$root/rebuild_snap"
    survivorsFrom(g, addDirs, delDirs).select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(snap)
    buildGen(s.read.parquet(snap), cells, g + 1, through)
    fs.delete(new Path(snap), true)
  }

  /** Probed top-10 per query over the maintained index: the order-aware
    * tombstone mask applies BEFORE any cosine ([[survivors]]), then
    * [[Similarity.ivfProbeTopK]] verbatim — so full probe ≡ brute force
    * over the surviving corpus, including delete-then-re-insert keys.
    * The generation is pinned ONCE for the whole probe (centroids,
    * base, batch dirs), so a rebuild swapping the pointer mid-probe
    * cannot mix two generations in one result — retention keeps the
    * pinned generation's files alive one swap back.
    */
  def topK(probe: Int = Similarity.IvfProbe): DataFrame = {
    val g = gen
    Similarity.ivfProbeTopK(
      s.read.parquet(s"${genDir(g)}/cent"), survivorsAt(g), probe)
  }
}

package graft.pipelines

import graft.lake.LakeTable
import graft.queries.IvfStreamIndex
import graft.streaming.LakeFollow
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN index maintenance: an embeddings LAKE table's CDC feed
  * keeps an [[IvfStreamIndex]] current — inserts fold in as cell
  * appends, deletes as tombstone appends, one idempotent batch dir per
  * micro-batch — the faiss add/remove contract at streaming cadence,
  * closing the loop with the lake CDC source the way the IVM families
  * (rollup/distinct/join/SCD2) already do.
  *
  * First start builds the index from the table's current snapshot and
  * begins the change stream AT that instant, so the feed carries only
  * post-build changes; restarts resume from the stream checkpoint.
  * Updates decompose into remove-then-add (the faiss update idiom): the
  * update's vec_id joins the batch's tombstones AND its postimage joins
  * the batch's adds — the index's order-aware mask lets a same-batch
  * add win over its own tombstone while every OLDER copy of the key
  * stays masked, so a changed embedding is probed at its new value
  * immediately, no rebuild needed.
  *
  * Scale: per batch, assignment is a broadcast-centroid map-side job
  * over the batch only; deletes write KBs; probes stay partition
  * pruning + one broadcast anti join. Nothing rescans the corpus.
  */
object AnnMaintain {

  /** @param rebuildEvery compaction cadence: once this many batch dirs
    *   have accumulated, fold them (minus tombstones) into a fresh
    *   generation via [[IvfStreamIndex.rebuild]] — pointer-swapped in
    *   atomically, replays of folded batches no-op. 0 disables (run
    *   rebuilds from a maintenance window instead).
    */
  def runStream(spark: SparkSession, tablePath: String, indexRoot: String,
      checkpointDir: String, triggerSeconds: Int = 1,
      cells: Int = graft.queries.Similarity.IvfCells,
      rebuildEvery: Int = 0): StreamingQuery = {
    val t = LakeTable.load(spark, tablePath)
    val idx = IvfStreamIndex(spark, indexRoot)
    val startPath = new org.apache.hadoop.fs.Path(indexRoot, "start.at")
    val fs = startPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readStartAt(): String = {
      val in = fs.open(startPath)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    def writeStartAt(at: String): Unit = {
      val out = fs.create(startPath, true)
      try out.write(at.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // start.at is written BEFORE the build and the build derives its
    // input from it — a crash between the two leaves a file naming the
    // instant the retried build will use, never an index whose start
    // instant is unknowable. (The reverse order had exactly that crash
    // window: exists==true, start.at missing, open() throws forever.)
    val startAt =
      if (!idx.exists) {
        val at =
          if (fs.exists(startPath)) readStartAt() // a prior crashed attempt
          else {
            val a = t.latestCommit.getOrElse(throw new IllegalStateException(
              s"$tablePath has no commits to build the index from"))
            writeStartAt(a); a
          }
        idx.build(t.snapshotAsOf(at).select("vec_id", "embedding"), cells)
        at
      } else if (fs.exists(startPath)) readStartAt()
      else {
        // legacy recovery: an index built by the old build-then-write
        // order that crashed in its window — rebuild from the current
        // snapshot so the stream can start cleanly
        val at = t.latestCommit.getOrElse(throw new IllegalStateException(
          s"$tablePath has no commits to build the index from"))
        writeStartAt(at)
        idx.build(t.snapshotAsOf(at).select("vec_id", "embedding"), cells)
        at
      }
    LakeFollow.start(spark, "ann-maintain", Seq(tablePath), checkpointDir,
        triggerSeconds, Map("query.type" -> "changes", "start.at" -> startAt)) {
      (b, batchId) =>
        if (!b.isEmpty) {
          val batch = org.apache.spark.sql.graft.ColumnBridge.asBatch(b)
            .persist()
          try {
            val ct = col(LakeTable.ChangeTypeCol)
            // updates = remove-then-add in the SAME batch: the
            // postimage joins the adds, the key joins the tombstones;
            // the index's order-aware mask resolves the tie add-wins
            val ups = batch.filter(ct === "update_postimage")
            val dels = batch.filter(ct === "delete").select("vec_id")
              .unionByName(ups.select("vec_id"))
            val adds = batch.filter(ct === "insert")
              .select("vec_id", "embedding")
              .unionByName(ups.select("vec_id", "embedding"))
            if (!dels.isEmpty) idx.deleteBatch(dels, batchId)
            if (!adds.isEmpty) idx.addBatch(adds, batchId)
            if (rebuildEvery > 0 && idx.pendingBatches >= rebuildEvery)
              idx.rebuild(batchId, cells)
            ()
          } finally { batch.unpersist(); () }
        }
    }
  }

  /** CLI: `--source-table-path <embeddings lake table> --output-dir
    * <index root> --checkpoint-dir <ckpt> [--trigger-seconds n]`.
    */
  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("ann-maintain")
    spark.sparkContext.setLogLevel("WARN")
    runStream(spark, cfg.sourceTablePath, cfg.outputDir, cfg.checkpointDir,
      cfg.triggerSeconds).awaitTermination()
  }
}

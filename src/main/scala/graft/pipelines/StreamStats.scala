package graft.pipelines

import graft.queries.Sketches
import graft.util.{Generations, Sessions}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming sketch maintenance — continuous corpus/traffic statistics
  * the way a production pipeline keeps them: each micro-batch computes
  * its own KB-sized PARTIAL sketches (HyperLogLog user-cardinality
  * buckets + HDR value histogram, [[graft.queries.Sketches]]), publishes
  * them under per-batch dirs, and any reader merges the published
  * partials into the current estimate on demand. Nothing ever rescans
  * history: batch cost is the batch scan, query cost is the few-hundred-
  * row sketch merge — the mergeability the sketch specs assert is
  * exactly what makes this incremental form possible.
  *
  * State layout under `stateDir`:
  *  - `hll/b<batchId>/`, `hdr/b<batchId>/` — one partial per batch; the
  *    `hll` dir's `_SUCCESS` is the batch's publish marker (`hdr` is
  *    written first, so a crash between the writes replays the batch and
  *    overwrites the orphan).
  *  - `hll/c<upTo>/`, `hdr/c<upTo>/` + `compacted_upto` manifest —
  *    [[compact]] folds all published partials ≤ upTo into one compact
  *    generation and deletes them; the manifest (written by temp+rename
  *    AFTER the compact dirs) is what makes a replay of an absorbed
  *    batch skip instead of double-counting.
  *
  * The inbox stands in for Kafka exactly like [[StreamIngest]]: one JSON
  * event per line (`{"event_id": …, "user_id": …, "value": …}`).
  */
object StreamStats {

  /** Per-batch partial sketches: (HLL user buckets, HDR value-cents
    * histogram). Both combine map-side and are ≤ a few hundred rows.
    */
  def partialSketches(events: DataFrame): (DataFrame, DataFrame) =
    (Sketches.hllBuckets(events, col("user_id")),
      Sketches.hdrHistogram(events, round(col("value") * 100).cast("long")))

  private def fs(s: SparkSession, dir: String) =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Compaction high-water mark = max over `compacted_upto_<n>` marker
    * files. Markers are only ever CREATED (each under a new name, via
    * temp+rename-to-fresh-target — atomic on every Hadoop FS); stale
    * ones are swept after, so no reader can observe a window where the
    * mark regressed (a delete-then-rewrite of a single live file would
    * have one).
    */
  private def compactedUpTo(s: SparkSession, stateDir: String): Long = {
    val p = new Path(stateDir)
    val f = fs(s, stateDir)
    if (!f.exists(p)) -1L
    else f.listStatus(p).toIndexedSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("compacted_upto_"))
      .map(_.stripPrefix("compacted_upto_").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Published sketch dirs of one kind, FILTERED BY THE MANIFEST MARK so
    * every crash window of [[compact]] reads consistently:
    *  - `b<id>` counts only when id > mark — after the manifest commit,
    *    absorbed batch dirs are dead even while their deletion is still
    *    pending;
    *  - `c<g>` counts only when g == mark — a compact generation written
    *    but not yet manifest-committed is an orphan (its batches are
    *    still live), and a superseded older generation is already inside
    *    the current one.
    * `_SUCCESS` additionally guards against a crashed writer's partial
    * files. Under this rule each event is in exactly one counted dir at
    * every instant of the compact sequence (write c → commit manifest →
    * sweep), so readers never double-count and never miss.
    */
  private def publishedDirs(s: SparkSession, dir: String, mark: Long): Seq[Path] =
    Generations.complete(s, dir).filter(_.getName match {
      case n if n.startsWith("b") => n.drop(1).toLong > mark
      case n if n.startsWith("c") => n.drop(1).toLong == mark
      case _ => false
    })

  /** Process one micro-batch idempotently: skip if this batch already
    * published OR was absorbed by a compaction (manifest high-water
    * mark) — either way a crash-replay never double-counts.
    */
  def processBatch(s: SparkSession, events: DataFrame, stateDir: String,
      batchId: Long): Unit = {
    if (batchId <= compactedUpTo(s, stateDir)) return
    if (fs(s, stateDir).exists(
        new Path(s"$stateDir/hll/b$batchId/_SUCCESS"))) return
    val (hll, hdr) = partialSketches(events)
    hdr.write.mode("overwrite").parquet(s"$stateDir/hdr/b$batchId")
    hll.write.mode("overwrite").parquet(s"$stateDir/hll/b$batchId")
  }

  private def readAll(s: SparkSession, dir: String, mark: Long,
      schemaDdl: String): DataFrame = {
    val dirs = publishedDirs(s, dir, mark).map(_.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    if (dirs.isEmpty) s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema).parquet(dirs: _*)
  }

  /** Current merged estimate, one row: distinct-user estimate + value
    * quantiles over everything published so far. Touches only sketch
    * rows (buckets × published dirs), never the data.
    */
  def currentStats(s: SparkSession, stateDir: String): DataFrame = {
    val mark = compactedUpTo(s, stateDir)
    val users = Sketches.hllEstimate(s,
        readAll(s, s"$stateDir/hll", mark, "bucket BIGINT, m INT"))
      .select(col("est_distinct").as("est_users"))
    val quants = Sketches.hdrQuantiles(
        readAll(s, s"$stateDir/hdr", mark,
          "idx BIGINT, lo BIGINT, cnt BIGINT"))
      .select(col("n_rows"), col("p50_cents"), col("p90_cents"),
        col("p99_cents"))
    quants.crossJoin(users)
  }

  /** Fold all published partials into one compact generation per kind
    * and delete the absorbed dirs. Order is the crash-safety: compact
    * dirs first, manifest next (temp+rename — the commit point), deletes
    * last. A crash before the rename leaves the old state fully valid
    * (orphan compact dirs are overwritten by the next run); after it,
    * replays of absorbed batches skip via the manifest even though
    * their dirs are gone.
    */
  def compact(s: SparkSession, stateDir: String): Unit = {
    val f = fs(s, stateDir)
    val mark = compactedUpTo(s, stateDir)
    val absorbed = publishedDirs(s, s"$stateDir/hll", mark)
      .map(_.getName).filter(_.startsWith("b"))
      .map(_.drop(1).toLong)
    if (absorbed.isEmpty) return
    val upTo = absorbed.max
    // merge = current generation (c<mark>, if any) + live batch partials
    val hll = readAll(s, s"$stateDir/hll", mark, "bucket BIGINT, m INT")
      .groupBy("bucket").agg(max(col("m")).as("m"))
    val hdr = readAll(s, s"$stateDir/hdr", mark,
        "idx BIGINT, lo BIGINT, cnt BIGINT")
      .groupBy("idx", "lo").agg(sum(col("cnt")).as("cnt"))
    hdr.write.mode("overwrite").parquet(s"$stateDir/hdr/c$upTo")
    hll.write.mode("overwrite").parquet(s"$stateDir/hll/c$upTo")
    // the manifest marker is the commit point: readers switch from
    // {c<mark>, b>mark} to {c<upTo>, b>upTo} atomically with its create
    val tmp = new Path(s"$stateDir/compacted_upto.tmp")
    val out = f.create(tmp, true)
    try out.write(upTo.toString.getBytes("UTF-8")) finally out.close()
    f.rename(tmp, new Path(s"$stateDir/compacted_upto_$upTo"))
    // sweep superseded markers (monotonicity already established)
    f.listStatus(new Path(stateDir)).toIndexedSeq
      .map(_.getPath).filter { q =>
        val n = q.getName
        n.startsWith("compacted_upto_") &&
          n.stripPrefix("compacted_upto_").toLong < upTo
      }.foreach(f.delete(_, false))
    // sweep everything the new mark makes dead: batch dirs ≤ upTo (incl.
    // leftovers of a sweep a previous compact crashed out of) and compact
    // generations ≠ upTo — readers already ignore all of these
    for (kind <- Seq("hll", "hdr");
         st <- f.listStatus(new Path(s"$stateDir/$kind"))) {
      val n = st.getPath.getName
      val dead = (n.startsWith("b") && n.drop(1).toLong <= upTo) ||
        (n.startsWith("c") && n.drop(1).toLong != upTo)
      if (dead) f.delete(st.getPath, true)
    }
  }

  def run(spark: SparkSession, cfg: PipelineConfig): StreamingQuery = {
    val stateDir = cfg.tablePath
    graft.streaming.ProgressListener.attach(spark, "stream-stats")
    spark.readStream
      .format("text")
      .load(cfg.inboxDir)
      .writeStream
      .queryName("stream-stats")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val events = batch.select(from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "event_id LONG, user_id LONG, value DOUBLE")).as("e"))
            .select("e.*")
            .filter(col("user_id").isNotNull && col("value").isNotNull)
          processBatch(batch.sparkSession, events, stateDir, batchId)
        }
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("stream-stats")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, cfg).awaitTermination()
  }
}

package graft.pipelines

import graft.queries.Dedup
import graft.util.{Generations, Sessions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming near-dedup curation — the shape a production training-data
  * pipeline runs continuously: documents arrive in micro-batches, each
  * batch is near-deduped against everything accepted so far, survivors
  * are appended to the corpus and their MinHash bands to the persisted
  * band index. Work per batch is the batch's own shingling/banding plus
  * the band-collision join against the index — the corpus is never
  * re-banded and never joined corpus×corpus (the batch form of
  * [[graft.queries.Dedup.incrementalDedupAt]] +
  * [[graft.queries.Dedup.absorbIncrement]]).
  *
  * Drop policy ("first seen wins"): a document is dropped iff it has a
  * verified near-dup pair (exact Jaccard ≥ 0.8, the
  * [[graft.queries.Dedup]] threshold) to an accepted corpus document, or
  * to a smaller-id document of its own batch.
  *
  * State layout under `stateDir`: `corpus/b<batchId>/` (surviving docs as
  * parquet) and `bands/b<batchId>/` (their band rows). Batch output dirs
  * are the idempotency unit: a replayed micro-batch (restart between
  * sink write and checkpoint commit) sees its own `_SUCCESS` and skips —
  * the same batch-id watermark contract the lake streaming sink uses.
  *
  * The inbox stands in for Kafka exactly like [[StreamIngest]]: one JSON
  * doc per line (`{"doc_id": …, "text": …}`).
  */
object StreamDedup {

  /** One batch against the accepted state: returns (surviving docs,
    * their band rows). Exact-verify shingles only the batch and the
    * CANDIDATE corpus docs (semi-joined on the collision candidates) —
    * verify cost is proportional to collisions, not corpus size.
    */
  def survivors(batchDocs: DataFrame, corpusDocs: DataFrame,
      corpusBands: DataFrame): (DataFrame, DataFrame) = {
    val bSh = Dedup.shingleDocs(batchDocs)
    val bBands = Dedup.bandedDocs(bSh)
    val bEx = bSh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    // batch × corpus candidates by band collision — never corpus × corpus
    val cross = bBands.alias("a")
      .join(corpusBands.alias("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("b.doc_id").as("id_a"), col("a.doc_id").as("id_b"))
      .distinct()
    val candCorpus = corpusDocs
      .join(cross.select(col("id_a").as("doc_id")).distinct(), "doc_id")
    val cEx = Dedup.shingleDocs(candCorpus)
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    val crossDrops = Dedup.verifyJaccard(cross, bEx.unionByName(cEx))
      .select(col("id_b").as("doc_id"))
    // in-batch duplicates: the smaller doc_id wins
    val self = bBands.alias("a")
      .join(bBands.alias("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val selfDrops = Dedup.verifyJaccard(self, bEx)
      .select(col("id_b").as("doc_id"))
    val drops = crossDrops.union(selfDrops).distinct()
    (batchDocs.join(drops, Seq("doc_id"), "left_anti"),
      bBands.join(drops, Seq("doc_id"), "left_anti"))
  }

  private def dirExists(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Accepted state = only batch dirs that PUBLISHED (`_SUCCESS`) — a
    * crashed writer's partial files must never enter the corpus view a
    * replay dedups against.
    */
  private def readState(s: SparkSession, dir: String,
      template: DataFrame): DataFrame = {
    val done = Generations.complete(s, dir).map(_.toString)
    if (done.isEmpty) template.limit(0)
    else s.read.schema(template.schema).parquet(done: _*)
  }

  /** Process one micro-batch idempotently: dedup against the accepted
    * state, publish survivors + bands under this batch's own output dirs
    * (skipped wholesale if the batch already published — crash-replay
    * safe).
    */
  def processBatch(s: SparkSession, batchDocs: DataFrame, stateDir: String,
      batchId: Long): Unit = {
    val docsOut = s"$stateDir/corpus/b$batchId"
    val bandsOut = s"$stateDir/bands/b$batchId"
    if (dirExists(s, s"$docsOut/_SUCCESS")) return // replayed batch
    val docs = batchDocs.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corpusDocs = readState(s, s"$stateDir/corpus", docs)
      val corpusBands = readState(s, s"$stateDir/bands",
        Dedup.bandedDocs(Dedup.shingleDocs(docs)))
      val (kept, keptBands) = survivors(docs, corpusDocs, corpusBands)
      // bands first, docs last: the docs' _SUCCESS is the publish marker,
      // so a crash between the writes replays the whole batch (the
      // orphaned band dir is overwritten by the replay)
      keptBands.write.mode("overwrite").parquet(bandsOut)
      kept.write.mode("overwrite").parquet(docsOut)
    } finally docs.unpersist(false)
  }

  def run(spark: SparkSession, cfg: PipelineConfig): StreamingQuery = {
    val stateDir = cfg.tablePath
    graft.streaming.ProgressListener.attach(spark, "stream-dedup")
    spark.readStream
      .format("text")
      .load(cfg.inboxDir)
      .writeStream
      .queryName("stream-dedup")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val docs = batch.select(from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "doc_id LONG, text STRING")).as("d"))
            .select("d.*")
            .filter(col("doc_id").isNotNull && col("text").isNotNull)
          processBatch(batch.sparkSession, docs, stateDir, batchId)
        }
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.parse(args)
    val spark = Sessions.local("stream-dedup")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, cfg).awaitTermination()
  }
}

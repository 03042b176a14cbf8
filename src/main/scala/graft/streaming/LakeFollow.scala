package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one way a consumer follows lake tables: a Structured Streaming
  * query over the `graft-lake` source whose micro-batches run the
  * consumer's own step. Offsets are commit instants, so Spark starts a
  * micro-batch only when a followed table's latest commit has moved. A
  * step that resumes from a watermark it commits with its output (the
  * hops, the IVM families) needs nothing from the batch but the trigger:
  * it never executes the feed, and a batch Spark replays after a lost
  * checkpoint commit finds nothing past the watermark.
  */
object LakeFollow {

  /** Start query `name` over the lake tables at `paths`, checkpointed at
    * `checkpointDir` and triggered every `triggerSeconds`; each
    * micro-batch runs `step(batch, batchId)`. One table's batch is its
    * feed (`options` go to the source: `query.type`, `start.at`);
    * several tables' feeds union as bare ticks.
    */
  def start(spark: SparkSession, name: String, paths: Seq[String],
      checkpointDir: String, triggerSeconds: Int,
      options: Map[String, String] = Map.empty)
      (step: (DataFrame, Long) => Unit): StreamingQuery = {
    val feeds = paths.map(p =>
      spark.readStream.format("graft-lake").options(options).load(p))
    val src =
      if (feeds.size == 1) feeds.head
      else feeds.map(_.select(lit(1).as("_tick"))).reduce(_ union _)
    ProgressListener.attach(spark, name)
    src.writeStream
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .foreachBatch(step)
      .start()
  }
}

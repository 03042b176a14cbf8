package perfbench

import graft.lake.{LakeTable, TableMeta}
import graft.pipelines.{BatchLoad, CdcIngest, DwdToDm, OdsToDwd, PipelineConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** The CDC medallion workloads (`cdc_cow`, `cdc_mor`): one closed loop
  * over generated Canal batches, inbox → ODS → DWD → DM, then analyst
  * reads of ODS through the graft-lake DataSource.
  */
final class CdcWorkload(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long, tableType: String) {
  import CdcWorkload._

  private val gen = new CdcGen(seed, BaseRows, BatchEvents)
  private val res = new Result

  private def meta(name: String, keys: Seq[String], parts: Seq[String]) =
    TableMeta(name, keys, "created_ts", parts, tableType,
      inlineCompactMax = if (tableType == "mor") CompactEvery else 0)

  private val (odsC, dwdC, dmC) = {
    val root = work.resolve("lake")
    val ods = PipelineConfig(
      sourcePath = work.resolve("input/lineitem").toString,
      targetTablePath = root.resolve("ods").toString, tableName = "lineitem_ods",
      recordKeyFields = Key, partitionFields = Seq("l_returnflag"),
      tableType = tableType, repartitionNum = 4)
    val dwd = PipelineConfig(
      sourceTablePath = ods.targetTablePath,
      dimTablePath = work.resolve("input/part").toString,
      targetTablePath = root.resolve("dwd").toString, tableName = "lineitem_dwd",
      recordKeyFields = Key, partitionFields = Seq("l_returnflag"),
      tableType = tableType, joinLeftKey = "l_partkey",
      joinRightKey = "p_partkey", dimSelect = Seq("p_brand"))
    val dm = PipelineConfig(
      sourceTablePath = dwd.targetTablePath,
      targetTablePath = root.resolve("dm").toString, tableName = "qty_dm",
      recordKeyFields = Seq("p_brand"), tableType = tableType,
      aggKeys = Seq("p_brand"), aggCol = "l_quantity", maxIterations = 0)
    (ods, dwd, dm)
  }

  private def writeInputs(): Unit = {
    val base = gen.baseTable()
    val schema = StructType(LineitemCols.map { case (n, t) => StructField(n, t) })
    val rows = base.map(r => org.apache.spark.sql.Row.fromSeq(
      LineitemCols.map { case (n, _) => r(n) }))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(work.resolve("input/lineitem").toString)
    import spark.implicits._
    gen.partTable().toDF("p_partkey", "p_name", "p_brand", "p_size",
      "p_retailprice").coalesce(1)
      .write.parquet(work.resolve("input/part").toString)
  }

  /** Bootstrap ODS, run the first DWD hop and initialise DM; returns the
    * ODS bootstrap instant and the DWD and DM watermarks.
    */
  private def bootstrap(): (String, String, String) = {
    LakeTable.create(spark, odsC.targetTablePath,
      meta(odsC.tableName, Key, odsC.partitionFields))
    val boot = BatchLoad.run(spark, odsC)
    val ods = LakeTable.load(spark, odsC.targetTablePath)
    val dwd = LakeTable.create(spark, dwdC.targetTablePath,
      meta(dwdC.tableName, Key, dwdC.partitionFields))
    val w1 = OdsToDwd.iteration(spark, dwdC, ods, dwd, "earliest")
    LakeTable.create(spark, dmC.targetTablePath,
      meta(dmC.tableName, Seq("p_brand"), Nil))
    DwdToDm.run(spark, dmC)
    val dm = LakeTable.load(spark, dmC.targetTablePath)
    (boot, w1, DwdToDm.resumeWatermark(dm).getOrElse(
      throw new IllegalStateException("DM init committed no watermark")))
  }

  def run(seconds: Double): Result = {
    Main.step("generate inputs")(writeInputs())
    val brandOf = spark.read.parquet(work.resolve("input/part").toString)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val inbox = Files.createDirectories(work.resolve("inbox"))
    val outbox = Files.createDirectories(work.resolve("gen"))
    // the analyst read, issued ReadsPerBatch times after each batch: one
    // return flag over a tenth of the order keys
    val flag = CdcGen.ReturnFlags(2)
    val span = BaseRows / 4 / 10
    val lo = 1L + new java.util.Random(seed).nextInt(BaseRows / 4 - span)
    val hi = lo + span

    /** Write batch `b` to the generator's outbox (not yet visible). */
    def generate(b: Int): (Seq[CdcGen.Event], Path) = {
      val events = gen.nextBatch(b)
      val staged = outbox.resolve(f"batch-$b%05d.json")
      Files.write(staged, events.map(_.canalJson).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      (events, staged)
    }

    val t0 = System.nanoTime()
    var (boot, w1, w2) = tracer.span("setup.bootstrap")(Main.step("bootstrap")(bootstrap()))
    res.setupSeconds = (System.nanoTime() - t0) / 1e9
    val ods = LakeTable.load(spark, odsC.targetTablePath)
    val dwd = LakeTable.load(spark, dwdC.targetTablePath)
    val dm = LakeTable.load(spark, dmC.targetTablePath)

    /** Land a generated batch in the inbox, run it through DM, then run
      * the analyst reads. Returns the freshness and each read's latency
      * and answer.
      */
    def runBatch(staged: Path): (Double, Seq[(Double, (Long, Double))]) = {
      val landed = inbox.resolve(staged.getFileName)
      val t0 = System.nanoTime()
      Files.move(staged, landed, StandardCopyOption.ATOMIC_MOVE)
      tracer.span("ingest") {
        CdcIngest.applyBatch(spark, spark.read.text(landed.toString), odsC, ods)
      }
      w1 = tracer.span("ods_to_dwd")(OdsToDwd.iteration(spark, dwdC, ods, dwd, w1))
      w2 = tracer.span("dwd_to_dm")(DwdToDm.iteration(spark, dmC, dwd, dm, w2))
      val fresh = (System.nanoTime() - t0) / 1e9
      val reads = (0 until ReadsPerBatch).map { _ =>
        val t1 = System.nanoTime()
        val got = tracer.span("read") {
          spark.read.format("graft-lake").load(odsC.targetTablePath)
            .where(col("l_returnflag") === flag && col("l_orderkey").between(lo, hi))
            .agg(count(lit(1)), coalesce(sum("l_quantity"), lit(0.0)))
            .head()
        }
        ((System.nanoTime() - t1) / 1e9, (got.getLong(0), got.getDouble(1)))
      }
      (fresh, reads)
    }

    val tables = Seq("ods" -> ods, "dwd" -> dwd, "dm" -> dm)
    val setupCommits = tables.map { case (n, t) => n -> t.history().size }.toMap
    val model = Main.step("load model start state") {
      val cols = (LineitemCols.map(_._1) :+ "created_ts").map(col)
      new CdcModel(ods.snapshotAsOf(boot).select(cols: _*).collect()
        .map(CdcModel.rowMap).toSeq, brandOf)
    }

    var timed = 0.0
    var batch = 0
    while (timed < seconds) {
      val (events, staged) = generate(batch)
      res.attempted += 1 + ReadsPerBatch
      val t0 = System.nanoTime()
      val out = try Some(tracer.span("batch", batch.toString)(runBatch(staged)))
      catch {
        case e: Exception =>
          res.fail(s"batch $batch", e)
          None
      }
      timed += (System.nanoTime() - t0) / 1e9
      out match {
        case None => // the tables' state is unknown: stop here
          res.failed += 1 + ReadsPerBatch
          timed = seconds
        case Some((fresh, reads)) =>
          res.freshness += fresh
          res.reads ++= reads.map(_._1)
          model.apply(events)
          res.events += events.size
          val want = model.analyst(flag, lo, hi)
          reads.map(_._2).filter(_ != want).foreach { got =>
            res.failed += 1
            res.note(s"batch $batch read: got $got, model $want")
          }
          res.storageSamples += tables.map(_._2.timeline.liveFiles()
            .map(_.sizeBytes).sum).sum / MB
      }
      batch += 1
    }
    res.loopSeconds = timed
    res.batches = batch

    // final output checks against the model
    val userCols = LineitemCols.map(_._1) :+ "created_ts"
    Seq(
      ("ods", ods, model.ods.values, userCols),
      ("dwd", dwd, model.dwd.values, LineitemCols.map(_._1) :+ "p_brand"),
      ("dm", dm, model.dm.map { case (b, s) =>
        Map[String, Any]("p_brand" -> b, "l_quantity_sum" -> s) },
        Seq("p_brand", "l_quantity_sum"))
    ).foreach { case (name, t, want, cols) =>
      res.attempted += 1
      val got = t.snapshotUser().collect().map(CdcModel.rowMap).toSeq
      val (gn, gd) = CdcModel.digest(got, cols)
      val (wn, wd) = CdcModel.digest(want, cols)
      if (gn != wn || gd != wd) {
        res.failed += 1
        res.note(s"$name: $gn rows digest $gd, model $wn rows digest $wd")
      }
    }

    // table counters, from commit metadata only
    tables.foreach { case (n, t) =>
      val loop = t.history().drop(setupCommits(n))
      val live = t.timeline.liveFiles()
      val b = math.max(1, res.batches).toDouble
      res.layer ++= Seq(
        s"$n.commits_per_batch" -> loop.size / b,
        s"$n.files_rewritten_per_batch" -> loop.map(_.filesRemoved).sum / b,
        s"$n.rows_written_per_event" ->
          loop.map(_.rowsAdded).sum / math.max(1L, res.events).toDouble,
        s"$n.live_files" -> live.size.toDouble,
        s"$n.delta_files" -> live.count(_.isDelta).toDouble,
        s"$n.compactions" -> loop.count(_.operation == "compact").toDouble)
    }
    res
  }
}

object CdcWorkload {
  /** Base table rows (about 76% distinct keys) and events per batch. */
  val BaseRows = 20000
  val BatchEvents = 2000
  /** MOR: compact a partition once it holds this many delta files. */
  val CompactEvery = 6
  val ReadsPerBatch = 10
  private val MB = 1024.0 * 1024.0
  val Key = Seq("l_orderkey", "l_linenumber")
  val LineitemCols: Seq[(String, DataType)] = Seq(
    "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
    "l_tax" -> DoubleType, "l_returnflag" -> StringType,
    "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType)

  /** What a CDC run measured. */
  final class Result extends Main.Result {
    var events = 0L
    var batches = 0
    var loopSeconds = 0.0
    val freshness = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    val storageSamples = mutable.ArrayBuffer.empty[Double]

    def endToEnd: Map[String, Double] = Map(
      "throughput_per_s" -> events / loopSeconds,
      "freshness_p50_s" -> Main.median(freshness),
      "read_p50_s" -> Main.median(reads),
      "storage_mb" -> Main.mean(storageSamples))
  }
}

package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-query execution breakdown (not part of the driver contract): runs
  * named SparkEntry queries through the noop sink with a listener that
  * aggregates job/stage/task counts, task time, and shuffle volume — the
  * guide §1 "where is the time going" measurement for the optimization
  * loop. Each query runs `reps` times (default 2) and every run is
  * reported, so codegen-warm vs cold separates from plan cost.
  *
  * Usage: runMain graft.tools.QueryProfile <sfDir> <name[,name...]> [reps]
  */
object QueryProfile {
  private class Agg extends SparkListener {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskTimeMs = 0L
    var gcTimeMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var stageWall = mutable.ArrayBuffer.empty[(String, Long, Int)]
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages += 1
      val si = sc.stageInfo
      val wall = (for {
        a <- si.completionTime; b <- si.submissionTime
      } yield a - b).getOrElse(0L)
      stageWall += ((s"s${si.stageId}:${si.name.takeWhile(_ != ' ')}",
        wall, si.numTasks))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = te.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        gcTimeMs += m.jvmGCTime
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("stats_profile"))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.Sessions.builder("graft-profile")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stageDir = sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR",
      java.nio.file.Files.createTempDirectory("graft-prof-stage").toString)
    if (stageDir.nonEmpty)
      spark.conf.set(graft.queries.Dedup.StageDirConf, stageDir)
    // the same warm-up as Bench, so staged artifacts don't bill to the query
    graft.Bench.warmUp(spark, dir, staged = stageDir.nonEmpty)

    SparkEntry.queries.filter(q => names(q._1)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        (1 to reps).foreach { rep =>
          val agg = new Agg
          spark.sparkContext.addSparkListener(agg)
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // let straggler listener events drain before reading the agg
          Thread.sleep(300)
          spark.sparkContext.removeSparkListener(agg)
          println(f"[prof] $name rep$rep wall=$wall%7.2fs jobs=${agg.jobs}%3d " +
            f"stages=${agg.stages}%3d tasks=${agg.tasks}%5d " +
            f"taskTime=${agg.taskTimeMs / 1e3}%7.2fs gc=${agg.gcTimeMs / 1e3}%5.2fs " +
            f"shufR=${agg.shuffleReadB / 1e6}%8.2fMB shufW=${agg.shuffleWriteB / 1e6}%8.2fMB")
          if (sys.env.contains("GRAFT_PROF_STAGES")) {
            agg.stageWall.sortBy(-_._2).take(15).foreach { case (n, w, t) =>
              println(f"[prof]    $n%-60s ${w / 1e3}%6.2fs tasks=$t%4d")
            }
          }
          spark.catalog.clearCache()
          System.gc()
          Thread.sleep(250)
        }
      }
    if (stageDir.nonEmpty && !sys.env.contains("SPARK_GRAFT_STAGE_DIR"))
      try org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(stageDir))
      catch { case _: Exception => () }
    spark.stop()
  }
}

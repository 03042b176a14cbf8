package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark JVM: runs one workload and writes its raw measurements as
  * JSON for `run.py`, which checks and reports them.
  *
  * {{{
  * perfbench.Main --workload cdc_cow|cdc_mor|curation_pack --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Exit codes: 0 measured (checks may still have failed), 2 a set-up
  * step failed (named on stderr), 1 anything else.
  */
object Main {

  /** Counts every workload reports. */
  abstract class Result {
    var attempted = 0L
    var failed = 0L
    /** Set-up time after the Spark session is up. */
    var setupSeconds = Double.NaN
    val notes = mutable.ArrayBuffer.empty[String]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def endToEnd: Map[String, Double]
    def note(msg: String): Unit = { notes += msg; System.err.println(s"[perfbench] $msg") }
    def fail(what: String, e: Throwable): Unit = note(s"$what failed: $e")
  }

  final class SetupFailed(val step: String, cause: Throwable)
      extends RuntimeException(s"set-up step '$step' failed: $cause", cause)

  /** Run one set-up step; a failure stops the run and names the step. */
  def step[T](name: String)(body: => T): T =
    try body
    catch { case e: Exception => throw new SetupFailed(name, e) }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The JVM's resident-set high-water mark (Linux), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work: Path = Paths.get(opts("work")).toAbsolutePath
    val out: Path = Paths.get(opts("out")).toAbsolutePath

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val code = try {
      val spark = step("start Spark session") {
        graft.util.Sessions.builder("perfbench")
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.local.dir", work.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
          // shuffle cleanup on the cleaner thread, as graft.Bench does
          .config("spark.cleaner.referenceTracking.blocking", "true")
          .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
          .getOrCreate()
      }
      spark.sparkContext.setLogLevel("ERROR")
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      try {
        val tracer = new Tracer(spark.sparkContext, trace, cores)
        val res: Result = workload match {
          case "cdc_cow" => new CdcWorkload(spark, tracer, work, seed, "cow").run(seconds)
          case "cdc_mor" => new CdcWorkload(spark, tracer, work, seed, "mor").run(seconds)
          case "curation_pack" => new PackWorkload(spark, tracer, work).run(seconds)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        tracer.drain()
        val e2e = res.endToEnd ++ Map(
          "setup_s" -> (sessionS + res.setupSeconds),
          "peak_rss_mb" -> peakRssMb())
        val layer = res.layer.toSeq ++ tracer.rollup().toSeq.flatMap {
          case (span, m) => m.map { case (k, v) => s"$span.$k" -> v }
        }
        val passes = res match {
          case p: PackWorkload.Result => p.passes.size
          case _                      => 0
        }
        if (trace) Files.writeString(work.resolve("spans.json"), tracer.toJson)
        Files.writeString(out, Json.obj(Seq(
          "workload" -> Json.str(workload),
          "attempted" -> res.attempted.toString,
          "failed" -> res.failed.toString,
          "passes" -> passes.toString,
          "session_s" -> Json.num(sessionS),
          "setup_after_session_s" -> Json.num(res.setupSeconds),
          "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
          "per_layer" -> Json.obj(layer.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
          "notes" -> res.notes.map(Json.str).mkString("[", ",", "]"))))
        0
      } finally spark.stop()
    } catch {
      case e: SetupFailed =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        e.printStackTrace()
        2
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }
}

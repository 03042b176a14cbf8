package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around the benchmark's calls into graft, plus a SparkListener
  * that charges every Spark job, stage and task to the span that was
  * open on the Spark driver when the job started.
  *
  * A span is opened with [[span]]; the span id travels to the scheduler
  * as a Spark local property, so attribution needs nothing inside graft.
  * Work is charged to the innermost span only; reports roll leaf spans up
  * by name. Everything stays in memory until [[toJson]] at the end.
  *
  * With tracing off, [[span]] only runs its body: no listener, no
  * property, no bookkeeping.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, cores: Int) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  // all state below is guarded by this Tracer's lock: the listener bus
  // thread and the Spark driver's main thread both touch it
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val stageSite = mutable.Map.empty[Int, String]
  private val execSite = mutable.Map.empty[Long, String]
  private val byId = mutable.Map.empty[Int, Span]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { execSite(x.executionId) = siteOf(x.description) }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // a job's call site is its SQL execution's (broadcast and subquery
      // jobs run on pool threads whose own stack names no graft file),
      // else its result stage's, the newest stage id
      val site = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(si => siteOf(si.name)))
        .getOrElse("other")
      e.stageIds.foreach(id => stageSite(id) = site)
      prop(SpanProp).flatMap(id => byId.get(id.toInt)).foreach { s =>
        s.c.jobs += 1
        s.bySite(site).jobs += 1
        e.stageIds.foreach(id => stageSpan(id) = s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val m = e.taskMetrics
        val site = stageSite.getOrElse(e.stageId, "other")
        Seq(s.c, s.bySite(site)).foreach { c =>
          c.tasks += 1
          if (m != null) {
            c.taskNs += m.executorRunTime * 1000000L
            c.gcNs += m.jvmGCTime * 1000000L
            c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            c.scanBytes += m.inputMetrics.bytesRead
            c.writeBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = Span(spans.size, name, open.headOption.map(_.id), tag,
          System.nanoTime())
        spans += s
        byId(s.id) = s
        s
      }
      open.push(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        synchronized { s.endNs = System.nanoTime() }
        open.pop()
        sc.setLocalProperty(SpanProp,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit =
    if (enabled) {
      val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

  /** Per-span-name rollup of leaf spans: the mean per call of wall
    * seconds and Spark counters, and the busy share of the cores.
    */
  def rollup(): Map[String, Map[String, Double]] = synchronized {
    val parents = spans.flatMap(_.parent).toSet
    spans.filterNot(s => parents(s.id)).groupBy(_.name).map { case (n, ss) =>
      val k = ss.size.toDouble
      val wall = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
      val c = ss.map(_.c).reduce(_ + _)
      val sites = ss.flatMap(_.sites).groupBy(_._1).map { case (site, v) =>
        site -> v.map(_._2).reduce(_ + _)
      }
      val base = Map(
        "wall_s" -> wall / k, "calls" -> k,
        "jobs" -> c.jobs / k, "tasks" -> c.tasks / k,
        "task_s" -> c.taskNs / 1e9 / k, "gc_s" -> c.gcNs / 1e9 / k,
        "shuffle_mb" -> c.shuffleBytes / MB / k,
        "scan_mb" -> c.scanBytes / MB / k, "write_mb" -> c.writeBytes / MB / k,
        "busy_share" -> (if (wall > 0) c.taskNs / 1e9 / (wall * cores) else 0.0))
      n -> (base ++ sites.flatMap { case (site, sc) =>
        Seq(s"$site.jobs" -> sc.jobs / k, s"$site.task_s" -> sc.taskNs / 1e9 / k)
      })
    }
  }

  def toJson: String = synchronized {
    spans.map { s =>
      val c = s.c
      val sites = s.sites.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${Json.esc(k)}":{"jobs":${v.jobs},"tasks":${v.tasks},"task_s":${v.taskNs / 1e9}}"""
      }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent.getOrElse(-1)},""" +
        s""""tag":"${Json.esc(s.tag)}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"task_s":${c.taskNs / 1e9},"gc_s":${c.gcNs / 1e9},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"scan_bytes":${c.scanBytes},""" +
        s""""write_bytes":${c.writeBytes},"sites":$sites}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val MB = 1024.0 * 1024.0
  private val SiteFile = """at ([A-Za-z0-9_$]+)\.scala""".r.unanchored

  /** graft source file named in a Spark call site ("count at
    * LakeTable.scala:1204" → "LakeTable"); the benchmark's own frames
    * and anything else collapse to "bench" / "other".
    */
  def siteOf(callSite: String): String = callSite match {
    case SiteFile(f) if BenchFiles(f) => "bench"
    case SiteFile(f)                  => f
    case _                            => "other"
  }
  private val BenchFiles =
    Set("Main", "CdcWorkload", "PackWorkload", "CdcGen", "CdcModel", "Tracer")

  final class Counters {
    var jobs = 0L; var tasks = 0L; var taskNs = 0L; var gcNs = 0L
    var shuffleBytes = 0L; var scanBytes = 0L; var writeBytes = 0L
    def +(o: Counters): Counters = {
      val r = new Counters
      r.jobs = jobs + o.jobs; r.tasks = tasks + o.tasks
      r.taskNs = taskNs + o.taskNs; r.gcNs = gcNs + o.gcNs
      r.shuffleBytes = shuffleBytes + o.shuffleBytes
      r.scanBytes = scanBytes + o.scanBytes; r.writeBytes = writeBytes + o.writeBytes
      r
    }
  }

  final case class Span(id: Int, name: String, parent: Option[Int], tag: String,
      startNs: Long) {
    var endNs: Long = startNs
    val c = new Counters
    val sites = mutable.Map.empty[String, Counters]
    def bySite(site: String): Counters = sites.getOrElseUpdate(site, new Counters)
  }
}

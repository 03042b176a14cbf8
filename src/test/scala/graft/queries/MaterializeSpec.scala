package graft.queries

import graft.util.{Materialize, Sessions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("materialize-test", "4")

  /** A small deterministic `embeddings` table for the centrality loop. */
  private lazy val embDir: String = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("materialize").toString
    (0L until 200L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f), (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  override def afterAll(): Unit = spark.stop()

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val WidthKey = "spark.sql.shuffle.partitions"

  /** What the optimizer saw at every rule run during `run`: the caller
    * session's AQE flag and shuffle width, then the active SQLConf's.
    * The rule is installed on the caller session; a session clone
    * inherits it, so loop plans are recorded too.
    */
  private def recordDuring(run: => Unit): Seq[(String, String, Boolean, Int)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Boolean, Int)]()
    val recorder = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val active = SQLConf.get
        seen.add((spark.conf.get(AqeKey), spark.conf.get(WidthKey),
          active.adaptiveExecutionEnabled, active.numShufflePartitions))
        plan
      }
    }
    spark.experimental.extraOptimizations = Seq(recorder)
    try run finally spark.experimental.extraOptimizations = Nil
    seen.asScala.toSeq
  }

  /** The loop ran with AQE off at width `p`; the caller's session kept
    * its own settings throughout and planned its own frames with them.
    */
  private def assertScoped(seen: Seq[(String, String, Boolean, Int)],
      p: Int): Unit = {
    val width = spark.conf.get(WidthKey)
    assert(seen.nonEmpty)
    assert(seen.forall { case (aqe, w, _, _) => aqe == "true" && w == width },
      s"the caller's session conf changed: ${seen.distinct}")
    assert(seen.exists { case (_, _, aqe, w) => !aqe && w == p },
      s"no loop plan ran with AQE off at width $p: ${seen.distinct}")
    assert(seen.exists { case (_, _, aqe, w) => aqe && w.toString == width },
      s"no plan ran with the caller's settings: ${seen.distinct}")
  }

  test("connected components: the loop runs AQE-off at its width, the caller's conf is untouched") {
    val s = spark
    import s.implicits._
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var out: Array[org.apache.spark.sql.Row] = null
    val seen = recordDuring {
      out = Dedup.connectedComponents(spark, pairs, "vec_id").collect()
    }
    // 58 directed edges: p = max(1, min(58 / 10000, width)) = 1
    assertScoped(seen, 1)
    assert(out.length == 30 && out.forall(_.getLong(1) == 0L))
  }

  test("centrality: the power iteration runs AQE-off at its width, the caller's conf is untouched") {
    val dir = embDir
    var n = 0
    val seen = recordDuring { n = Curation.centrality(spark, dir).collect().length }
    assertScoped(seen, 1)
    assert(n > 0)
  }

  test("onFirstUse: release passes through unless forced, then unpersists") {
    val result = spark.range(10).toDF("id")
    val unused = Materialize.onFirstUse(spark.range(100).toDF("id"))
    assert(unused.release(result) eq result)

    val used = Materialize.onFirstUse(spark.range(100).toDF("id"))
    val forced = used()
    assert(used() eq forced) // persisted once
    assert(forced.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val released = used.release(forced.filter("id < 5"))
    assert(forced.storageLevel == StorageLevel.NONE)
    assert(released.count() == 5)
  }

  test("spread: widens a narrow checkpoint, leaves a wide one as it landed") {
    def parts(df: DataFrame): Int = df.rdd.getNumPartitions
    assert(parts(Materialize.spread(spark.range(0, 100, 1, 1).toDF(), 4)) == 4)
    assert(parts(Materialize.spread(spark.range(0, 100, 1, 6).toDF(), 4)) == 6)
  }
}

package graft.pipelines

import graft.lake.{LakeTable, TableMeta}
import graft.util.Sessions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The multiplicity-state algebra for the non-self-maintainable
  * aggregates: `view(aux ⊕ delta) = fresh distinct/min/max` at every
  * advance — including the killer cases a signed rollup cannot handle:
  * deleting the group's current minimum, and deleting ONE occurrence of
  * a value another row still carries.
  */
class DistinctIvmSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("distinct-ivm-test", "4")
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def mkTable(name: String): LakeTable = {
    val work = Files.createTempDirectory("graft_divm").toString
    LakeTable.create(spark, s"$work/t",
      TableMeta(name, Seq("id"), "ts", Seq.empty, "cow",
        keyEncoding = "padded"))
  }

  private val grp = Seq("g")

  private def fresh(t: LakeTable): Map[String, (Long, Long, Long)] =
    t.snapshot().groupBy("g")
      .agg(countDistinct(col("v")).as("nd"), min("v"), max("v"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  private def viewMap(aux: DataFrame): Map[String, (Long, Long, Long)] =
    DistinctMaintain.view(aux, grp).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_distinct"),
        r.getAs[Long]("min_v"), r.getAs[Long]("max_v"))).toMap

  test("delete of the current min and of a duplicated value both maintain exactly") {
    val t = mkTable("divm_a")
    // group x: values 1 (unique) and 5 (duplicated across ids 2,3)
    val c1 = t.upsert(Seq((1L, "x", 1L, 1L), (2L, "x", 5L, 1L),
      (3L, "x", 5L, 1L), (4L, "y", 7L, 1L))
      .toDF("id", "g", "v", "ts"), combine = false)
    var aux = DistinctMaintain.fullAux(t.snapshotAsOf(c1), grp, col("v"))
      .localCheckpoint()
    assert(viewMap(aux) == fresh(t))
    assert(viewMap(aux)("x") == ((2L, 1L, 5L)))
    // delete id 1: group x loses its MIN — new min must be re-derived
    t.delete(Seq(1L).toDF("id"))
    var from = c1
    var to = t.latestCommit.get
    aux = DistinctMaintain.applyDelta(aux,
      DistinctMaintain.delta(t.changes(from, to), grp, col("v")), grp)
      .localCheckpoint()
    assert(viewMap(aux) == fresh(t))
    assert(viewMap(aux)("x") == ((1L, 5L, 5L)))
    // delete id 2: ONE occurrence of v=5 goes, the value must survive
    from = to
    t.delete(Seq(2L).toDF("id"))
    to = t.latestCommit.get
    aux = DistinctMaintain.applyDelta(aux,
      DistinctMaintain.delta(t.changes(from, to), grp, col("v")), grp)
      .localCheckpoint()
    assert(viewMap(aux) == fresh(t))
    assert(viewMap(aux)("x") == ((1L, 5L, 5L)))
    // update moves id 3 to a new value: retract 5, assert 9
    from = to
    t.upsert(Seq((3L, "x", 9L, 2L)).toDF("id", "g", "v", "ts"),
      combine = false)
    to = t.latestCommit.get
    aux = DistinctMaintain.applyDelta(aux,
      DistinctMaintain.delta(t.changes(from, to), grp, col("v")), grp)
      .localCheckpoint()
    assert(viewMap(aux) == fresh(t))
    assert(viewMap(aux)("x") == ((1L, 9L, 9L)))
    // the extinct pair (x, 5) must be GONE from the aux state, not a
    // zombie zero-count row
    assert(aux.filter(col("g") === "x" && col("v") === 5L).isEmpty)
  }

  test("randomized op sequences: maintained view equals fresh aggregates after every advance") {
    val rnd = new scala.util.Random(7)
    val t = mkTable("divm_r")
    val groups = Seq("a", "b", "c")
    var ts = 0L
    def nextTs(): Long = { ts += 1; ts }
    val c0 = t.upsert(Seq((0L, "a", 3L, nextTs()))
      .toDF("id", "g", "v", "ts"), combine = false)
    var aux = DistinctMaintain.fullAux(t.snapshotAsOf(c0), grp, col("v"))
      .localCheckpoint()
    var from = c0
    for (round <- 1 to 5) {
      val ups = (0 until 1 + rnd.nextInt(5)).map { _ =>
        (rnd.nextInt(10).toLong, groups(rnd.nextInt(groups.length)),
          (1 + rnd.nextInt(4)).toLong, nextTs())
      }
      t.upsert(ups.toDF("id", "g", "v", "ts"), combine = true)
      if (rnd.nextBoolean()) {
        val live = t.snapshot().select("id").collect().map(_.getLong(0))
        if (live.nonEmpty)
          t.delete(Seq(live(rnd.nextInt(live.length))).toDF("id"))
      }
      val to = t.latestCommit.get
      aux = DistinctMaintain.applyDelta(aux,
        DistinctMaintain.delta(t.changes(from, to), grp, col("v")), grp)
        .localCheckpoint()
      from = to
      assert(viewMap(aux) == fresh(t), s"round $round")
      // multiplicities stay strictly positive (no zombie rows)
      assert(aux.filter(col("cnt") <= 0).isEmpty, s"round $round")
    }
  }

  test("streaming CDC source keeps distinct/min/max current; batch replay no-op") {
    val t = mkTable("divm_s")
    val base = Files.createTempDirectory("graft_divm_strm").toString
    val stateDir = s"$base/state"
    def recompute() = fresh(t)
    def persisted() = viewMap(DistinctMaintain.current(spark, stateDir).get._1)
    t.upsert(Seq((1L, "x", 2L, 1L), (2L, "x", 5L, 1L), (3L, "y", 7L, 1L))
      .toDF("id", "g", "v", "ts"), combine = false)
    val q = DistinctMaintain.runStream(spark, t.path, stateDir, grp,
      col("v"), s"$base/ckpt")
    q.processAllAvailable()
    assert(persisted() == recompute())
    // supersede a value, delete the group minimum, add a group
    t.upsert(Seq((1L, "x", 9L, 2L), (4L, "z", 1L, 2L))
      .toDF("id", "g", "v", "ts"), combine = false)
    t.delete(Seq(2L).toDF("id"))
    q.processAllAvailable()
    q.stop()
    assert(persisted() == recompute())
    assert(persisted()("x") == ((1L, 9L, 9L)))
    // a batch re-run after its checkpoint commit was lost is a no-op
    val before = persisted()
    val replayed = graft.streaming.StreamReplay.loseLastCommit(s"$base/ckpt")
    val q2 = DistinctMaintain.runStream(spark, t.path, stateDir, grp,
      col("v"), s"$base/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.recentProgress.exists(_.batchId == replayed))
    assert(persisted() == before)
  }

  test("persisted generations: bootstrap, incremental advance, replay no-op") {
    val t = mkTable("divm_p")
    val stateDir = Files.createTempDirectory("graft_divm_st").toString + "/st"
    t.upsert(Seq((1L, "x", 2L, 1L), (2L, "y", 4L, 1L))
      .toDF("id", "g", "v", "ts"), combine = false)
    val w1 = DistinctMaintain.advance(spark, t, stateDir, grp, col("v"))
    assert(w1.isDefined)
    assert(viewMap(DistinctMaintain.current(spark, stateDir).get._1) ==
      fresh(t))
    // replay with no new commits: watermark unchanged, state unchanged
    assert(DistinctMaintain.advance(spark, t, stateDir, grp, col("v")) == w1)
    // a new commit folds incrementally into the next generation
    t.upsert(Seq((3L, "x", 8L, 2L)).toDF("id", "g", "v", "ts"),
      combine = false)
    val w2 = DistinctMaintain.advance(spark, t, stateDir, grp, col("v"))
    assert(w2.isDefined && w2 != w1)
    val (aux2, _) = DistinctMaintain.current(spark, stateDir).get
    assert(viewMap(aux2) == fresh(t))
    assert(viewMap(aux2)("x") == ((2L, 2L, 8L)))
  }
}

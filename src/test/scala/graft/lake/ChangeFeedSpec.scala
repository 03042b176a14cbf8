package graft.lake

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[LakeTable.changes]] — the read-time CDC feed: classification of
  * inserts / updates (pre+post images) / deletes, net-effect semantics,
  * per-commit granularity, and the MOR tombstone path.
  */
class ChangeFeedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val base =
    java.nio.file.Files.createTempDirectory("changefeed").toString

  lazy val spark: SparkSession = graft.util.Sessions
    .builder("changefeed-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newTable(name: String, tableType: String = "cow"): LakeTable =
    LakeTable.create(spark, s"$base/$name",
      TableMeta(name, Seq("id"), "ts", tableType = tableType))

  private def df(rows: (Int, Long, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ts", "v")
  }

  private def feed(t: LakeTable, begin: String, end: String = "99999999999999999") =
    t.changes(begin, end).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Double]("v"),
        r.getAs[String]("_change_type")))
      .sortBy(x => (x._1, x._3)).toSeq

  test("COW: insert, update pre+post images, delete") {
    val t = newTable("cow1")
    val c1 = t.upsert(df((1, 10L, 1.0), (2, 10L, 2.0), (3, 10L, 3.0)))
    t.upsert(df((2, 20L, 22.0), (4, 20L, 4.0))) // update 2, insert 4
    t.delete(df((3, 99L, 0.0)))                 // delete 3
    assert(feed(t, c1) == Seq(
      (2, 22.0, "update_postimage"), (2, 2.0, "update_preimage"),
      (3, 3.0, "delete"), (4, 4.0, "insert")))
  }

  test("MOR: un-compacted deltas and tombstones classify identically") {
    val t = newTable("mor1", tableType = "mor")
    val c1 = t.upsert(df((1, 10L, 1.0), (2, 10L, 2.0), (3, 10L, 3.0)))
    t.upsert(df((2, 20L, 22.0), (4, 20L, 4.0)))
    t.delete(df((3, 99L, 0.0)))
    assert(feed(t, c1) == Seq(
      (2, 22.0, "update_postimage"), (2, 2.0, "update_preimage"),
      (3, 3.0, "delete"), (4, 4.0, "insert")))
    // ... and after compaction the SAME range answers the same
    t.compact()
    assert(feed(t, c1) == Seq(
      (2, 22.0, "update_postimage"), (2, 2.0, "update_preimage"),
      (3, 3.0, "delete"), (4, 4.0, "insert")))
  }

  test("net effect: in-range insert-then-delete and losing upsert vanish") {
    val t = newTable("net1")
    val c1 = t.upsert(df((1, 50L, 1.0)))
    t.upsert(df((9, 10L, 9.0)))  // insert 9 ...
    t.delete(df((9, 99L, 0.0)))  // ... then delete it inside the range
    t.upsert(df((1, 40L, 111.0))) // OLDER precombine: loses resolution
    assert(feed(t, c1) == Seq.empty,
      "no net change may be reported")
  }

  test("per-commit granularity: adjacent ranges compose the history") {
    val t = newTable("gran1")
    val c1 = t.upsert(df((1, 10L, 1.0)))
    val c2 = t.upsert(df((1, 20L, 1.5), (2, 20L, 2.0)))
    val c3 = t.delete(df((2, 99L, 0.0)))
    assert(feed(t, c1, c2) == Seq(
      (1, 1.5, "update_postimage"), (1, 1.0, "update_preimage"),
      (2, 2.0, "insert")))
    assert(feed(t, c2, c3) == Seq((2, 2.0, "delete")))
    // full range nets insert+delete of key 2 away
    assert(feed(t, c1, c3) == Seq(
      (1, 1.5, "update_postimage"), (1, 1.0, "update_preimage")))
  }

  test("changes() reconciles with snapshot diffs over random op sequences") {
    for (tableType <- Seq("cow", "mor")) {
      val t = newTable(s"rand_$tableType", tableType)
      val rnd = new scala.util.Random(42)
      var tick = 0L
      val commits = (1 to 6).map { _ =>
        tick += 1
        val keys = rnd.shuffle((1 to 20).toList).take(1 + rnd.nextInt(6))
        if (rnd.nextInt(4) == 0)
          t.delete(df(keys.map(k => (k, 1000L + tick, 0.0)): _*))
        else
          t.upsert(df(keys.map(k =>
            (k, tick * 10 + rnd.nextInt(3), k * 100.0 + tick)): _*))
      }
      def state(i: String): Map[Int, (Double, String)] =
        t.snapshotAsOf(i).collect().map(r => r.getAs[Int]("id") ->
          (r.getAs[Double]("v"), r.getAs[String]("_commit_time"))).toMap
      val ranges = commits.indices.flatMap(i =>
        commits.indices.drop(i + 1).map(j => (commits(i), commits(j))))
      for ((ci, cj) <- ranges) {
        val before = state(ci)
        val after = state(cj)
        val expected = (before.keySet ++ after.keySet).toSeq.flatMap { k =>
          (before.get(k), after.get(k)) match {
            case (None, Some((v, ct))) if ct > ci =>
              Seq((k, v, "insert"))
            case (Some((bv, _)), Some((av, ct))) if ct > ci =>
              Seq((k, bv, "update_preimage"), (k, av, "update_postimage"))
            case (Some((bv, _)), None) => Seq((k, bv, "delete"))
            case _                     => Seq.empty
          }
        }.sortBy(x => (x._1, x._3))
        val got = feed(t, ci, cj)
        assert(got == expected,
          s"$tableType range ($ci, $cj]: got $got expected $expected")
      }
    }
  }

  test("range cleaned past retention fails with the retention contract") {
    val t = newTable("ret1")
    val c1 = t.upsert(df((1, 10L, 1.0), (2, 10L, 2.0)))
    t.delete(df((2, 99L, 0.0)))  // rewrites the file (removes the old one)
    t.upsert(df((3, 30L, 3.0)))
    t.clean(retainCommits = 1)   // physically deletes the removed file
    val e = intercept[IllegalStateException] { t.changes(c1).collect() }
    assert(e.getMessage.contains("retention"))
  }

  test("rollup maintenance: incremental state tracks recompute across advances") {
    import graft.pipelines.RollupMaintain
    val t = newTable("ivm1")
    val stateDir = s"$base/ivm1_state"
    val grp = Seq("id")
    val value = org.apache.spark.sql.functions.col("v")
    def recompute() = RollupMaintain
      .fullState(t.snapshot(), grp, value)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Long]("cnt"),
        r.getAs[java.math.BigDecimal]("sum_v"))).sortBy(_._1).toSeq
    def persisted() = RollupMaintain.current(spark, stateDir).get._1
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Long]("cnt"),
        r.getAs[java.math.BigDecimal]("sum_v"))).sortBy(_._1).toSeq

    // no commits yet → advance declines
    assert(RollupMaintain.advance(spark, t, stateDir, grp, value).isEmpty)
    t.upsert(df((1, 10L, 1.0), (2, 10L, 2.0), (3, 10L, 3.0)))
    // first advance seeds from the snapshot
    assert(RollupMaintain.advance(spark, t, stateDir, grp, value).nonEmpty)
    assert(persisted() == recompute())
    // update + insert + delete, advanced incrementally (from images only)
    t.upsert(df((2, 20L, 22.0), (4, 20L, 4.0)))
    t.delete(df((3, 99L, 0.0)))
    val afterInst = RollupMaintain.advance(spark, t, stateDir, grp, value)
    assert(afterInst.contains(t.latestCommit.get))
    assert(persisted() == recompute())
    // deleted key 3 nets to zero and must VANISH from the state
    assert(!persisted().exists(_._1 == 3))
    // re-advance with nothing new: a no-op, same generation
    assert(RollupMaintain.advance(spark, t, stateDir, grp, value) == afterInst)
    assert(persisted() == recompute())
    // only one generation dir remains after the sweep
    val gens = new java.io.File(stateDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen_"))
    assert(gens.length == 1)
  }

  test("rollup maintenance: streaming CDC source keeps the state current") {
    import graft.pipelines.RollupMaintain
    val t = newTable("ivm2")
    val stateDir = s"$base/ivm2_state"
    val grp = Seq("id")
    val value = org.apache.spark.sql.functions.col("v")
    def recompute() = RollupMaintain
      .fullState(t.snapshot(), grp, value)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Long]("cnt"),
        r.getAs[java.math.BigDecimal]("sum_v"))).sortBy(_._1).toSeq
    def persisted() = RollupMaintain.current(spark, stateDir).get._1
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Long]("cnt"),
        r.getAs[java.math.BigDecimal]("sum_v"))).sortBy(_._1).toSeq
    t.upsert(df((1, 10L, 1.0), (2, 10L, 2.0), (3, 10L, 3.0)))
    val q = RollupMaintain.runStream(spark, t.path, stateDir, grp, value,
      s"$base/ivm2_ckpt")
    q.processAllAvailable()
    assert(persisted() == recompute())
    t.upsert(df((2, 20L, 22.0), (4, 20L, 4.0)))
    t.delete(df((3, 99L, 0.0)))
    q.processAllAvailable()
    q.stop()
    assert(persisted() == recompute())
    assert(!persisted().exists(_._1 == 3)) // zero-net group vanished
    // a generation dir without _SUCCESS (crashed writer) is invisible
    val before = persisted()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$stateDir/gen_99999999999999999999"))
    assert(persisted() == before)
    // a batch re-run after its checkpoint commit was lost is a no-op
    val replayed = graft.streaming.StreamReplay.loseLastCommit(
      s"$base/ivm2_ckpt")
    val q2 = RollupMaintain.runStream(spark, t.path, stateDir, grp, value,
      s"$base/ivm2_ckpt")
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.recentProgress.exists(_.batchId == replayed))
    assert(persisted() == before)
  }

  test("from earliest: everything is an insert; empty range is empty") {
    val t = newTable("early1")
    val c1 = t.upsert(df((1, 10L, 1.0), (2, 10L, 2.0)))
    assert(feed(t, Timeline.Earliest) == Seq(
      (1, 1.0, "insert"), (2, 2.0, "insert")))
    assert(feed(t, c1) == Seq.empty)
  }
}

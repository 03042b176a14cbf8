package graft.lake

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class MorTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("mor-test", "4")

  override def afterAll(): Unit = spark.stop()

  def mkTable(inlineMax: Int = 0): LakeTable =
    LakeTable.create(spark,
      Files.createTempDirectory("mortbl").toString + "/t",
      TableMeta("m", Seq("id"), "ts", Seq("part"), tableType = "mor",
        inlineCompactMax = inlineMax))

  def df(rows: (Int, Long, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ts", "part", "v")
  }

  test("MOR upsert appends deltas; snapshot merges; readOptimized skips them") {
    val t = mkTable()
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0))) // base
    t.upsert(df((2, 20L, "p1", 22.0), (3, 20L, "p2", 3.0))) // delta
    // snapshot = merged view
    val snap = t.snapshot().orderBy("id")
    assert(snap.count() == 3)
    assert(snap.filter(col("id") === 2).head().getAs[Double]("v") == 22.0)
    // read-optimized = base only (stale id=2, no id=3)
    val ro = t.readOptimized().orderBy("id")
    assert(ro.count() == 2)
    assert(ro.filter(col("id") === 2).head().getAs[Double]("v") == 2.0)
    // the delta commit rewrote nothing
    val lastCommit = t.timeline.read(t.latestCommit.get)
    assert(lastCommit.operation == "deltacommit" && lastCommit.removed.isEmpty)
  }

  test("MOR precombine ordering: greater ts wins, later commit wins ties") {
    val t = mkTable()
    t.upsert(df((1, 20L, "p1", 1.0)))
    t.upsert(df((1, 10L, "p1", 99.0))) // stale delta: loses on read
    assert(t.snapshot().head().getAs[Double]("v") == 1.0)
    t.upsert(df((1, 20L, "p1", 7.0))) // tie on ts: later commit wins
    assert(t.snapshot().head().getAs[Double]("v") == 7.0)
  }

  test("schema evolution composes with MOR: evolve between base and deltas, compact agrees") {
    val s = spark
    import s.implicits._
    val t = mkTable()
    // base file under the original schema (no tag column yet)
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
    // delta 1 ADDS a column via schema-on-write evolution
    t.upsert(Seq((2, 20L, "p1", 22.0, "hot"), (3, 20L, "p2", 3.0, "cold"))
      .toDF("id", "ts", "part", "v", "tag"))
    // RENAME between that delta and the next one
    t.renameColumn("v", "value")
    t.upsert(Seq((1, 30L, "p1", 11.0, "warm"))
      .toDF("id", "ts", "part", "value", "tag"))
    // merged view under the evolved schema: base rows null-fill tag,
    // pre-rename files map v → value, per-key precombine still applies
    def view(dfr: org.apache.spark.sql.DataFrame) = dfr
      .select("id", "ts", "part", "value", "tag").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getDouble(3), Option(r.getString(4)))).toSeq
    val pre = view(t.snapshot())
    assert(pre == Seq(
      (1, 30L, "p1", 11.0, Some("warm")),
      (2, 20L, "p1", 22.0, Some("hot")),
      (3, 20L, "p2", 3.0, Some("cold"))))
    // compaction rewrites bases under the evolved schema; the merged
    // view must not move, and the read-optimized view converges to it
    assert(t.compact().isDefined)
    assert(view(t.snapshot()) == pre)
    assert(view(t.readOptimized()) == pre)
    // a fresh load sees the same state (evolution is table metadata,
    // not session state)
    assert(view(LakeTable.load(s, t.path).snapshot()) == pre)
  }

  test("compaction merges to base; snapshot unchanged; incremental survives") {
    val t = mkTable()
    val c1 = t.upsert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
    val c2 = t.upsert(df((2, 20L, "p1", 22.0)))
    val before = t.snapshot().orderBy("id").drop("_commit_time").collect().toSeq
    assert(t.compact().isDefined)
    val after = t.snapshot().orderBy("id").drop("_commit_time").collect().toSeq
    assert(before == after)
    // all live files are base now; readOptimized == snapshot
    assert(t.readOptimized().count() == 2)
    assert(t.readOptimized().filter(col("id") === 2).head().getAs[Double]("v") == 22.0)
    // incremental across the compaction still yields only (c1, c2] rows
    val inc = t.incremental(c1, c2)
    assert(inc.select("id").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("inline compaction triggers after N delta commits") {
    val t = mkTable(inlineMax = 2)
    t.upsert(df((1, 10L, "p1", 1.0)))
    t.upsert(df((2, 10L, "p1", 2.0)))
    // second deltacommit hits the max → auto-compact
    val ops = t.timeline.instants().map(t.timeline.read(_).operation)
    assert(ops.contains("compact"), s"ops were $ops")
    assert(t.readOptimized().count() == 2)
  }

  test("byte-based debt: one oversized delta compacts below the count threshold") {
    // count policy alone would wait for 100 deltas; the byte policy
    // fires on the first delta commit (any real file beats 1 byte)
    val t = LakeTable.create(spark,
      Files.createTempDirectory("mortbl").toString + "/t",
      TableMeta("m", Seq("id"), "ts", Seq("part"), tableType = "mor",
        inlineCompactMax = 100, inlineCompactMaxBytes = 1L))
    t.insert(df((1, 10L, "p1", 1.0)))
    t.upsert(df((1, 20L, "p1", 2.0))) // one delta, tiny but >= 1 byte
    val ops = t.timeline.instants().map(t.timeline.read(_).operation)
    assert(ops.contains("compact"),
      s"byte debt policy must fire on the oversized delta: $ops")
    assert(!t.timeline.liveFiles().exists(_.isDelta), "debt cleared")
    assert(t.snapshot().head().getAs[Double]("v") == 2.0)
    // and a count-only table with the same sequence does NOT compact
    val t2 = LakeTable.create(spark,
      Files.createTempDirectory("mortbl").toString + "/t",
      TableMeta("m", Seq("id"), "ts", Seq("part"), tableType = "mor",
        inlineCompactMax = 100))
    t2.insert(df((1, 10L, "p1", 1.0)))
    t2.upsert(df((1, 20L, "p1", 2.0)))
    assert(!t2.timeline.instants().map(t2.timeline.read(_).operation)
      .contains("compact"))
  }

  test("async compaction: ingest never blocks on the rewrite, debt still clears") {
    // reference KDS2Hudi.scala:131-133 ASYNC_COMPACT_ENABLE: the debt
    // policy fires on a background thread after publish
    val t = LakeTable.create(spark,
      Files.createTempDirectory("mortbl").toString + "/t",
      TableMeta("m", Seq("id"), "ts", Seq("part"), tableType = "mor",
        inlineCompactMax = 2, asyncCompact = true))
    t.insert(df((1, 10L, "p1", 1.0)))
    // each upsert's OWN commit is a deltacommit — the rewrite is never
    // inside the publish path (the async job may land its compact commit
    // at any point after, including before we look at the timeline)
    for (i <- 1 to 3) {
      val ci = t.upsert(df((1, 10L + i, "p1", i.toDouble)))
      val op = t.timeline.read(ci).operation
      assert(op == "deltacommit",
        s"commit path must publish the delta itself, got $op")
    }
    t.awaitTableServices()
    // a concurrent OPTIMISTIC writer interleaving with the async service
    // publishes or retries cleanly (write-set conflicts abort the
    // optimistic side, never corrupt the table)
    var done = false
    while (!done) {
      try { t.upsert(df((2, 99L, "p1", 42.0))); done = true }
      catch { case _: java.util.ConcurrentModificationException => () }
    }
    t.awaitTableServices()
    // debt compacted in the background: the timeline shows a compact op
    // and p1's outstanding delta count is back under the threshold
    assert(t.timeline.instants().map(t.timeline.read)
      .exists(_.operation == "compact"), "async compaction ran")
    val deltas = t.timeline.liveFiles().filter(_.isDelta)
      .filter(_.partition == "part=p1")
    assert(deltas.size < 2, s"debt cleared, ${deltas.size} deltas left")
    // and the merged view is exactly the latest versions
    val rows = t.snapshot().orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Double]("v"))).toSeq
    assert(rows == Seq((1, 3.0), (2, 42.0)))
  }

  test("async compaction failure is rethrown by awaitTableServices") {
    val t = LakeTable.create(spark,
      Files.createTempDirectory("mortbl").toString + "/t",
      TableMeta("m", Seq("id"), "ts", Seq("part"), tableType = "mor",
        inlineCompactMax = 2, asyncCompact = true))
    t.insert(df((1, 10L, "p1", 1.0)))
    t.upsert(df((1, 11L, "p1", 2.0))) // delta debt 1: no compaction yet
    t.awaitTableServices()
    // lose the live delta on disk: the compaction the next delta
    // triggers must read it and fail
    val lost = t.timeline.liveFiles().filter(_.isDelta)
    assert(lost.size == 1)
    new java.io.File(s"${t.path}/${lost.head.path}").delete()
    t.upsert(df((1, 12L, "p1", 3.0)))
    val e = intercept[Throwable](t.awaitTableServices())
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(lost.head.path)),
      s"the failure names the lost file: $e")
    assert(!t.timeline.instants().map(t.timeline.read)
      .exists(_.operation == "compact"), "the failed compaction never published")
    t.awaitTableServices() // reported once
  }

  test("cluster rewrite resets the inline-compaction debt counter") {
    val t = mkTable(inlineMax = 2)
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
    t.upsert(df((1, 20L, "p1", 11.0))) // delta debt: 1
    // clustering merges the outstanding delta exactly like a compaction
    assert(t.cluster(Seq("v")).isDefined)
    // first delta AFTER the cluster: debt is 1 again — counting across
    // the cluster rewrite would see 2 and fire an unnecessary compaction
    t.upsert(df((2, 20L, "p1", 22.0)))
    assert(t.timeline.read(t.latestCommit.get).operation == "deltacommit")
    // second post-cluster delta reaches the threshold → compaction fires
    t.upsert(df((1, 30L, "p1", 111.0)))
    assert(t.timeline.read(t.latestCommit.get).operation == "compact")
    val snap = t.snapshot().orderBy("id").collect()
    assert(snap.map(_.getAs[Double]("v")).toSeq == Seq(111.0, 22.0))
  }

  test("inline compaction is per file group: only the hot partition rewrites") {
    val t = mkTable(inlineMax = 2)
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p2", 2.0)))
    t.upsert(df((2, 20L, "p2", 22.0))) // cold partition: 1 delta, under max
    val coldDelta = t.timeline.read(t.latestCommit.get).added.map(_.path)
    t.upsert(df((1, 20L, "p1", 11.0))) // p1 debt 1
    t.upsert(df((1, 30L, "p1", 111.0))) // p1 debt 2 → scoped compact
    val compacts = t.timeline.instants().map(t.timeline.read)
      .filter(_.operation == "compact")
    assert(compacts.size == 1)
    // the rewrite touched ONLY p1 files; the cold p2 delta is still live
    assert(compacts.head.removed.forall(_.startsWith("part=p1/")))
    val liveNow = t.timeline.liveFiles().map(_.path)
    assert(coldDelta.forall(liveNow.contains))
    // snapshot correctness across the scoped rewrite
    val snap = t.snapshot().orderBy("id").collect()
    assert(snap.map(_.getAs[Double]("v")).toSeq == Seq(111.0, 22.0))
    // and p1 is now clean: its files are base, read-optimized sees them
    assert(t.readOptimized().filter(col("part") === "p1")
      .head().getAs[Double]("v") == 111.0)
  }

  test("scoped compaction + global-index partition move resolves correctly") {
    val t = mkTable()
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
    t.upsert(df((1, 15L, "p1", 5.0))) // stale delta in p1
    // key 1 then moves to p2 via a newer delta (global index)
    t.upsert(df((1, 20L, "p2", 9.0)))
    // compact ONLY p1: it elects its ts=15 version into base, but the
    // newer p2 delta stays live and must still win at read
    assert(t.compactPartitions(Set("part=p1")).isDefined)
    val r1 = t.snapshot().filter(col("id") === 1).head()
    assert(r1.getAs[String]("part") == "p2" && r1.getAs[Double]("v") == 9.0)
    assert(t.snapshot().count() == 2)
    // full compaction afterwards purges the superseded copy physically
    t.compact()
    val r1b = t.snapshot().filter(col("id") === 1).head()
    assert(r1b.getAs[String]("part") == "p2" && r1b.getAs[Double]("v") == 9.0)
    assert(t.snapshot().count() == 2)
  }

  test("MOR delete is a tombstone append; snapshot hides, compaction purges") {
    val t = mkTable()
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
    t.upsert(df((2, 20L, "p1", 22.0), (3, 20L, "p1", 3.0)))
    val del = t.delete(df((2, 0L, "p1", 0.0)))
    // the delete wrote a tombstone delta — nothing rewritten or removed
    val delCommit = t.timeline.read(del)
    assert(delCommit.removed.isEmpty)
    assert(delCommit.added.forall(f => f.isDelta && f.tombstones > 0))
    val snap = t.snapshot().orderBy("id")
    assert(snap.select("id").collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // read-optimized is allowed to lag (base-only view, like Hudi RO);
    // after compaction the deleted row and its tombstone are purged
    t.compact()
    assert(!t.readOptimized().select("id").collect().map(_.getInt(0)).contains(2))
    assert(t.snapshot().select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    assert(t.timeline.liveFiles().forall(_.tombstones == 0))
  }

  test("MOR delete then re-insert revives the key (tombstone barrier)") {
    val t = mkTable()
    t.insert(df((1, 50L, "p1", 1.0)))
    t.delete(df((1, 0L, "p1", 0.0)))
    assert(t.snapshot().count() == 0)
    // re-insert with a SMALLER precombine than the pre-delete row: the
    // tombstone kills the old version, so the new row must win
    t.upsert(df((1, 10L, "p1", 7.0)))
    val r = t.snapshot().collect()
    assert(r.length == 1 && r(0).getAs[Double]("v") == 7.0)
    // incremental across delete+reinsert surfaces the live row
    val inc = t.incremental(Timeline.Earliest)
    assert(inc.count() == 1 && inc.head().getAs[Double]("v") == 7.0)
  }

  test("MOR incremental merges in-range delta versions to latest per key") {
    val t = mkTable()
    val c0 = t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
    t.upsert(df((1, 20L, "p1", 11.0))) // v2 of key 1
    t.upsert(df((1, 30L, "p1", 111.0), (2, 20L, "p1", 22.0))) // v3 / v2
    val c3 = t.latestCommit.get
    val inc = t.incremental(c0, c3).orderBy("id")
    // one row per changed key, resolved to the latest in-range version —
    // never the intermediate v2 of key 1
    assert(inc.count() == 2)
    assert(inc.collect().map(r => r.getAs[Int]("id") -> r.getAs[Double]("v"))
      .toSeq == Seq(1 -> 111.0, 2 -> 22.0))
    // stale in-range delta loses to a greater-precombine in-range row
    t.upsert(df((2, 15L, "p1", 999.0)))
    val inc2 = t.incremental(c0, t.latestCommit.get).filter(col("id") === 2)
    assert(inc2.head().getAs[Double]("v") == 22.0)
  }

  test("global index via resolution: partition move on MOR") {
    val t = mkTable()
    t.insert(df((1, 10L, "p1", 1.0)))
    t.upsert(df((1, 20L, "p2", 5.0)))
    val snap = t.snapshot()
    assert(snap.count() == 1)
    assert(snap.head().getAs[String]("part") == "p2")
  }

  test("packSmallFiles on MOR packs bases only; outstanding deltas still merge") {
    val t = mkTable()
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0))) // base
    t.insert(df((3, 10L, "p1", 3.0)))                      // second base
    t.upsert(df((2, 20L, "p1", 22.0)))                     // delta, unmerged
    val deltasBefore = t.timeline.liveFiles().filter(_.isDelta)
    assert(deltasBefore.nonEmpty)
    val merged = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq

    assert(t.packSmallFiles(targetBytes = 10L * 1024 * 1024).isDefined)
    val liveAfter = t.timeline.liveFiles()
    // deltas untouched; the two base files became one
    assert(liveAfter.filter(_.isDelta) == deltasBefore)
    assert(liveAfter.count(f => !f.isDelta) == 1)
    // merge resolution identical over the packed base
    assert(t.snapshot().orderBy("id").drop("_deleted").collect().toSeq == merged)
    assert(t.snapshot().filter(col("id") === 2).head().getAs[Double]("v") == 22.0)
    // read-optimized still shows the packed stale base value
    assert(t.readOptimized().filter(col("id") === 2)
      .head().getAs[Double]("v") == 2.0)
  }

  test("MOR delete on a table with no schema writes one empty delete commit") {
    val t = mkTable()
    val c = t.delete(df((1, 0L, "p1", 0.0)))
    assert(t.timeline.instants() == Seq(c))
    val meta = t.timeline.read(c)
    assert(meta.operation == "delete")
    assert(meta.added.isEmpty && meta.removed.isEmpty)
    assert(t.userSchema.isEmpty)
  }
}

package graft.lake

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class LakeTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("lake-test", "4")
  import scala.jdk.CollectionConverters._

  def tmp(): String = Files.createTempDirectory("laketbl").toString + "/t"

  def mkTable(path: String): LakeTable =
    LakeTable.create(spark, path,
      TableMeta("t", Seq("id", "sub"), "ts", Seq("part")))

  def df(rows: (Int, String, Long, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "sub", "ts", "part", "v")
  }

  override def afterAll(): Unit = spark.stop()

  test("insert + snapshot round-trip") {
    val t = mkTable(tmp())
    t.insert(df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p2", 2.0)))
    val snap = t.snapshot()
    assert(snap.count() == 2)
    assert(snap.columns.contains("_record_key"))
    assert(snap.select("part").distinct().count() == 2)
    // partition column type survives the round trip
    assert(snap.schema("part").dataType.typeName == "string")
    assert(snap.schema("id").dataType.typeName == "integer")
  }

  test("upsert: precombine keeps greater ts; within-batch dedup; tie → incoming") {
    val t = mkTable(tmp())
    t.upsert(df((1, "a", 10L, "p1", 1.0), (1, "a", 20L, "p1", 2.0))) // in-batch dedup
    assert(t.snapshot().count() == 1)
    assert(t.snapshot().select("v").head().getDouble(0) == 2.0)
    t.upsert(df((1, "a", 15L, "p1", 99.0))) // stale: existing ts=20 wins
    assert(t.snapshot().select("v").head().getDouble(0) == 2.0)
    t.upsert(df((1, "a", 20L, "p1", 3.0))) // tie: incoming wins
    assert(t.snapshot().select("v").head().getDouble(0) == 3.0)
    t.upsert(df((1, "a", 30L, "p1", 4.0))) // newer wins
    assert(t.snapshot().select("v").head().getDouble(0) == 4.0)
    assert(t.snapshot().count() == 1)
  }

  for (tableType <- Seq("cow", "mor"))
    test(s"$tableType upsert: a row with a null precombine value keeps its columns") {
      val s = spark
      import s.implicits._
      val t = LakeTable.create(spark, tmp(),
        TableMeta("n", Seq("id"), "ts", tableType = tableType))
      t.upsert(Seq((1, Option(5L), "a"), (2, None, "b")).toDF("id", "ts", "v"))
      val rows = t.snapshot().select("id", "ts", "v").orderBy("id").collect()
        .map(r => (r.getInt(0), Option(r.get(1)), r.getString(2))).toSeq
      assert(rows == Seq((1, Some(5L), "a"), (2, None, "b")))
      // a later version with a precombine value replaces the null one
      t.upsert(Seq((2, Option(1L), "c")).toDF("id", "ts", "v"))
      assert(t.snapshot().filter(col("id") === 2).select("v").head()
        .getString(0) == "c")
    }

  test("global index: upsert moves a row whose partition changed") {
    val t = mkTable(tmp())
    t.upsert(df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p1", 2.0)))
    t.upsert(df((1, "a", 20L, "p2", 5.0))) // same key, new partition
    val snap = t.snapshot().orderBy("id")
    assert(snap.count() == 2)
    val r = snap.filter(col("id") === 1).head()
    assert(r.getAs[String]("part") == "p2")
    assert(r.getAs[Double]("v") == 5.0)
    // no ghost left in p1
    assert(t.snapshot().filter(col("id") === 1).count() == 1)
  }

  test("incremental read returns only rows committed in (begin, end]") {
    val t = mkTable(tmp())
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p1", 2.0)))
    val c2 = t.upsert(df((2, "b", 20L, "p1", 22.0), (3, "c", 20L, "p2", 3.0)))
    val inc = t.incremental(c1, c2)
    assert(inc.count() == 2) // updated 2 + new 3; unchanged 1 excluded
    assert(inc.select("id").collect().map(_.getInt(0)).toSet == Set(2, 3))
    // earliest..end == snapshot content
    assert(t.incremental("earliest", c2).count() == 3)
    // carried-over row kept its original commit time
    val row1 = t.snapshot().filter(col("id") === 1).head()
    assert(row1.getAs[String]("_commit_time") == c1)
  }

  test("delete removes keys, survivors keep commit time") {
    val t = mkTable(tmp())
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p1", 2.0)))
    t.delete(df((1, "a", 0L, "p1", 0.0)))
    val snap = t.snapshot()
    assert(snap.count() == 1)
    assert(snap.head().getAs[Int]("id") == 2)
    assert(snap.head().getAs[String]("_commit_time") == c1)
  }

  test("upsert replay is idempotent; distinct-key batches commute") {
    val t = mkTable(tmp())
    val batch = df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p2", 2.0))
    t.upsert(batch)
    val s1 = t.snapshot().drop("_commit_time").orderBy("id").collect().toSeq
    t.upsert(batch) // replay — keyed write converges
    val s2 = t.snapshot().drop("_commit_time").orderBy("id").collect().toSeq
    assert(s1 == s2)
    assert(t.snapshot().count() == 2)
  }

  test("time travel: snapshotAsOf sees historical state") {
    val t = mkTable(tmp())
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0)))
    t.upsert(df((1, "a", 20L, "p1", 2.0)))
    assert(t.snapshotAsOf(c1).select("v").head().getDouble(0) == 1.0)
    assert(t.snapshot().select("v").head().getDouble(0) == 2.0)
  }

  test("null-key rows are dropped (PK-not-null guard)") {
    val t = mkTable(tmp())
    val s = spark
    import s.implicits._
    val d = Seq((Some(1), "a", 10L, "p1", 1.0), (None, "x", 10L, "p1", 9.0))
      .toDF("id", "sub", "ts", "part", "v")
    t.upsert(d)
    assert(t.snapshot().count() == 1)
  }

  test("snapshot == snapshot(t1) + incremental(t1,t2) applied (merge algebra)") {
    val t = mkTable(tmp())
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p1", 2.0)))
    val c2 = t.upsert(df((2, "b", 20L, "p1", 22.0), (3, "c", 20L, "p2", 3.0)))
    val base = t.snapshotAsOf(c1).select("id", "sub", "ts", "part", "v")
    val delta = t.incremental(c1, c2).select("id", "sub", "ts", "part", "v")
    // apply delta over base by key, delta wins
    val applied = base.join(delta.select("id", "sub"), Seq("id", "sub"), "left_anti")
      .union(delta)
    val snapNow = t.snapshot().select("id", "sub", "ts", "part", "v")
    assert(applied.exceptAll(snapNow).isEmpty && snapNow.exceptAll(applied).isEmpty)
  }

  test("clean removes unreferenced old files but keeps live data") {
    val t = mkTable(tmp())
    t.upsert(df((1, "a", 10L, "p1", 1.0)))
    t.upsert(df((1, "a", 20L, "p1", 2.0)))
    t.upsert(df((1, "a", 30L, "p1", 3.0)))
    t.clean(retainCommits = 1)
    assert(t.snapshot().count() == 1)
    assert(t.snapshot().select("v").head().getDouble(0) == 3.0)
  }

  test("incremental prunes carried-over rewrite files by commit-range stats") {
    val t = mkTable(tmp())
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p1", 2.0),
      (3, "c", 10L, "p1", 3.0)))
    val c2 = t.delete(df((1, "a", 0L, "p1", 0.0)))
    // the delete's rewrite output holds ONLY carried-over rows — its
    // recorded row commit range must prove that, so incremental (c1, c2]
    // can skip the file without opening it
    val rewritten = t.timeline.read(c2).added
    assert(rewritten.nonEmpty)
    assert(rewritten.forall(f => f.maxCommit != null && f.maxCommit <= c1))
    assert(t.incremental(c1, c2).count() == 0)
    // and a genuine update in range is still surfaced
    val c3 = t.upsert(df((2, "b", 20L, "p1", 22.0)))
    assert(t.incremental(c1, c3).select("id").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("broadcast and sort-merge upsert plans produce identical tables") {
    val rows1 = (1 to 200).map(i => (i, i.toString, 10L, s"p${i % 3}", i * 1.0))
    val rows2 = (150 to 250).map(i => (i, i.toString, 20L, s"p${i % 3}", i * 2.0))
    def build(): Seq[(Int, String, Long, Double)] = {
      val t = mkTable(tmp())
      t.upsert(df(rows1: _*))
      t.upsert(df(rows2: _*))
      t.snapshot().select("id", "sub", "ts", "v").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    }
    val saved = LakeTable.BloomProbeMaxKeys
    try {
      LakeTable.BloomProbeMaxKeys = Long.MaxValue // force broadcast plan
      val viaBroadcast = build()
      LakeTable.BloomProbeMaxKeys = 0L // force sort-merge full outer
      val viaSortMerge = build()
      assert(viaBroadcast == viaSortMerge)
      assert(viaBroadcast.size == 250)
    } finally LakeTable.BloomProbeMaxKeys = saved
  }

  test("delete: broadcast and shuffled anti-join paths produce identical tables") {
    val rows = (1 to 300).map(i => (i, i.toString, 10L, s"p${i % 3}", i * 1.0))
    val delRows = (1 to 200).map(i => (i, i.toString, 0L, s"p${i % 3}", 0.0))
    def build(): Seq[Int] = {
      val t = mkTable(tmp())
      t.upsert(df(rows: _*))
      t.delete(df(delRows: _*))
      t.snapshot().select("id").collect().map(_.getInt(0)).sorted.toSeq
    }
    val saved = LakeTable.BloomProbeMaxKeys
    try {
      LakeTable.BloomProbeMaxKeys = Long.MaxValue // small-batch: broadcast
      val viaBroadcast = build()
      // bulk-purge path: key set above the point threshold → shuffled
      // left_anti (the 100 TB GDPR-sweep plan; an unconditional broadcast
      // would OOM the driver there)
      LakeTable.BloomProbeMaxKeys = 0L
      val viaShuffle = build()
      assert(viaBroadcast == viaShuffle)
      assert(viaBroadcast == (201 to 300).toSeq)
    } finally LakeTable.BloomProbeMaxKeys = saved
  }

  test("point rewrite: one file per touched partition dir with AQE on, the range split with AQE off") {
    // a 600-row table over p0..p2, then a point upsert of 20 keys that
    // moves some of them between p0/p1 and opens the new dir p9
    def rewrite(aqe: Boolean): (Seq[FileStat], Seq[(Int, String, Double)]) = {
      val t = mkTable(tmp())
      val spWas = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      try {
        t.upsert(df((1 to 600).map(i => (i, "s", 10L, s"p${i % 3}", i * 1.0)): _*))
        spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        val c = t.upsert(df(((1 to 20).map(i => (i, "s", 20L, s"p${i % 2}", -1.0)) :+
          ((1000, "s", 20L, "p9", 0.0))): _*))
        val out = t.snapshot().select("id", "part", "v").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
        (t.timeline.read(c).added, out)
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", spWas)
      }
    }
    val (perDir, perDirOut) = rewrite(aqe = true)
    val (ranged, rangedOut) = rewrite(aqe = false)
    assert(perDirOut == rangedOut) // the layout never changes the answer
    assert(perDirOut.size == 601 && perDirOut.count(_._3 == -1.0) == 20)
    val touched = Set("part=p0", "part=p1", "part=p2", "part=p9")
    assert(perDir.map(_.partition).toSet == touched)
    assert(perDir.size == touched.size, "one file per touched dir: " +
      perDir.map(_.path).mkString(", "))
    // AQE off: the range shuffle keeps its 16 partitions, so the rewrite
    // still splits each dir into narrow key ranges
    assert(ranged.map(_.partition).toSet == touched)
    assert(ranged.size > touched.size, s"range split: ${ranged.size} files")
  }

  /** Parquet data files physically on disk (excludes `_lake` metadata). */
  private def dataFilesOnDisk(path: String): Seq[String] = {
    val root = java.nio.file.Paths.get(path.stripPrefix("file:"))
    val out = scala.collection.mutable.ArrayBuffer[String]()
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".parquet") && !rel.startsWith("_lake")) out += rel
    }
    out.toSeq
  }

  test("a straggler commit file below the archive checkpoint never changes reads") {
    val path = tmp()
    val t = mkTable(path)
    (1 to 5).foreach(i => t.upsert(df((1, "a", i * 10L, "p1", i.toDouble))))
    val full = t.snapshot().drop("_commit_time").collect().toSeq
    t.archiveTimeline(keepCommits = 2)
    val instantsAfter = t.timeline.instants()
    assert(t.snapshot().drop("_commit_time").collect().toSeq == full)
    // simulate the crashed-archiver window: an archived ORIGINAL commit
    // file reappears in the active dir below the checkpoint — readers
    // must ignore it entirely (the checkpoint supersedes it)
    val tl = java.nio.file.Paths.get(path.stripPrefix("file:"), "_lake", "timeline")
    val archived = java.nio.file.Files.list(tl.resolve("archive"))
      .filter(_.getFileName.toString.endsWith(".commit.json"))
      .findFirst().get()
    java.nio.file.Files.copy(archived, tl.resolve(archived.getFileName))
    assert(t.timeline.instants() == instantsAfter,
      "a superseded straggler must not reappear in the instant list")
    assert(t.snapshot().drop("_commit_time").collect().toSeq == full)
    // the next archive run sweeps the straggler back out
    t.upsert(df((1, "a", 60L, "p1", 6.0)))
    t.archiveTimeline(keepCommits = 2)
    assert(!java.nio.file.Files.exists(tl.resolve(archived.getFileName)),
      "re-archive must sweep the straggler")
    assert(t.snapshot().select("v").head().getDouble(0) == 6.0)
  }

  test("archive then clean physically deletes files removed by archived commits") {
    val path = tmp()
    val t = mkTable(path)
    // five rewrites of one key: each commit's file removes its predecessor
    (1 to 5).foreach(i => t.upsert(df((1, "a", i * 10L, "p1", i.toDouble))))
    assert(dataFilesOnDisk(path).size == 5)
    // archive c1..c3 → their removal records (files of c1, c2) now live
    // only in the checkpoint; without carrying them forward those two
    // files would be orphaned forever
    t.archiveTimeline(keepCommits = 2)
    t.clean(retainCommits = 1)
    // deletable: c1/c2's files (removed by archived commits, via the
    // checkpoint) + c3's file (removed by c4 ≤ cutoff). c4's file is
    // retained (removed by c5, inside the retention window) + c5's live.
    val left = dataFilesOnDisk(path)
    assert(left.size == 2, s"expected 2 files, found: $left")
    assert(t.snapshot().select("v").head().getDouble(0) == 5.0)
    // a later clean advances the cutoff (the clean commit aged c5 past
    // it) and removes c4's file; already-cleaned files are NOT re-deleted
    t.clean(retainCommits = 1)
    assert(dataFilesOnDisk(path).size == 1)
    assert(t.snapshot().select("v").head().getDouble(0) == 5.0)
  }

  test("cluster service: files sorted by chosen column, snapshot unchanged") {
    val t = mkTable(tmp())
    val c1 = t.upsert(df((1, "a", 10L, "p1", 3.0), (2, "b", 10L, "p1", 1.0),
      (3, "c", 10L, "p1", 2.0), (4, "d", 10L, "p2", 9.0)))
    val before = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq
    val inst = t.cluster(Seq("v"))
    assert(inst.isDefined)
    val after = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq
    assert(before == after)
    assert(t.timeline.read(inst.get).operation == "cluster")
    // rows keep original commit times → incremental across clustering and
    // commit-range pruning both hold
    assert(t.snapshot().select("_commit_time").distinct().head().getString(0) == c1)
    assert(t.timeline.read(inst.get).added.forall(_.maxCommit <= c1))
    assert(t.incremental(c1).count() == 0)
  }

  test("padded key encoding: same results, numerically tight file pruning") {
    // mixed-width numeric keys interleave in string order ("100" < "99"),
    // so a numerically narrow update batch looks string-wide and defeats
    // the stats prune; the padded encoding restores numeric locality.
    def build(encoding: String): (Seq[(Int, Double)], Int, Int) = {
      val path = tmp()
      val t = LakeTable.create(spark, path,
        TableMeta("k", Seq("id"), "ts", Seq.empty, keyEncoding = encoding))
      val spWas = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // stable file count
      // the write fans out to spark.sql.shuffle.partitions files: pin it
      // so the file count does not follow the machine's core count
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      try {
        t.upsert(df((1 to 999).map(i => (i, i.toString, 10L, "p", i * 1.0)): _*))
        // candidate set the key-range stats admit for a narrow numeric
        // batch — replicate matchedFiles' overlap test on commit metadata
        val bounds = t.snapshot().filter(col("id").between(95, 105))
          .agg(min("_record_key"), max("_record_key")).head()
        val (mn, mx) = (bounds.getString(0), bounds.getString(1))
        val live = t.timeline.liveFiles()
        val candidates = live.count(f => !(f.maxKey < mn || f.minKey > mx))
        t.upsert(df((95 to 105).map(i => (i, i.toString, 20L, "p", -i * 1.0)): _*))
        val out = t.snapshot().select("id", "v").collect()
          .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
        (out, candidates, live.size)
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", spWas)
      }
    }
    val (plainOut, plainCand, plainTotal) = build("plain")
    val (padOut, padCand, padTotal) = build("padded")
    assert(plainOut == padOut) // encoding is invisible to query results
    assert(plainOut.slice(94, 105).forall(_._2 < 0)) // updates applied
    assert(plainTotal > 4 && padTotal > 4, "need several files to compare")
    // plain: the "105".."95" string range spans nearly every file;
    // padded: string order == numeric order, the narrow range hits ~1
    assert(plainCand > plainTotal / 2,
      s"expected the plain prune to be loose: $plainCand/$plainTotal")
    assert(padCand <= 2,
      s"padded candidates $padCand/$padTotal vs plain $plainCand/$plainTotal")
  }

  test("footer-derived file stats match a direct scan of written files") {
    val t = mkTable(tmp())
    val rows = (1 to 300).map(i => (i, s"s$i", 10L + i, s"p${i % 3}", i * 1.0))
    // first write through the DISTRIBUTED footer-read path, second via the
    // driver loop — both must yield the same exact stats
    val saved = LakeTable.FooterReadFanoutThreshold
    try {
      LakeTable.FooterReadFanoutThreshold = 0
      t.upsert(df(rows: _*))
    } finally LakeTable.FooterReadFanoutThreshold = saved
    t.upsert(df((5, "s5", 500L, "p2", 9.9))) // a rewrite commit too
    t.timeline.instants().map(t.timeline.read).filter(_.added.nonEmpty)
      .flatMap(_.added).foreach { f =>
        val real = spark.read
          .parquet(new org.apache.hadoop.fs.Path(t.path, f.path).toString)
          .select("_record_key", "_commit_time").collect()
        assert(f.numRecords == real.length, s"rows of ${f.path}")
        assert(f.minKey == real.map(_.getString(0)).min, s"minKey of ${f.path}")
        assert(f.maxKey == real.map(_.getString(0)).max, s"maxKey of ${f.path}")
        assert(f.minCommit == real.map(_.getString(1)).min, s"minCommit of ${f.path}")
        assert(f.maxCommit == real.map(_.getString(1)).max, s"maxCommit of ${f.path}")
        assert(f.tombstones == 0L)
      }
  }

  test("restore rolls back to an instant; refuses when retention broke it") {
    val path = tmp()
    val t = mkTable(path)
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0)))
    val c2 = t.upsert(df((1, "a", 20L, "p1", 2.0), (2, "b", 20L, "p1", 5.0)))
    val c3 = t.upsert(df((1, "a", 30L, "p1", 3.0)))
    val c3Files = t.timeline.read(c3).added.map(_.path)
    t.restore(c2)
    assert(t.timeline.latestInstant().contains(c2))
    val snap = t.snapshot().orderBy("id").collect()
    assert(snap.map(_.getAs[Double]("v")).toSeq == Seq(2.0, 5.0))
    // the rolled-back commit's data files are physically gone (c1's
    // rewritten-away file stays — still needed for time travel to c1)
    val onDisk = dataFilesOnDisk(path)
    assert(c3Files.forall(f => !onDisk.contains(f)), s"leftover: $c3Files")
    assert(t.snapshotAsOf(c1).select("v").head().getDouble(0) == 1.0)
    t.upsert(df((3, "c", 40L, "p1", 7.0)))
    assert(t.snapshot().count() == 3)
    // a restore target whose files were cleaned away is refused
    val t2 = mkTable(tmp())
    val d1 = t2.upsert(df((1, "a", 10L, "p1", 1.0)))
    t2.upsert(df((1, "a", 20L, "p1", 2.0)))
    t2.upsert(df((1, "a", 30L, "p1", 3.0)))
    t2.clean(retainCommits = 1) // c1's file is removed-and-aged → deleted
    assertThrows[IllegalArgumentException](t2.restore(d1))
    assert(t2.snapshot().select("v").head().getDouble(0) == 3.0)
  }

  test("commit publish failure: invisible to readers, retry converges, orphans sweepable") {
    val path = tmp()
    val t = mkTable(path)
    t.upsert(df((1, "a", 10L, "p1", 1.0)))
    // pin the next instant: latest = far-future F ⇒ next is always F+1
    t.timeline.commit(CommitMeta("00099999999999990", "insert"))
    // block the commit publish (directory squatting on the inflight temp
    // path makes fs.create throw) — simulates a writer dying between
    // data-file publish and commit publish
    val blocker = java.nio.file.Paths.get(path.stripPrefix("file:"),
      "_lake", "timeline", ".00099999999999991.inflight")
    Files.createDirectories(blocker)
    assertThrows[Exception](t.upsert(df((2, "b", 20L, "p1", 2.0))))
    // the failed write published data files but no commit — readers are
    // untouched
    assert(t.snapshot().count() == 1)
    assert(t.timeline.instants().size == 2)
    // retry at the SAME instant overwrites the poisoned file names and
    // converges
    java.nio.file.Files.delete(blocker)
    t.upsert(df((2, "b", 20L, "p1", 2.0)))
    assert(t.snapshot().count() == 2)
    assert(t.snapshot().filter(col("id") === 2).head().getAs[Double]("v") == 2.0)
    // a DIFFERENT failed instant's residue is invisible but on disk —
    // the orphan sweep removes exactly it
    val ghost = java.nio.file.Paths.get(path.stripPrefix("file:"),
      "part=p1", "00099999999999989_00000.parquet")
    java.nio.file.Files.write(ghost, Array[Byte](1, 2, 3))
    assert(t.snapshot().count() == 2)
    assert(t.cleanOrphanedData() == 1)
    assert(!java.nio.file.Files.exists(ghost))
    assert(t.snapshot().count() == 2) // committed data untouched
  }

  test("packSmallFiles: bin-packs small base files, leaves state semantics intact") {
    val t = mkTable(tmp())
    // four small commits into one partition → four sliver files
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0)))
    t.upsert(df((2, "b", 10L, "p1", 2.0)))
    t.upsert(df((3, "c", 10L, "p1", 3.0)))
    val c4 = t.upsert(df((4, "d", 10L, "p2", 9.0))) // lone file in p2
    val before = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq
    val liveBefore = t.timeline.liveFiles()
    assert(liveBefore.count(_.partition == "part=p1") == 3)

    val inst = t.packSmallFiles(targetBytes = 10L * 1024 * 1024)
    assert(inst.isDefined)
    val liveAfter = t.timeline.liveFiles()
    // p1's slivers merged; p2's lone file untouched (below minFiles)
    assert(liveAfter.count(_.partition == "part=p1") == 1)
    assert(liveAfter.filter(_.partition == "part=p2") ==
      liveBefore.filter(_.partition == "part=p2"))
    // content identical; rows keep commit times → time travel and
    // incremental reads are unaffected by the rewrite
    assert(t.snapshot().orderBy("id").drop("_deleted").collect().toSeq == before)
    assert(t.incremental(c4).count() == 0)
    assert(t.snapshotAsOf(c1).count() == 1)
    assert(t.timeline.read(inst.get).operation == "pack")
    // idempotent: nothing left to pack
    assert(t.packSmallFiles(targetBytes = 10L * 1024 * 1024).isEmpty)
  }

  test("data-file rename failure mid-publish: partial residue invisible, retry converges") {
    val path = tmp()
    val t = mkTable(path)
    t.upsert(df((1, "a", 10L, "p1", 1.0)))
    // pin the next instant (latest = far-future F ⇒ next is always F+1),
    // making the publish destinations' names predictable
    t.timeline.commit(CommitMeta("00099999999999990", "insert"))
    // squat the p2 destination with a NON-EMPTY directory: delete(dst,
    // recursive=false) throws, so the publish loop dies AFTER p1's file
    // was already renamed into place — a mid-publish crash with partial
    // data-file residue
    val blocker = java.nio.file.Paths.get(path.stripPrefix("file:"),
      "part=p2", "00099999999999991_00001.parquet")
    Files.createDirectories(blocker)
    Files.write(blocker.resolve("squat"), Array[Byte](1))
    assertThrows[Exception](t.upsert(
      df((2, "b", 20L, "p1", 2.0), (3, "c", 20L, "p2", 3.0))))
    // partial residue: p1's file IS on disk under the failed instant...
    val partial = java.nio.file.Paths.get(path.stripPrefix("file:"),
      "part=p1", "00099999999999991_00000.parquet")
    assert(java.nio.file.Files.exists(partial))
    // ...but no commit was published, so readers see nothing of it
    assert(t.snapshot().count() == 1)
    assert(t.timeline.instants().size == 2)
    // the failed attempt also left its staging dir; the sweep reclaims it
    assert(t.cleanOrphanedStaging(olderThanMs = 0L) >= 1)
    // retry: same instant recomputed, partial residue overwritten, exact
    java.nio.file.Files.delete(blocker.resolve("squat"))
    java.nio.file.Files.delete(blocker)
    t.upsert(df((2, "b", 20L, "p1", 2.0), (3, "c", 20L, "p2", 3.0)))
    assert(t.snapshot().count() == 3)
    assert(t.snapshot().filter(col("id") === 2).head().getAs[Double]("v") == 2.0)
    assert(t.snapshot().filter(col("id") === 3).head().getAs[Double]("v") == 3.0)
    // nothing dangling: a full orphan sweep finds zero unreferenced files
    assert(t.cleanOrphanedData() == 0)
  }

  test("in-flight commit temp files are invisible to readers") {
    val t = mkTable(tmp())
    t.upsert(df((1, "a", 10L, "p1", 1.0)))
    // simulate a writer that crashed mid-commit: partial temp file present
    val dir = Files.createDirectories(java.nio.file.Paths.get(
      t.path.stripPrefix("file:"), "_lake", "timeline"))
    Files.write(dir.resolve(".99999999999999999.inflight"),
      "{not json".getBytes)
    assert(t.timeline.instants().size == 1)
    assert(t.snapshot().count() == 1)
  }

  test("clean honors retention: time travel at retained instants survives") {
    val t = mkTable(tmp())
    val c1 = t.upsert(df((1, "a", 10L, "p1", 1.0)))
    val c2 = t.upsert(df((1, "a", 20L, "p1", 2.0))) // removes c1's file
    val c3 = t.upsert(df((1, "a", 30L, "p1", 3.0))) // removes c2's file
    // retain the last 3 commits: c2's file was removed by c3, which is
    // INSIDE the retained window, so it must not be physically deleted —
    // snapshotAsOf(c2) is part of the retention contract.
    t.clean(retainCommits = 3)
    assert(t.snapshotAsOf(c2).select("v").head().getDouble(0) == 2.0)
    assert(t.snapshotAsOf(c1).select("v").head().getDouble(0) == 1.0)
    // with retention 1, only files whose REMOVING commit is at or before
    // the cutoff go; the latest state always survives
    t.clean(retainCommits = 1)
    assert(t.snapshot().select("v").head().getDouble(0) == 3.0)
    assert(t.snapshotAsOf(c3).select("v").head().getDouble(0) == 3.0)
  }

  test("delete: a batch carrying a column the table lacks leaves the schema unchanged") {
    for (tableType <- Seq("cow", "mor")) {
      val t = LakeTable.create(spark, tmp(),
        TableMeta("t", Seq("id", "sub"), "ts", Seq("part"), tableType))
      t.upsert(df((1, "a", 10L, "p1", 1.0), (2, "b", 10L, "p1", 2.0)))
      val before = t.userSchema
      t.delete(df((1, "a", 0L, "p1", 0.0)).withColumn("note", lit("gone")))
      assert(t.userSchema == before, tableType)
      assert(!t.snapshot().columns.contains("note"), tableType)
      assert(t.snapshot().select("id").collect().map(_.getInt(0)).toSeq ==
        Seq(2), tableType)
    }
  }
}

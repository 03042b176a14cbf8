package graft.lake

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Paths}

/** Atomic multi-table transactions ([[TxnGroup]]): both halves become
  * visible at the single decision point or neither does — including
  * across a hard JVM kill between the two prepares (the torn-write
  * window the reference's non-transactional medallion watermark has,
  * SURVEY hard-part #5) — and presumed-abort recovery rolls back or
  * completes exactly as the decision record says.
  */
class TxnGroupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("txn-group-test", "4")

  override def afterAll(): Unit = spark.stop()

  private def df(rows: (Int, Long, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ts", "v")
  }

  /** Two seeded COW tables in a fresh workdir. */
  private def pair(): (LakeTable, LakeTable, String) = {
    val work = Files.createTempDirectory("txngroup").toString
    def make(sub: String) = LakeTable.create(spark, s"$work/$sub",
      TableMeta(s"txn_$sub", Seq("id"), "ts", Seq.empty))
    val a = make("a"); val b = make("b")
    a.upsert(df((1, 1L, 10.0), (2, 1L, 20.0)))
    b.upsert(df((1, 1L, 100.0), (2, 1L, 200.0)))
    (a, b, work)
  }

  test("commit makes both halves visible; neither is visible before") {
    val (a, b, _) = pair()
    val txnId = TxnGroup.commit(Seq(
      TxnGroup.TxnUpsert(a, df((3, 2L, 30.0))),
      TxnGroup.TxnUpsert(b, df((3, 2L, 300.0)))))
    assert(a.snapshot().count() == 3 && b.snapshot().count() == 3)
    assert(a.snapshot().filter(col("id") === 3).head().getAs[Double]("v") == 30.0)
    assert(b.snapshot().filter(col("id") === 3).head().getAs[Double]("v") == 300.0)
    // the prepares carry the txn markers and the decision record holds
    val pendA = a.timeline.instants().map(a.timeline.read)
      .filter(_.extra.get(Timeline.TxnIdKey).contains(txnId))
    assert(pendA.size == 1)
    assert(a.timeline.txnState(pendA.head.extra(Timeline.TxnCoordKey))
      == "committed")
    // consumers can advance over the committed transaction
    assert(a.latestCommit.contains(pendA.head.instant))
  }

  test("a prepared-but-undecided half is invisible and caps the stable watermark") {
    val (a, b, _) = pair()
    val before = a.latestCommit.get
    val txnId = "t_manual1"
    val coord = a.fs.makeQualified(
      new org.apache.hadoop.fs.Path(a.path, s"_lake/txn/$txnId.json")).toString
    val i = a.txnPrepare("upsert", df((9, 2L, 90.0)), txnId, coord)
    try {
      // invisible to snapshot, incremental, and the visible-instant view
      assert(a.snapshot().count() == 2)
      assert(a.snapshot().filter(col("id") === 9).count() == 0)
      assert(!a.timeline.visibleInstants().contains(i))
      assert(a.timeline.instants().contains(i))
      // consumers stay capped below the in-doubt prepare
      assert(a.latestCommit.contains(before))
      // the decision flips visibility atomically
      assert(TxnGroup.decide(a.fs, coord, "committed") == "committed")
      assert(a.snapshot().count() == 3)
      assert(a.timeline.visibleInstants().contains(i))
    } finally a.timeline.releaseReservation(i)
    assert(a.latestCommit.contains(i))
    // recovery over a decided-committed prepare is a report, not a change
    assert(b.recoverTxns().isEmpty)
    assert(a.recoverTxns() == Seq(i -> "committed"))
  }

  test("a failing prepare aborts the whole transaction and rolls back the first half") {
    val (a, b, _) = pair()
    // B's prepare will hit an OCC conflict: another in-doubt writer
    // already holds an overlapping write-set on B
    val blockCoord = b.fs.makeQualified(
      new org.apache.hadoop.fs.Path(b.path, "_lake/txn/t_block.json")).toString
    val blocker = b.txnPrepare("upsert", df((2, 5L, 2.0)), "t_block", blockCoord)
    try {
      intercept[java.util.ConcurrentModificationException] {
        TxnGroup.commit(Seq(
          TxnGroup.TxnUpsert(a, df((2, 6L, 33.0))),
          TxnGroup.TxnUpsert(b, df((2, 6L, 333.0)))))
      }
    } finally {
      TxnGroup.decide(b.fs, blockCoord, "aborted")
      b.txnRollback(blocker)
      b.timeline.releaseReservation(blocker)
    }
    // A's half rolled back: no row change, no pending commit, no orphans
    assert(a.snapshot().count() == 2 && b.snapshot().count() == 2)
    assert(a.snapshot().filter(col("id") === 2).head().getAs[Double]("v") == 20.0)
    assert(!a.timeline.instants().map(a.timeline.read)
      .exists(_.extra.contains(Timeline.TxnIdKey)))
    assert(a.cleanOrphanedData() == 0)
    // the pair is fully operational afterwards
    TxnGroup.commit(Seq(
      TxnGroup.TxnUpsert(a, df((4, 3L, 44.0))),
      TxnGroup.TxnUpsert(b, df((4, 3L, 444.0)))))
    assert(a.snapshot().count() == 3 && b.snapshot().count() == 3)
  }

  test("an in-doubt prepare is an OCC conflict candidate for concurrent writers") {
    val (a, _, _) = pair()
    val coord = a.fs.makeQualified(
      new org.apache.hadoop.fs.Path(a.path, "_lake/txn/t_occ.json")).toString
    val i = a.txnPrepare("upsert", df((1, 5L, 11.0)), "t_occ", coord)
    try {
      // a concurrent writer touching the same key must conflict: the
      // in-doubt commit is not in its visible baseline, and if it later
      // commits the overlapping rewrite would lose one of the writes
      intercept[java.util.ConcurrentModificationException] {
        a.upsert(df((1, 6L, 12.0)))
      }
      // disjoint keys publish freely (snapshot isolation, not a big lock)
      a.upsert(df((7, 6L, 70.0)))
    } finally {
      assert(TxnGroup.decide(a.fs, coord, "aborted") == "aborted")
      a.txnRollback(i)
      a.timeline.releaseReservation(i)
    }
    assert(a.snapshot().filter(col("id") === 1).head().getAs[Double]("v") == 10.0)
    assert(a.snapshot().count() == 3)
    // the key is writable again after the abort
    a.upsert(df((1, 7L, 13.0)))
    assert(a.snapshot().filter(col("id") === 1).head().getAs[Double]("v") == 13.0)
  }

  // ------------------------------------------------------ crash probes

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def runProbe(dirs: Seq[String],
      crashpoint: Option[String]): (Int, String) = {
    val classDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val cp = s"$classDir:/opt/spark/jars/*"
    val crashProp = crashpoint.map(c => s"-Dgraft.lake.crashpoint=$c").toSeq
    val p = new ProcessBuilder(
      (Seq("java", "-cp", cp, "-Xmx2g", "-Dspark.ui.enabled=false") ++
        crashProp ++ addOpens ++
        Seq("graft.tools.TxnProbe") ++ dirs ++ Seq("5")): _*)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    (p.waitFor(), out)
  }

  /** N seeded COW tables in a fresh workdir. */
  private def many(n: Int): Seq[LakeTable] = {
    val work = Files.createTempDirectory("txngroup").toString
    (0 until n).map { i =>
      val t = LakeTable.create(spark, s"$work/t$i",
        TableMeta(s"txn_t$i", Seq("id"), "ts", Seq.empty))
      t.upsert(df((1, 1L, 10.0), (2, 1L, 20.0)))
      t
    }
  }

  /** Age the dead probe's inflight reservations past the staleness
    * window (recovery's writer-dead signal), like CrashRecoverySpec's
    * ageLock but for reservations.
    */
  private def ageReservations(tableDir: String): Unit = {
    val inflight = Paths.get(tableDir, "_lake", "timeline", "inflight")
    if (!Files.exists(inflight)) return
    val s = Files.list(inflight)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        Files.setLastModifiedTime(p,
          FileTime.fromMillis(System.currentTimeMillis() - 31 * 60 * 1000L))
      }
    } finally s.close()
  }

  private def crashCase(n: Int, crashpoint: String): Unit = {
    val ts = many(n)
    val (code, out) = runProbe(ts.map(_.path), Some(crashpoint))
    assert(code == 137,
      s"probe should be halted at $crashpoint, exit=$code, " +
        s"output: ${out.takeRight(2000)}")
    val fresh = ts.map(t => LakeTable.load(spark, t.path))
    // probe upserts ids 0..4 into every table (seeds are ids 1,2):
    // committed snapshot = 5 keys, aborted/undecided = the 2 seeds
    val committed = crashpoint == "txn.decided"
    val expect = if (committed) 5L else 2L
    // NEVER a half-published set: before the decision no table shows
    // the txn rows; after it all do — under a hard kill at any boundary
    fresh.foreach(t => assert(t.snapshot().count() == expect,
      s"${t.path} torn at $crashpoint: ${t.snapshot().count()}"))
    // recovery: age the dead writer's reservations AND any writer lock a
    // mid-publish parallel prepare was holding at the halt (the survivor
    // breaks stale locks, but only past LockStaleMs — age past it like
    // CrashRecoverySpec does instead of waiting)
    fresh.foreach(t => ageReservations(t.path))
    fresh.foreach { t =>
      val lock = Paths.get(t.path.stripPrefix("file:"), "_lake", "lock")
      if (Files.exists(lock))
        Files.setLastModifiedTime(lock, FileTime.fromMillis(
          System.currentTimeMillis() - 11 * 60 * 1000L))
    }
    val recs = fresh.map(t => t.recoverTxns())
    if (committed) {
      // all N prepared before the decision: recovery completes each
      recs.foreach(r => assert(r.map(_._2) == Seq("committed"), s"$recs"))
    } else {
      // prepares run in PARALLEL: at txn.prepared.k (completion order)
      // at least k tables published and each published half rolls back;
      // an unpublished table has nothing to recover — either way no
      // table may end committed
      recs.foreach(r =>
        assert(r.map(_._2).forall(_ == "rolledback"), s"$recs"))
      val k = crashpoint.stripPrefix("txn.prepared.").toInt
      assert(recs.count(_.nonEmpty) >= k,
        s"at least $k prepares had published: $recs")
    }
    fresh.foreach(t => assert(t.snapshot().count() == expect))
    // a prepare killed mid-write may leave staged residue; the sweep
    // converges — a second pass finds nothing
    fresh.foreach(_.cleanOrphanedData())
    fresh.foreach(t => assert(t.cleanOrphanedData() == 0))
    // fully operational afterwards: the same transaction now succeeds
    TxnGroup.commit(fresh.map(t => TxnGroup.TxnUpsert(t, df((8, 9L, 80.0)))))
    fresh.foreach(t => assert(t.snapshot().count() == expect + 1))
  }

  test("JVM halt between the two prepares: readers see neither half; recovery aborts") {
    crashCase(2, "txn.prepared.1")
  }

  test("JVM halt after both prepares, before the decision: recovery aborts both") {
    crashCase(2, "txn.prepared.2")
  }

  test("JVM halt after the decision: both halves visible; recovery completes") {
    crashCase(2, "txn.decided")
  }

  test("4-way crash soak: recovery converges from every halt point") {
    // parallel prepares make the interleaving at each halt point
    // nondeterministic (any subset beyond the k-th may be unstarted,
    // mid-write, or published) — the recovery matrix must converge
    // from all of them, at every 2PC boundary
    val points = (1 to 4).map(k => s"txn.prepared.$k") :+ "txn.decided"
    points.foreach(p => crashCase(4, p))
  }

  test("prepares run in parallel: a 4-mart txn overlaps its writes") {
    val ts = many(4)
    val s = spark
    import s.implicits._
    // a 1-partition input whose evaluation holds the gauge for 300 ms;
    // within one prepare Spark actions run sequentially, so concurrent
    // holds can only come from DIFFERENT prepares overlapping
    def slowDf = s.range(0, 4, 1, 1).mapPartitions { it =>
      PrepareGauge.touch(); it
    }.map(i => (i.toInt + 100, 2L, i.toDouble)).toDF("id", "ts", "v")
    PrepareGauge.max.set(0)
    PrepareGauge.rendezvous = new java.util.concurrent.CountDownLatch(2)
    try TxnGroup.commit(ts.map(t => TxnGroup.TxnUpsert(t, slowDf)))
    finally PrepareGauge.rendezvous = null
    assert(PrepareGauge.max.get() >= 2,
      s"expected overlapping prepares, max concurrency = ${PrepareGauge.max.get()}")
    ts.foreach(t => assert(t.snapshot().count() == 6)) // 2 seeds + 4
  }

  test("multi-mart medallion hop: data + shared watermark advance on both marts or neither") {
    val (a, b, _) = pair()
    def wm(t: LakeTable): Option[String] =
      t.timeline.visibleInstants().reverse.iterator
        .map(t.timeline.read).flatMap(_.extra.get("dwd.watermark"))
        .nextOption()
    // one source delta fans out to two marts; the watermark rides BOTH
    // prepares and flips visible with the decision — the atomic form of
    // the reference's non-transactional medallion watermark
    TxnGroup.commit(Seq(
      TxnGroup.TxnUpsert(a, df((3, 2L, 30.0)),
        extra = Map("dwd.watermark" -> "w1")),
      TxnGroup.TxnUpsert(b, df((3, 2L, 300.0)),
        extra = Map("dwd.watermark" -> "w1"))))
    assert(wm(a).contains("w1") && wm(b).contains("w1"))
    // a crashed half-prepared hop advances NEITHER mart's watermark —
    // resume re-reads the last committed range on both, no double count
    val coord = a.fs.makeQualified(
      new org.apache.hadoop.fs.Path(a.path, "_lake/txn/t_wm.json")).toString
    val i = a.txnPrepare("upsert", df((4, 3L, 40.0)), "t_wm", coord,
      userExtra = Map("dwd.watermark" -> "w2"))
    assert(wm(a).contains("w1") && wm(b).contains("w1"))
    a.timeline.releaseReservation(i) // writer dies
    // the earlier committed txn is re-reported as such; the dead one
    // must roll back
    assert(a.recoverTxns().contains(i -> "rolledback"))
    assert(wm(a).contains("w1") && wm(b).contains("w1"))
    assert(a.snapshot().count() == 3)
  }

  test("archival never retires an undecided prepare (boundary capped below it)") {
    val (a, _, _) = pair()
    val coord = a.fs.makeQualified(
      new org.apache.hadoop.fs.Path(a.path, "_lake/txn/t_arch.json")).toString
    val i = a.txnPrepare("upsert", df((9, 2L, 90.0)), "t_arch", coord)
    try {
      // commits after the prepare (disjoint keys — no conflict)
      a.upsert(df((20, 3L, 21.0)))
      a.upsert(df((21, 3L, 22.0)))
      // keepCommits=1 would archive the seed AND the in-doubt prepare;
      // the boundary must cap below the prepare instead
      a.archiveTimeline(1)
      assert(a.timeline.instants().contains(i),
        "the undecided prepare must stay on the active timeline")
      // the late decision still lands and the half surfaces intact
      assert(TxnGroup.decide(a.fs, coord, "committed") == "committed")
      assert(a.snapshot().filter(col("id") === 9).count() == 1)
    } finally a.timeline.releaseReservation(i)
  }

  test("decision records retire only when no participant references them") {
    val (a, b, _) = pair()
    TxnGroup.commit(Seq(
      TxnGroup.TxnUpsert(a, df((3, 2L, 30.0))),
      TxnGroup.TxnUpsert(b, df((3, 2L, 300.0)))))
    def records(t: LakeTable): Int = {
      val d = new org.apache.hadoop.fs.Path(t.path, "_lake/txn")
      if (!t.fs.exists(d)) 0
      else t.fs.listStatus(d).count(_.getPath.getName.endsWith(".json"))
    }
    assert(records(a) == 1)
    // both participants' prepares still reference the committed record:
    // clean must keep it
    a.clean(retainCommits = 50)
    assert(records(a) == 1, "record still referenced by live prepares")
    assert(a.snapshot().count() == 3 && b.snapshot().count() == 3)
    // archival seals the prepares on BOTH tables (their content folds
    // into the checkpoints); only then may the record go
    a.upsert(df((7, 3L, 70.0))); b.upsert(df((7, 3L, 700.0)))
    a.archiveTimeline(1); b.archiveTimeline(1)
    a.clean(retainCommits = 50)
    assert(records(a) == 0, "sealed everywhere: record retired")
    assert(a.snapshot().count() == 4 && b.snapshot().count() == 4)
    assert(a.snapshot().filter(col("id") === 3).head().getAs[Double]("v") == 30.0)
    // an aborted record sweeps once THIS table rolled its prepare back
    // AND the zombie-coordinator grace period elapsed: deleting a fresh
    // abort record would return the txn to "pending", letting a paused
    // coordinator wake and write "committed" over rolled-back halves —
    // so the very maintain()/clean pass that wrote the abort must keep it
    val coord = a.fs.makeQualified(
      new org.apache.hadoop.fs.Path(a.path, "_lake/txn/t_gone.json")).toString
    val i = a.txnPrepare("upsert", df((8, 4L, 80.0)), "t_gone", coord)
    a.timeline.releaseReservation(i) // dead writer
    assert(a.recoverTxns().contains(i -> "rolledback"))
    a.clean(retainCommits = 50)
    assert(records(a) == 1, "fresh abort record must survive the grace period")
    val before = Timeline.TxnAbortGraceMs
    try {
      Timeline.TxnAbortGraceMs = 0L
      Thread.sleep(5)
      a.clean(retainCommits = 50)
      assert(records(a) == 0, "aged-out abort record retires")
    } finally Timeline.TxnAbortGraceMs = before
  }

  test("clean never deletes files an in-doubt prepare's removed set names") {
    val (a, _, _) = pair()
    // COW upsert of an existing key inside a still-undecided txn: the
    // prepare's `removed` lists the base file it replaced, but readers
    // (who filter the invisible prepare out) still read that file live
    val coord = a.fs.makeQualified(
      new org.apache.hadoop.fs.Path(a.path, "_lake/txn/t_live.json")).toString
    val i = a.txnPrepare("upsert", df((1, 2L, 11.0)), "t_live", coord)
    try {
      val removed = a.timeline.read(i).removed
      assert(removed.nonEmpty, "COW prepare must list the replaced base")
      // push the prepare at/below the clean cutoff with newer commits
      a.upsert(df((5, 1L, 50.0)))
      a.upsert(df((6, 1L, 60.0)))
      a.upsert(df((7, 1L, 70.0)))
      a.clean(retainCommits = 2)
      removed.foreach { rel =>
        assert(a.fs.exists(new org.apache.hadoop.fs.Path(a.path, rel)),
          s"clean deleted $rel, still live for every visible snapshot")
      }
      // the pre-txn value is intact (reads the "removed" base file)
      assert(a.snapshot().filter(col("id") === 1)
        .head().getAs[Double]("v") == 10.0)
      // once the txn COMMITS, the replaced base is genuinely dead and a
      // later clean may retire it
      assert(TxnGroup.decide(a.fs, coord, "committed") == "committed")
      a.timeline.releaseReservation(i)
      a.upsert(df((8, 1L, 80.0)))
      a.clean(retainCommits = 2)
      removed.foreach { rel =>
        assert(!a.fs.exists(new org.apache.hadoop.fs.Path(a.path, rel)),
          s"committed txn's replaced base $rel should now be cleanable")
      }
      assert(a.snapshot().filter(col("id") === 1)
        .head().getAs[Double]("v") == 11.0)
    } finally a.timeline.releaseReservation(i)
  }

  test("maintain() runs txn recovery as step 0") {
    val (a, _, _) = pair()
    val coord = a.fs.makeQualified(
      new org.apache.hadoop.fs.Path(a.path, "_lake/txn/t_m.json")).toString
    val i = a.txnPrepare("upsert", df((9, 2L, 90.0)), "t_m", coord)
    a.timeline.releaseReservation(i) // simulate the writer dying
    val done = a.maintain()
    assert(done.contains("txn-rolledback" -> i), s"got $done")
    assert(a.snapshot().count() == 2)
  }

  test("a TxnDelete removes its key on COW and MOR") {
    val work = Files.createTempDirectory("txndel").toString
    val tables = Seq("cow", "mor").map { tt =>
      val t = LakeTable.create(spark, s"$work/$tt",
        TableMeta(s"txn_del_$tt", Seq("id"), "ts", Seq.empty, tt))
      t.upsert(df((1, 1L, 10.0), (2, 1L, 20.0)))
      t
    }
    TxnGroup.commit(tables.map(t => TxnGroup.TxnDelete(t, df((1, 9L, 0.0)))))
    tables.foreach { t =>
      assert(t.snapshot().select("id").collect().map(_.getInt(0)).toSeq ==
        Seq(2), t.meta.tableType)
      assert(t.timeline.read(t.latestCommit.get).operation == "delete")
    }
  }
}

/** Cross-prepare concurrency gauge for the parallel-prepares test:
  * local-mode executor threads share the JVM, so a static counter
  * observes overlap between different prepares' Spark jobs.
  */
/** Concurrency gauge for the parallel-prepares test. Overlap detection
  * is a LATCH RENDEZVOUS, not a timed sleep: the first prepare inside
  * touch() waits (bounded) for a second one to arrive, so whenever the
  * pool CAN overlap, max >= 2 is recorded regardless of how far apart
  * a loaded box staggers the future starts — the old 300 ms sleep
  * window read "serial" under heavy ambient load and flaked.
  * A genuinely serial TxnGroup still fails: each toucher times out
  * alone and max stays 1.
  */
object PrepareGauge {
  val cur = new java.util.concurrent.atomic.AtomicInteger(0)
  val max = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var rendezvous: java.util.concurrent.CountDownLatch = null
  def touch(): Unit = {
    val c = cur.incrementAndGet()
    max.accumulateAndGet(c, math.max)
    try {
      val l = rendezvous
      if (l != null) {
        l.countDown()
        l.await(20, java.util.concurrent.TimeUnit.SECONDS)
        ()
      } else Thread.sleep(300)
    } finally cur.decrementAndGet()
  }
}

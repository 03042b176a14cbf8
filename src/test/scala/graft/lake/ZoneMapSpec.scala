package graft.lake

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class ZoneMapSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("zonemap-test", "4")

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("zonemap").toString + "/t"

  // ---- ZonePrune unit semantics over a synthetic FileStat ----

  private val st = FileStat("f", "", 10, "k10", "k50",
    cols = Map(
      "v" -> Seq("100.5", "200.25"),
      "n" -> Seq("-20", "30"),
      "s" -> Seq("bb", "dd")))

  private val v = AttributeReference("v", DoubleType)()
  private val n = AttributeReference("n", LongType)()
  private val s = AttributeReference("s", StringType)()
  private val key = AttributeReference(LakeTable.RecordKeyCol, StringType)()

  private def lit(x: Any): Literal = Literal(x)

  test("zone prune: comparison operators against numeric ranges") {
    assert(ZonePrune.couldMatch(st, EqualTo(v, lit(150.0))))
    assert(!ZonePrune.couldMatch(st, EqualTo(v, lit(99.0))))
    assert(!ZonePrune.couldMatch(st, EqualTo(v, lit(200.26))))
    assert(ZonePrune.couldMatch(st, EqualTo(lit(100.5), v))) // boundary, flipped
    assert(!ZonePrune.couldMatch(st, GreaterThan(v, lit(200.25)))) // hi !> v
    assert(ZonePrune.couldMatch(st, GreaterThanOrEqual(v, lit(200.25))))
    assert(!ZonePrune.couldMatch(st, LessThan(v, lit(100.5)))) // lo !< v
    assert(ZonePrune.couldMatch(st, LessThanOrEqual(v, lit(100.5))))
    // long range incl. negatives; int literal against long attr
    assert(ZonePrune.couldMatch(st, EqualTo(n, lit(-20L))))
    assert(!ZonePrune.couldMatch(st, LessThan(n, lit(-20L))))
    assert(ZonePrune.couldMatch(st, GreaterThan(lit(31L), n))) // some row < 31
    assert(ZonePrune.couldMatch(st, LessThan(lit(29L), n))) // some row > 29
    assert(!ZonePrune.couldMatch(st, LessThan(lit(30L), n))) // none > 30
  }

  test("zone prune: strings, record key, In/Or/And, unknowns stay safe") {
    assert(ZonePrune.couldMatch(st, EqualTo(s, lit("cc"))))
    assert(!ZonePrune.couldMatch(st, EqualTo(s, lit("aa"))))
    assert(!ZonePrune.couldMatch(st, GreaterThan(s, lit("dd"))))
    // record-key range rides the same path
    assert(ZonePrune.couldMatch(st, EqualTo(key, lit("k30"))))
    assert(!ZonePrune.couldMatch(st, EqualTo(key, lit("z"))))
    // In: any member inside keeps the file
    assert(ZonePrune.couldMatch(st, In(v, Seq(lit(1.0), lit(150.0)))))
    assert(!ZonePrune.couldMatch(st, In(v, Seq(lit(1.0), lit(2.0)))))
    // And prunes if either side proves impossible; Or needs both
    assert(!ZonePrune.couldMatch(st,
      And(EqualTo(v, lit(150.0)), EqualTo(n, lit(99L)))))
    assert(ZonePrune.couldMatch(st,
      Or(EqualTo(v, lit(1.0)), EqualTo(n, lit(0L)))))
    assert(!ZonePrune.couldMatch(st,
      Or(EqualTo(v, lit(1.0)), EqualTo(n, lit(99L)))))
    // unknown column / no stats / exotic expression ⇒ never prune
    val unknown = AttributeReference("nope", LongType)()
    assert(ZonePrune.couldMatch(st, EqualTo(unknown, lit(1L))))
    assert(ZonePrune.couldMatch(st, IsNotNull(v)))
    assert(ZonePrune.couldMatch(st, StartsWith(s, lit("zz"))))
    // NaN literal must not prune
    assert(ZonePrune.couldMatch(st, EqualTo(v, lit(Double.NaN))))
    // legacy FileStat with null cols map
    val legacy = FileStat("f", "", 10, "a", "b", cols = null)
    assert(ZonePrune.couldMatch(legacy, EqualTo(v, lit(1.0))))
  }

  test("zone prune soundness fuzz: a pruned file never contains a matching row") {
    val rnd = new scala.util.Random(42)
    def randStr(): String = List.fill(rnd.nextInt(3) + 1)(
      ('a' + rnd.nextInt(4)).toChar).mkString
    for (round <- 1 to 500) {
      // random row set; bounds derived EXACTLY like the writer would
      val vs = Seq.fill(rnd.nextInt(6) + 1)(rnd.nextInt(40) - 20.0)
      val ss = Seq.fill(rnd.nextInt(6) + 1)(randStr())
      val st = FileStat("f", "", vs.size, "a", "b", cols = Map(
        "v" -> Seq(vs.min.toString, vs.max.toString),
        "s" -> Seq(ss.min, ss.max)))
      val va = AttributeReference("v", DoubleType)()
      val sa = AttributeReference("s", StringType)()
      def numPred(): (Expression, Double => Boolean) = {
        val c = rnd.nextInt(40) - 20.0
        rnd.nextInt(5) match {
          case 0 => (EqualTo(va, Literal(c)), (x: Double) => x == c)
          case 1 => (LessThan(va, Literal(c)), (x: Double) => x < c)
          case 2 => (LessThanOrEqual(va, Literal(c)), (x: Double) => x <= c)
          case 3 => (GreaterThan(va, Literal(c)), (x: Double) => x > c)
          case _ => (GreaterThanOrEqual(va, Literal(c)), (x: Double) => x >= c)
        }
      }
      def strPred(): (Expression, String => Boolean) = {
        val c = randStr()
        rnd.nextInt(3) match {
          case 0 => (EqualTo(sa, Literal(c)), (x: String) => x == c)
          case 1 => (LessThan(sa, Literal(c)), (x: String) => x < c)
          case _ => (GreaterThan(sa, Literal(c)), (x: String) => x > c)
        }
      }
      val (pn, fn) = numPred()
      val (ps, fs2) = strPred()
      val rowsMatch = Map[Expression, Boolean](
        pn -> vs.exists(fn),
        ps -> ss.exists(fs2),
        And(pn, ps) -> (vs.exists(fn) && ss.exists(fs2)),
        Or(pn, ps) -> (vs.exists(fn) || ss.exists(fs2)))
      rowsMatch.foreach { case (e, anyRow) =>
        // soundness: pruned ⇒ genuinely no matching row. (The converse —
        // kept but no row matches — is allowed: And over independent
        // column ranges is conservative by construction.)
        if (!ZonePrune.couldMatch(st, e))
          assert(!anyRow, s"round $round unsound prune: $e over v=$vs s=$ss")
      }
      // single-column INEQUALITIES are exact against true min/max bounds
      // (equality can only be exact with a full value index, not a range)
      if (!pn.isInstanceOf[EqualTo])
        assert(ZonePrune.couldMatch(st, pn) == vs.exists(fn),
          s"round $round: $pn not exact over $vs")
      if (!ps.isInstanceOf[EqualTo])
        assert(ZonePrune.couldMatch(st, ps) == ss.exists(fs2),
          s"round $round: $ps not exact over $ss")
    }
  }

  // ---- end-to-end: write path records zones, read path skips files ----

  test("zone maps recorded at write and pruning files at plan time") {
    val s2 = spark
    import s2.implicits._
    val t = LakeTable.create(spark, tmp(),
      TableMeta("z", Seq("id"), "ts", Seq.empty))
    // two commits with disjoint value ranges → two file generations
    t.insert((1 to 100).map(i => (i, 1L, i.toDouble, s"a$i"))
      .toDF("id", "ts", "v", "tag"))
    t.insert((101 to 200).map(i => (i, 1L, 1000.0 + i, s"b$i"))
      .toDF("id", "ts", "v", "tag"))
    val live = t.timeline.liveFiles()
    assert(live.forall(f => f.colRanges.contains("v") &&
      f.colRanges.contains("tag") && f.colRanges.contains("ts")))
    assert(!live.exists(_.colRanges.contains(LakeTable.RecordKeyCol)))

    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val all = filesScanned(t.snapshot())
    assert(all == live.size)
    // v > 1100 lives only in commit-2 files
    val hi = t.snapshot().filter(col("v") > 1100.0)
    val hiFiles = filesScanned(hi)
    assert(hiFiles < all, s"expected pruning: $hiFiles vs $all")
    assert(hi.count() == 100)
    // string zone: tag starting commit-1 only — equality on an exact value
    val one = filesScanned(t.snapshot().filter(col("tag") === "a50"))
    assert(one < all)
    // impossible predicate scans zero files and still answers correctly
    val none = t.snapshot().filter(col("v") > 99999.0)
    assert(filesScanned(none) == 0)
    assert(none.count() == 0)
    // pruned query results match the unpruned semantics exactly
    val expect = t.snapshot().collect()
      .filter(r => r.getAs[Double]("v") > 1100.0).map(_.getAs[Int]("id")).toSet
    assert(hi.collect().map(_.getAs[Int]("id")).toSet == expect)
  }

  test("z-order clustering makes zone maps prune on BOTH curve columns") {
    val s2 = spark
    import s2.implicits._
    val t = LakeTable.create(spark, tmp(),
      TableMeta("zo", Seq("id"), "ts", Seq.empty))
    val spWas = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // stable file count
    // the write fans out to spark.sql.shuffle.partitions files: pin it
    // so the file count does not follow the machine's core count
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      // 64×64 grid; id = row-major order, so key-ordered files are tight
      // on v1 but span ALL of v2
      val grid = for (i <- 0 until 64; j <- 0 until 64)
        yield (i * 64 + j, 1L, i.toDouble, j.toDouble)
      t.insert(grid.toDF("id", "ts", "v1", "v2"))

      def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
      }
      val all = t.timeline.liveFiles().size.toLong
      assert(all > 8, s"need many files for a meaningful prune test: $all")
      val v2Before = filesScanned(t.snapshot().filter(col("v2") < 4.0))
      assert(v2Before == all, "key-ordered layout cannot prune on v2")
      val before = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq

      assert(t.clusterZOrder(Seq("v1", "v2"), bitsPerCol = 5).isDefined)
      val allZ = t.timeline.liveFiles().size.toLong
      val v1After = filesScanned(t.snapshot().filter(col("v1") < 4.0))
      val v2After = filesScanned(t.snapshot().filter(col("v2") < 4.0))
      assert(v1After < allZ / 2, s"v1 prune after z-order: $v1After/$allZ")
      assert(v2After < allZ / 2, s"v2 prune after z-order: $v2After/$allZ")
      // the rewrite changed layout only — same rows, same values
      val after = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq
      assert(after == before)
      assert(t.snapshot().filter(col("v2") < 4.0).count() == 64 * 4)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", spWas)
    }
  }

  test("z-order over a STRING column prunes via the first-8-bytes proxy") {
    val s2 = spark
    import s2.implicits._
    val t = LakeTable.create(spark, tmp(),
      TableMeta("zs", Seq("id"), "ts", Seq.empty))
    val spWas = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the write fans out to spark.sql.shuffle.partitions files: pin it
    // so the file count does not follow the machine's core count
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      // 64 string values × 64 numeric values; id row-major on the
      // NUMERIC axis, so the key-ordered layout spans all strings
      val grid = for (i <- 0 until 64; j <- 0 until 64)
        yield (i * 64 + j, 1L, f"s$j%02d_tail", i.toDouble)
      t.insert(grid.toDF("id", "ts", "sv", "nv"))

      def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
      }
      val all = t.timeline.liveFiles().size.toLong
      assert(all > 8, s"need many files: $all")
      assert(filesScanned(t.snapshot().filter(col("sv") < "s04")) == all,
        "key-ordered layout cannot prune on the string column")
      val before = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq

      assert(t.clusterZOrder(Seq("sv", "nv"), bitsPerCol = 5).isDefined)
      val allZ = t.timeline.liveFiles().size.toLong
      val svAfter = filesScanned(t.snapshot().filter(col("sv") < "s04"))
      val nvAfter = filesScanned(t.snapshot().filter(col("nv") < 4.0))
      assert(svAfter < allZ / 2, s"string prune after z-order: $svAfter/$allZ")
      assert(nvAfter < allZ / 2, s"numeric prune after z-order: $nvAfter/$allZ")
      // layout-only: same rows, same values; filters stay exact
      val after = t.snapshot().orderBy("id").drop("_deleted").collect().toSeq
      assert(after == before)
      assert(t.snapshot().filter(col("sv") < "s04").count() == 64 * 4)
      // the proxy is weakly monotone: equal-prefix strings may share a
      // bucket, but exact string zone bounds keep range answers exact
      assert(t.snapshot()
        .filter(col("sv") >= "s10" && col("sv") < "s20").count() == 64 * 10)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", spWas)
    }
  }

  test("hilbert clustering prunes on both columns and beats-or-ties z-order on box reads") {
    val s2 = spark
    import s2.implicits._
    val spWas = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // stable file count
    // the write fans out to spark.sql.shuffle.partitions files: pin it
    // so the file count does not follow the machine's core count
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val grid = for (i <- 0 until 64; j <- 0 until 64)
        yield (i * 64 + j, 1L, i.toDouble, j.toDouble)
      val df = grid.toDF("id", "ts", "v1", "v2")

      def filesScanned(d: org.apache.spark.sql.DataFrame): Long = {
        d.collect()
        d.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
      }
      def build(f: LakeTable => Option[String]): LakeTable = {
        val t = LakeTable.create(spark, tmp(),
          TableMeta("hc", Seq("id"), "ts", Seq.empty))
        t.insert(df)
        assert(f(t).isDefined)
        t
      }
      val h = build(_.clusterHilbert(Seq("v1", "v2"), bitsPerCol = 5))
      val z = build(_.clusterZOrder(Seq("v1", "v2"), bitsPerCol = 5))
      val allH = h.timeline.liveFiles().size.toLong
      assert(allH > 8, s"need many files for a meaningful prune test: $allH")
      // pruning works on BOTH participating columns
      assert(filesScanned(h.snapshot().filter(col("v1") < 4.0)) < allH / 2)
      assert(filesScanned(h.snapshot().filter(col("v2") < 4.0)) < allH / 2)
      // rewrite changed layout only
      assert(h.snapshot().select("id", "ts", "v1", "v2").orderBy("id")
        .collect().toSeq == df.orderBy("id").collect().toSeq)
      // head-to-head on box reads: hilbert's face-adjacent runs keep
      // zone maps at least as tight as z-order's diagonal jumps
      val boxes = Seq(
        col("v1").between(8.0, 23.0) && col("v2").between(8.0, 23.0),
        col("v1").between(30.0, 45.0) && col("v2").between(2.0, 17.0),
        col("v1") < 16.0 && col("v2") >= 48.0)
      val hFiles = boxes.map(b => filesScanned(h.snapshot().filter(b))).sum
      val zFiles = boxes.map(b => filesScanned(z.snapshot().filter(b))).sum
      assert(hFiles <= zFiles, s"hilbert scanned $hFiles vs z-order $zFiles")
      // box answers are exact regardless of layout
      for (b <- boxes)
        assert(h.snapshot().filter(b).count() == z.snapshot().filter(b).count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", spWas)
    }
  }

  test("zone maps survive the JSON round trip and upsert rewrites") {
    val s2 = spark
    import s2.implicits._
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableMeta("z2", Seq("id"), "ts", Seq("part")))
    t.upsert(Seq((1, 1L, "p1", 5.0), (2, 1L, "p1", 7.0))
      .toDF("id", "ts", "part", "v"))
    t.upsert(Seq((1, 2L, "p1", 9.0)).toDF("id", "ts", "part", "v"))
    // reload from disk: a fresh reader sees the same ranges
    val t2 = LakeTable.load(spark, path)
    val f = t2.timeline.liveFiles()
    assert(f.nonEmpty)
    val vr = f.flatMap(_.colRanges.get("v"))
    assert(vr.nonEmpty)
    // rewritten file carries the merged range [7.0, 9.0] (5.0 lost to
    // precombine) — bounds parse as doubles and bracket the survivors
    val los = vr.map(r => r(0).toDouble)
    val his = vr.map(r => r(1).toDouble)
    assert(los.min >= 5.0 && his.max <= 9.0 && his.max >= 9.0)
    assert(t2.snapshot().count() == 2)
  }
}

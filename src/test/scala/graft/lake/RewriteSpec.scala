package graft.lake

import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** File-set rewrites (the overwrite family and the table services) on
  * MOR and COW alike: a rewrite that resolves or drops rows takes every
  * live version of the keys it touches, so each one leaves the table
  * exactly as its COW twin does.
  */
class RewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("rewrite-test", "4")

  override def afterAll(): Unit = spark.stop()

  private def mkTable(tableType: String, inlineMax: Int = 0): LakeTable =
    LakeTable.create(spark,
      Files.createTempDirectory("rewrite").toString + "/t",
      TableMeta("r", Seq("id"), "ts", Seq("part"), tableType = tableType,
        inlineCompactMax = inlineMax))

  private def df(rows: (Int, Long, String, Double)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ts", "part", "v")
  }

  /** The snapshot as (id, part, v), sorted; fails on a key seen twice. */
  private def rows(t: LakeTable): Seq[(Int, String, Double)] = {
    val out = t.snapshot().select("id", "part", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(out.map(_._1).distinct.size == out.size, s"a key twice: $out")
    out
  }

  private val types = Seq("mor", "cow")

  types.foreach { tt =>
    test(s"$tt: replaceWhere matches a key's latest version, not a shadowed one") {
      val t = mkTable(tt)
      t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
      t.upsert(df((1, 20L, "p1", 10.0)))
      t.replaceWhere(col("v") > 5, df())
      assert(rows(t) == Seq((2, "p1", 2.0)))
    }

    test(s"$tt: overwritePartitions drops a key that moved into the partition") {
      val t = mkTable(tt)
      t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
      t.upsert(df((1, 20L, "p2", 11.0))) // id 1 moves p1 → p2
      t.overwritePartitions(df((5, 30L, "p2", 5.0)))
      assert(rows(t) == Seq((2, "p1", 2.0), (5, "p2", 5.0)))
    }

    test(s"$tt: compactPartitions keeps a moved key once") {
      val t = mkTable(tt)
      t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
      t.upsert(df((1, 20L, "p2", 11.0)))
      t.compactPartitions(Set("part=p2"))
      assert(rows(t) == Seq((1, "p2", 11.0), (2, "p1", 2.0)))
      assert(!t.timeline.liveFiles().exists(_.isDelta))
    }

    test(s"$tt: compactPartitions keeps a key once behind a stale delta") {
      val t = mkTable(tt)
      t.insert(df((1, 20L, "p1", 1.0), (2, 10L, "p1", 2.0)))
      t.upsert(df((1, 10L, "p2", 11.0))) // older ts: loses resolution
      t.compactPartitions(Set("part=p2"))
      assert(rows(t) == Seq((1, "p1", 1.0), (2, "p1", 2.0)))
    }

    test(s"$tt: the inline debt policy keeps a moved key once") {
      val t = mkTable(tt, inlineMax = 2)
      t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
      t.upsert(df((1, 20L, "p2", 11.0))) // p2 debt 1
      t.upsert(df((3, 20L, "p2", 3.0)))  // p2 debt 2: scoped compaction
      if (tt == "mor")
        assert(t.timeline.read(t.latestCommit.get).operation == "compact")
      assert(rows(t) == Seq((1, "p2", 11.0), (2, "p1", 2.0), (3, "p2", 3.0)))
    }
  }

  /** A table with a curve seed, two base generations, an update, a key
    * moved across partitions, a stale delta and a delete — and the
    * snapshot it must keep through any content-preserving service.
    */
  private def serviceStart(tt: String): LakeTable = {
    val t = mkTable(tt)
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0),
      (3, 10L, "p2", 3.0), (4, 10L, "p2", 4.0)))
    assert(t.clusterHilbert(Seq("v", "ts"), bitsPerCol = 4).isDefined)
    t.insert(df((5, 10L, "p1", 5.0), (6, 10L, "p2", 6.0), (7, 10L, "p2", 7.0)))
    t.upsert(df((2, 20L, "p1", 22.0)))  // update
    t.upsert(df((3, 20L, "p1", 33.0)))  // moves p2 → p1
    t.upsert(df((4, 5L, "p2", 44.0)))   // stale: older ts loses
    t.delete(df((5, 0L, "p1", 0.0)))
    t
  }

  private val serviceSnapshot = Seq((1, "p1", 1.0), (2, "p1", 22.0),
    (3, "p1", 33.0), (4, "p2", 4.0), (6, "p2", 6.0), (7, "p2", 7.0))

  private val services: Seq[(String, LakeTable => Any)] = Seq(
    "compact" -> (_.compact()),
    "compactPartitions p1" -> (_.compactPartitions(Set("part=p1"))),
    "compactPartitions p2" -> (_.compactPartitions(Set("part=p2"))),
    "packSmallFiles" -> (_.packSmallFiles(targetBytes = 10L * 1024 * 1024)),
    "cluster" -> (_.cluster(Seq("v"))),
    "clusterZOrder" -> (_.clusterZOrder(Seq("v", "ts"), bitsPerCol = 4)),
    "clusterHilbert full" -> (_.clusterHilbert(Seq("v", "ts"), bitsPerCol = 4)),
    "clusterHilbert incremental" ->
      (_.clusterHilbert(Seq("v", "ts"), bitsPerCol = 4, incremental = true)))

  types.foreach { tt =>
    test(s"$tt: every content-preserving service keeps the snapshot") {
      assert(rows(serviceStart(tt)) == serviceSnapshot)
      services.foreach { case (name, run) =>
        val t = serviceStart(tt)
        run(t)
        withClue(s"after $name: ") { assert(rows(t) == serviceSnapshot) }
      }
    }
  }
}

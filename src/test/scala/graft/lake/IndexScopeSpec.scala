package graft.lake

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `indexScope = "partition"` — the non-global record identity (Hudi's
  * default index scope; the reference opts into GLOBAL instead,
  * HudiConfig.scala:47-48). Identity = (partition values, key): same user
  * key in two partitions = two independent rows, and partition filters
  * prune files even below the MOR merge.
  */
class IndexScopeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("scope-test", "4")

  override def afterAll(): Unit = spark.stop()

  def mk(tableType: String = "cow"): LakeTable = LakeTable.create(spark,
    Files.createTempDirectory("scope").toString + "/t",
    TableMeta("sc", Seq("id"), "ts", Seq("part"), tableType,
      indexScope = "partition"))

  def df(rows: (Int, Long, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ts", "part", "v")
  }

  test("partition scope: same key in two partitions = two rows (insert, not move)") {
    val t = mk()
    t.upsert(df((1, 10L, "p1", 1.0)))
    t.upsert(df((1, 20L, "p2", 2.0))) // global scope would MOVE the row
    val snap = t.snapshot().orderBy("part").collect()
    assert(snap.length == 2)
    assert(snap.map(_.getAs[String]("part")).toSeq == Seq("p1", "p2"))
    // in-partition update still merges by key
    t.upsert(df((1, 30L, "p1", 11.0)))
    assert(t.snapshot().count() == 2)
    assert(t.snapshot().filter(col("part") === "p1").head()
      .getAs[Double]("v") == 11.0)
  }

  test("partition scope: delete is partition-local") {
    val t = mk()
    t.upsert(df((1, 10L, "p1", 1.0), (1, 10L, "p2", 2.0), (2, 10L, "p1", 3.0)))
    t.delete(df((1, 0L, "p1", 0.0))) // names (p1, key 1) only
    val snap = t.snapshot().orderBy("part", "id").collect()
    assert(snap.length == 2)
    assert(snap.map(r => (r.getAs[String]("part"), r.getAs[Int]("id"))).toSeq ==
      Seq(("p1", 2), ("p2", 1)))
  }

  test("partition scope MOR: merged read correct AND partition-pruned") {
    val t = mk(tableType = "mor")
    t.insert(df((1, 10L, "p1", 1.0), (2, 10L, "p2", 2.0)))
    t.upsert(df((1, 20L, "p1", 11.0), (2, 20L, "p2", 22.0))) // deltas
    // merged values are right
    val snap = t.snapshot()
    assert(snap.count() == 2)
    assert(snap.filter(col("part") === "p1").head().getAs[Double]("v") == 11.0)
    // and a partition filter reaches the SCAN below the key resolution —
    // the pruning the global scope fundamentally cannot do on merged reads
    val filtered = t.snapshot().filter(col("part") === "p1")
    assert(filtered.collect().length == 1) // materialize → AQE finalizes
    val planStr = (filtered.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    assert(planStr.matches("(?s).*PartitionFilters: \\[[^\\]]*= p1\\)\\].*"),
      s"no partition filter reached the scan below the merge:\n$planStr")
    // compaction preserves the partition-scoped state
    t.compact()
    assert(t.snapshot().count() == 2)
    assert(t.snapshot().filter(col("part") === "p2").head()
      .getAs[Double]("v") == 22.0)
  }

  test("partition scope MOR: tombstone delete + revive stays partition-local") {
    val t = mk(tableType = "mor")
    t.insert(df((1, 10L, "p1", 1.0), (1, 10L, "p2", 2.0)))
    t.delete(df((1, 50L, "p1", 0.0)))
    val snap = t.snapshot().collect()
    assert(snap.length == 1 && snap(0).getAs[String]("part") == "p2")
    // revive (p1, 1) with a later commit; p2's row untouched throughout
    t.upsert(df((1, 60L, "p1", 7.0)))
    val after = t.snapshot().orderBy("part").collect()
    assert(after.length == 2)
    assert(after(0).getAs[Double]("v") == 7.0)
    assert(after(1).getAs[Double]("v") == 2.0)
  }

  test("padded key encoding composes with partition scope") {
    val t = LakeTable.create(spark,
      Files.createTempDirectory("scope").toString + "/t",
      TableMeta("sc2", Seq("id"), "ts", Seq("part"), "cow",
        keyEncoding = "padded", indexScope = "partition"))
    t.upsert(df((100, 10L, "p1", 1.0), (99, 10L, "p1", 2.0),
      (100, 10L, "p2", 3.0)))
    t.upsert(df((100, 20L, "p1", 11.0)))
    val snap = t.snapshot().orderBy("part", "id").collect()
    assert(snap.length == 3)
    assert(snap.map(_.getAs[Double]("v")).toSeq == Seq(2.0, 11.0, 3.0))
  }

  test("partition scope: a keys-only delete without the partition column fails") {
    val s = spark
    import s.implicits._
    for (tableType <- Seq("cow", "mor")) {
      val t = mk(tableType)
      t.upsert(df((1, 10L, "p1", 1.0), (1, 10L, "p2", 2.0)))
      // the partition value is part of the identity: without it the
      // delete cannot name a record, so it must fail, not delete nothing
      intercept[Exception](t.delete(Seq(1).toDF("id")))
      assert(t.snapshot().count() == 2, tableType)
    }
  }
}

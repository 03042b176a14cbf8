package graft.sources

import graft.lake.LakeTable
import graft.util.Sessions
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The DSv2 `format("graft-lake-v2")` surface — same tables, v2 connector
  * plumbing. Each case has a v1 twin in [[LakeDataSourceSpec]]; both API
  * generations must see identical table state.
  */
class LakeDataSourceV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("dsv2-test", "4")

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("lakedsv2").toString + "/t"

  def df(rows: (Int, Long, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ts", "part", "v")
  }

  test("v2 write creates table; v2 read round-trips; v1 sees the same table") {
    val p = tmp()
    df((1, 10L, "p1", 1.0), (2, 10L, "p2", 2.0))
      .write.format("graft-lake-v2")
      .option("recordkey.field", "id")
      .option("precombine.field", "ts")
      .option("partition.fields", "part")
      .mode(SaveMode.Append)
      .save(p)
    val back = spark.read.format("graft-lake-v2").load(p)
    assert(back.count() == 2)
    assert(back.columns.contains("_record_key"))
    // the plan is a v2 relation, not the v1 fallback
    assert(back.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.nonEmpty)
    // upsert through v2 merges by key
    df((2, 20L, "p2", 22.0)).write.format("graft-lake-v2")
      .mode(SaveMode.Append).save(p)
    assert(spark.read.format("graft-lake-v2").load(p).count() == 2)
    // v1 short name reads the identical state — one table, two surfaces
    val v1 = spark.read.format("graft-lake").load(p)
    assert(v1.filter(col("id") === 2).head().getAs[Double]("v") == 22.0)
  }

  test("v2 read options: incremental and time travel") {
    val p = tmp()
    val t = LakeTable.create(spark, p,
      graft.lake.TableMeta("x2", Seq("id"), "ts", Seq("part")))
    val c1 = t.upsert(df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0)))
    val c2 = t.upsert(df((2, 20L, "p1", 22.0), (3, 20L, "p2", 3.0)))
    val inc = spark.read.format("graft-lake-v2")
      .option("query.type", "incremental")
      .option("begin", c1).option("end", c2)
      .load(p)
    assert(inc.select("id").collect().map(_.getInt(0)).toSet == Set(2, 3))
    val asOf = spark.read.format("graft-lake-v2")
      .option("as.of", c1).load(p)
    assert(asOf.count() == 2)
    assert(asOf.filter(col("id") === 2).head().getAs[Double]("v") == 2.0)
  }

  test("v2 pruning and filters return correct values") {
    val p = tmp()
    df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0), (3, 10L, "p2", 3.0))
      .write.format("graft-lake-v2")
      .option("recordkey.field", "id")
      .option("precombine.field", "ts")
      .option("partition.fields", "part")
      .mode(SaveMode.Append).save(p)
    val back = spark.read.format("graft-lake-v2").load(p)
    val one = back.filter(col("part") === "p2").select("id", "v").collect()
    assert(one.length == 1 && one(0).getInt(0) == 3 && one(0).getDouble(1) == 3.0)
    // COUNT(*) (empty projection) still works through the pruned scan
    assert(back.groupBy().count().head().getLong(0) == 3)
  }

  test("pure SQL lifecycle over v2: CREATE TABLE, INSERT, SELECT, OVERWRITE") {
    val p = tmp()
    spark.sql(
      s"""CREATE TABLE lake_v2_full (id INT, ts BIGINT, part STRING, v DOUBLE)
         |USING `graft-lake-v2`
         |OPTIONS (path '$p', 'recordkey.field' 'id',
         |         'precombine.field' 'ts', 'partition.fields' 'part')""".stripMargin)
    try {
      assert(spark.table("lake_v2_full").columns.toSeq ==
        Seq("id", "ts", "part", "v"))
      // empty before the first write — typed empty scan, not an error
      assert(spark.sql("SELECT count(*) FROM lake_v2_full").head().getLong(0) == 0)
      spark.sql(
        "INSERT INTO lake_v2_full VALUES (1, 10, 'p1', 1.0), (2, 10, 'p2', 2.0)")
      assert(spark.sql("SELECT count(*) FROM lake_v2_full").head().getLong(0) == 2)
      // INSERT is a keyed upsert: same key with greater ts replaces
      spark.sql("INSERT INTO lake_v2_full VALUES (2, 20, 'p2', 22.0)")
      val r2 = spark.sql("SELECT v FROM lake_v2_full WHERE id = 2").collect()
      assert(r2.length == 1 && r2(0).getDouble(0) == 22.0)
      // library API sees the same table
      val t = LakeTable.load(spark, p)
      assert(t.snapshot().count() == 2)
      // INSERT OVERWRITE = truncate() on the v2 write builder
      spark.sql("INSERT OVERWRITE lake_v2_full VALUES (9, 90, 'p1', 9.0)")
      val all = spark.sql("SELECT id, v FROM lake_v2_full ORDER BY id").collect()
      assert(all.length == 1 && all(0).getInt(0) == 9 && all(0).getDouble(1) == 9.0)
      assert(t.timeline.read(t.latestCommit.get).operation == "overwrite")
    } finally spark.sql("DROP TABLE lake_v2_full")
  }

  test("commit-metadata stats make small lake tables broadcast-joinable (v1 + v2)") {
    val s = spark
    import s.implicits._
    val p = tmp()
    df((1, 10L, "p1", 1.0), (2, 10L, "p2", 2.0), (3, 10L, "p2", 3.0))
      .write.format("graft-lake")
      .option("recordkey.field", "id")
      .option("precombine.field", "ts")
      .mode(SaveMode.Append).save(p)
    // a "big" fact side, deliberately NOT a lake table
    val fact = (1 to 10000).map(i => (i % 5 + 1, i.toDouble)).toDF("id", "x")
    for (fmt <- Seq("graft-lake", "graft-lake-v2")) {
      val dim = spark.read.format(fmt).load(p).select("id", "v")
      val plan = fact.join(dim, "id").queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$fmt dim should broadcast from commit-metadata stats, got:\n$plan")
    }
    // and the reported size is the real few-KB file size, not defaultSizeInBytes
    val rel = spark.read.format("graft-lake").load(p)
    val bytes = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes > 0 && bytes < 10L * 1024 * 1024, s"stats sizeInBytes=$bytes")
  }

  test("v2 delete operation") {
    val p = tmp()
    df((1, 10L, "p1", 1.0), (2, 10L, "p1", 2.0), (3, 10L, "p2", 3.0))
      .write.format("graft-lake-v2")
      .option("recordkey.field", "id")
      .option("precombine.field", "ts")
      .option("partition.fields", "part")
      .mode(SaveMode.Append).save(p)
    df((2, 0L, "p1", 0.0)).write.format("graft-lake-v2")
      .option("operation", "delete")
      .mode(SaveMode.Append).save(p)
    val back = spark.read.format("graft-lake-v2").load(p)
    assert(back.select("id").collect().map(_.getInt(0)).toSet == Set(1, 3))
  }

  test("partition schema: missing table stays residual, a broken table fails loudly") {
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("ts", LongType), StructField("part", StringType),
      StructField("v", DoubleType)))
    val byPart: Array[org.apache.spark.sql.sources.Filter] =
      Array(EqualTo("part", "p1"))
    val p = tmp()
    df((1, 10L, "p1", 1.0), (2, 10L, "p2", 2.0))
      .write.format("graft-lake-v2")
      .option("recordkey.field", "id")
      .option("precombine.field", "ts")
      .option("partition.fields", "part")
      .mode(SaveMode.Append).save(p)
    // no table yet (DDL before the first write): nothing to claim
    assert(new LakeV2ScanBuilder(schema, Map("path" -> tmp()))
      .pushFilters(byPart).toSeq == byPart.toSeq)
    // a healthy partitioned table claims the partition-exact filter
    assert(new LakeV2ScanBuilder(schema, Map("path" -> p))
      .pushFilters(byPart).isEmpty)
    // an unreadable descriptor must fail planning, not silently drop
    // partition pruning
    Files.writeString(java.nio.file.Paths.get(p, graft.lake.TableMeta.MetaFile),
      "{ not json")
    intercept[Exception](new LakeV2ScanBuilder(schema, Map("path" -> p))
      .pushFilters(byPart))
  }
}

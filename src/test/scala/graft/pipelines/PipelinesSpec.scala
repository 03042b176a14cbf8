package graft.pipelines

import graft.cdc.CanalParser
import graft.lake.LakeTable
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class PipelinesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("pipelines-test", "4")
  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("pipe").toString

  test("medallion e2e: BatchLoad → OdsToDwd → DwdToDm → TableExport") {
    val work = tmp()
    // ODS: bootstrap lineitem (Hive2Hudi analog)
    BatchLoad.run(spark, PipelineConfig(
      sourcePath = s"$sf/lineitem.parquet",
      targetTablePath = s"$work/ods",
      tableName = "lineitem_ods",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      repartitionNum = 4))
    val ods = LakeTable.load(spark, s"$work/ods")
    val odsRows = ods.snapshot().count()
    assert(odsRows > 0)

    // DWD: enrich with part dim (ODS2DWD analog)
    val dwdCfg = PipelineConfig(
      sourceTablePath = s"$work/ods",
      dimTablePath = s"$sf/part.parquet",
      targetTablePath = s"$work/dwd",
      tableName = "lineitem_dwd",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      joinLeftKey = "l_partkey", joinRightKey = "p_partkey",
      dimSelect = Seq("p_brand"),
      maxIterations = 1, pollIntervalMs = 1)
    OdsToDwd.run(spark, dwdCfg)
    val dwd = LakeTable.load(spark, s"$work/dwd")
    assert(dwd.snapshot().count() == odsRows)
    assert(dwd.snapshot().filter(col("p_brand").isNull).count() == 0)

    // DM: sum quantity by brand (DWD2DM analog) — init path
    val dmCfg = PipelineConfig(
      sourceTablePath = s"$work/dwd",
      targetTablePath = s"$work/dm",
      tableName = "qty_dm",
      recordKeyFields = Seq("p_brand"),
      aggKeys = Seq("p_brand"), aggCol = "l_quantity",
      maxIterations = 1, pollIntervalMs = 1)
    DwdToDm.run(spark, dmCfg)
    val dm = LakeTable.load(spark, s"$work/dm")
    val expectBrands = dwd.snapshotUser().select("p_brand").distinct().count()
    assert(dm.snapshot().count() == expectBrands)
    val direct = dwd.snapshotUser().groupBy("p_brand")
      .agg(sum(col("l_quantity").cast("decimal(27,2)")).as("expect"))
    val joined = dm.snapshotUser().join(direct, "p_brand")
      .filter(col("l_quantity_sum") =!= col("expect"))
    assert(joined.isEmpty)

    // incremental: new rows into ODS → DWD → DM additive merge
    val add = spark.read.parquet(s"$sf/lineitem.parquet")
      .limit(10)
      .withColumn("l_orderkey", col("l_orderkey") + 10000000L) // fresh keys
      .withColumn("created_ts", lit(System.currentTimeMillis()))
    ods.upsert(add)
    OdsToDwd.run(spark, dwdCfg)
    assert(LakeTable.load(spark, s"$work/dwd").snapshot().count() == odsRows + 10)
    DwdToDm.run(spark, dmCfg)
    val direct2 = LakeTable.load(spark, s"$work/dwd").snapshotUser()
      .groupBy("p_brand")
      .agg(sum(col("l_quantity").cast("decimal(27,2)")).as("expect"))
    val bad = LakeTable.load(spark, s"$work/dm").snapshotUser()
      .join(direct2, "p_brand")
      .filter(col("l_quantity_sum") =!= col("expect"))
    assert(bad.isEmpty) // additive merge == recomputed full agg

    // re-running DwdToDm with no new DWD commits must be a no-op (replay safe)
    DwdToDm.run(spark, dmCfg)
    val bad2 = LakeTable.load(spark, s"$work/dm").snapshotUser()
      .join(direct2, "p_brand")
      .filter(col("l_quantity_sum") =!= col("expect"))
    assert(bad2.isEmpty)

    // export (Hudi2MSK analog)
    TableExport.run(spark, PipelineConfig(
      sourceTablePath = s"$work/dm", outputDir = s"$work/export"))
    val exported = spark.read.json(s"$work/export")
    assert(exported.count() == expectBrands)
    assert(exported.columns.contains("l_quantity_sum"))
  }

  test("medallion over MOR tables: cheap-write ODS, merged reads downstream") {
    val work = tmp()
    BatchLoad.run(spark, PipelineConfig(
      sourcePath = s"$sf/lineitem.parquet",
      targetTablePath = s"$work/ods",
      tableName = "ods_mor",
      tableType = "mor",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      repartitionNum = 4))
    val ods = LakeTable.load(spark, s"$work/ods")
    val n0 = ods.snapshot().count()
    // update slice lands as a delta commit; snapshot still merged
    val upd = ods.snapshotUser().filter(col("l_orderkey") < 100)
      .withColumn("l_quantity", col("l_quantity") + 500)
      .withColumn("created_ts", col("created_ts") + 1)
    ods.upsert(upd)
    assert(ods.snapshot().count() == n0)
    assert(ods.timeline.read(ods.latestCommit.get).operation == "deltacommit")
    // DWD join reads the merged view
    OdsToDwd.run(spark, PipelineConfig(
      sourceTablePath = s"$work/ods",
      dimTablePath = s"$sf/part.parquet",
      targetTablePath = s"$work/dwd",
      tableName = "dwd_mor", tableType = "mor",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      joinLeftKey = "l_partkey", joinRightKey = "p_partkey",
      dimSelect = Seq("p_brand"),
      maxIterations = 1, pollIntervalMs = 1))
    val dwd = LakeTable.load(spark, s"$work/dwd")
    assert(dwd.snapshot().count() == n0)
    // every DWD row must carry the MERGED quantity of the ODS view — a
    // stale delta version leaking through incremental() would mismatch
    val mismatched = dwd.snapshotUser()
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .exceptAll(ods.snapshotUser()
        .select("l_orderkey", "l_linenumber", "l_quantity"))
    assert(mismatched.isEmpty)
    assert(dwd.snapshot().filter(col("l_quantity") > 500).count() > 0) // updates flowed
    // compaction keeps the downstream view identical
    val before = dwd.snapshot().count()
    dwd.compact()
    assert(dwd.snapshot().count() == before)
  }

  test("OdsToDwd streaming mode: change feed → dim join → keyed DWD sink") {
    val work = tmp()
    // ODS bootstrap through the batch loader
    BatchLoad.run(spark, PipelineConfig(
      sourcePath = s"$sf/lineitem.parquet",
      targetTablePath = s"$work/ods",
      tableName = "ods_s",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      repartitionNum = 4))
    val ods = LakeTable.load(spark, s"$work/ods")
    val odsRows = ods.snapshot().count()
    val cfg = PipelineConfig(
      sourceTablePath = s"$work/ods",
      dimTablePath = s"$sf/part.parquet",
      targetTablePath = s"$work/dwd",
      checkpointDir = s"$work/ckpt",
      tableName = "dwd_s",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      joinLeftKey = "l_partkey", joinRightKey = "p_partkey",
      dimSelect = Seq("p_brand"),
      triggerSeconds = 1)
    val q = OdsToDwd.runStreaming(spark, cfg)
    q.processAllAvailable()
    val dwd = LakeTable.load(spark, s"$work/dwd")
    assert(dwd.snapshot().count() == odsRows)
    assert(dwd.snapshot().filter(col("p_brand").isNull).count() == 0)
    // new ODS commit flows through with enrichment, converging by key
    val add = spark.read.parquet(s"$sf/lineitem.parquet").limit(5)
      .withColumn("l_orderkey", col("l_orderkey") + 20000000L)
      .withColumn("created_ts", lit(System.currentTimeMillis()))
    ods.upsert(add)
    q.processAllAvailable()
    q.stop()
    assert(LakeTable.load(spark, s"$work/dwd").snapshot().count() == odsRows + 5)
    assert(LakeTable.load(spark, s"$work/dwd").snapshot()
      .filter(col("l_orderkey") >= 20000000L)
      .filter(col("p_brand").isNull).count() == 0)
  }

  private def odsFixture(work: String): LakeTable = {
    BatchLoad.run(spark, PipelineConfig(
      sourcePath = s"$sf/lineitem.parquet",
      targetTablePath = s"$work/ods",
      tableName = "ods_w",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      repartitionNum = 4))
    LakeTable.load(spark, s"$work/ods")
  }

  private def dwdCfg(work: String, dim: String) = PipelineConfig(
    sourceTablePath = s"$work/ods",
    dimTablePath = dim,
    targetTablePath = s"$work/dwd",
    checkpointDir = s"$work/ckpt",
    tableName = "dwd_w",
    recordKeyFields = Seq("l_orderkey", "l_linenumber"),
    partitionFields = Seq("l_returnflag"),
    joinLeftKey = "l_partkey", joinRightKey = "p_partkey",
    dimSelect = Seq("p_brand"),
    triggerSeconds = 1)

  test("OdsToDwd streaming commits ods.watermark; a following poll iteration commits nothing") {
    val work = tmp()
    val ods = odsFixture(work)
    val cfg = dwdCfg(work, s"$sf/part.parquet")
    val q = OdsToDwd.runStreaming(spark, cfg)
    try q.processAllAvailable() finally q.stop()
    val dwd = LakeTable.load(spark, s"$work/dwd")
    assert(OdsToDwd.resumeWatermark(dwd) == ods.latestCommit.get)
    val commits = dwd.timeline.instants()
    OdsToDwd.iteration(spark, cfg, ods, dwd, OdsToDwd.resumeWatermark(dwd))
    assert(dwd.timeline.instants() == commits)
  }

  test("OdsToDwd streaming re-reads a lake dim: a dim upsert reaches later ODS rows") {
    val work = tmp()
    val ods = odsFixture(work)
    val part = spark.read.parquet(s"$sf/part.parquet")
      .withColumn("created_ts", lit(1L))
    val dim = LakeTable.create(spark, s"$work/dim", graft.lake.TableMeta(
      "part_dim", Seq("p_partkey"), "created_ts", Nil, "cow"))
    dim.upsert(part)
    val q = OdsToDwd.runStreaming(spark, dwdCfg(work, s"$work/dim"))
    try {
      q.processAllAvailable()
      val row = spark.read.parquet(s"$sf/lineitem.parquet").limit(1)
      val pk = row.head().getAs[Any]("l_partkey")
      dim.upsert(part.filter(col("p_partkey") === pk)
        .withColumn("p_brand", lit("Brand#new"))
        .withColumn("created_ts", lit(2L)))
      ods.upsert(row.withColumn("l_orderkey", col("l_orderkey") + 40000000L)
        .withColumn("created_ts", lit(System.currentTimeMillis())))
      q.processAllAvailable()
    } finally q.stop()
    val brands = LakeTable.load(spark, s"$work/dwd").snapshot()
      .filter(col("l_orderkey") >= 40000000L)
      .select("p_brand").collect().map(_.getString(0)).toSeq
    assert(brands == Seq("Brand#new"))
  }

  test("DwdToDm streaming mode: additive merge over the change feed") {
    val work = tmp()
    BatchLoad.run(spark, PipelineConfig(
      sourcePath = s"$sf/lineitem.parquet",
      targetTablePath = s"$work/dwd",
      tableName = "dwd_sm",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      partitionFields = Seq("l_returnflag"),
      repartitionNum = 4))
    val dwd = LakeTable.load(spark, s"$work/dwd")
    val cfg = PipelineConfig(
      sourceTablePath = s"$work/dwd",
      targetTablePath = s"$work/dm",
      checkpointDir = s"$work/ckpt",
      tableName = "dm_sm",
      recordKeyFields = Seq("l_returnflag"),
      aggKeys = Seq("l_returnflag"), aggCol = "l_quantity",
      triggerSeconds = 1)
    val q = DwdToDm.runStreaming(spark, cfg)
    q.processAllAvailable()
    def expectAgg() = dwd.snapshotUser().groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(27,2)")).as("expect"))
    def mismatches() = LakeTable.load(spark, s"$work/dm").snapshotUser()
      .join(expectAgg(), "l_returnflag")
      .filter(col("l_quantity_sum") =!= col("expect"))
    // init batch = full-history aggregation
    assert(mismatches().isEmpty)
    // fresh-key rows stream through the additive merge
    val add = spark.read.parquet(s"$sf/lineitem.parquet").limit(10)
      .withColumn("l_orderkey", col("l_orderkey") + 30000000L)
      .withColumn("created_ts", lit(System.currentTimeMillis()))
    dwd.upsert(add)
    q.processAllAvailable()
    q.stop()
    assert(mismatches().isEmpty) // additive merge == recomputed full agg
  }

  test("StreamIngest auto-maintenance: --maintain-every pays down MOR debt inline") {
    val work = tmp()
    val sample = """{"event_id":1,"value":1.5,"ts":100}"""
    Files.createDirectories(Paths.get(s"$work/inbox"))
    Files.write(Paths.get(s"$work/inbox/b1.json"),
      (1 to 10).map(i => s"""{"event_id":$i,"value":$i.5,"ts":${100 + i}}""")
        .mkString("\n").getBytes)
    val q = StreamIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      sampleJson = sample,
      targetTablePath = s"$work/am_lake",
      tableName = "am_lake",
      recordKeyFields = Seq("event_id"),
      precombineField = "ts",
      tableType = "mor",
      maintainEvery = 1))
    q.processAllAvailable()
    // a second batch updates keys → MOR delta debt, then auto-maintain
    Files.write(Paths.get(s"$work/inbox/b2.json"),
      (1 to 5).map(i => s"""{"event_id":$i,"value":99.0,"ts":${200 + i}}""")
        .mkString("\n").getBytes)
    q.processAllAvailable()
    q.stop()
    val t = LakeTable.load(spark, s"$work/am_lake")
    // maintenance ran inside the ingest loop: no outstanding deltas
    assert(!t.timeline.liveFiles().exists(_.isDelta))
    assert(t.snapshot().count() == 10)
    assert(t.snapshot().filter(col("event_id") === 3).select("value")
      .head().getDouble(0) == 99.0)
    assert(t.history().exists(_.operation == "compact"))
  }

  test("StreamIngest insert: a batch re-run after a lost checkpoint commit is not appended twice") {
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    Files.write(Paths.get(s"$work/inbox/b1.json"),
      (1 to 10).map(i => s"""{"event_id":$i,"value":$i.5,"ts":${100 + i}}""")
        .mkString("\n").getBytes)
    def start() = StreamIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      sampleJson = """{"event_id":1,"value":1.5,"ts":100}""",
      targetTablePath = s"$work/ins_lake",
      tableName = "ins_lake",
      recordKeyFields = Seq("event_id"),
      precombineField = "ts",
      writeOperation = "insert"))
    val q = start()
    try q.processAllAvailable() finally q.stop()
    def rows() = LakeTable.load(spark, s"$work/ins_lake").snapshot().count()
    assert(rows() == 10)
    val replayed = graft.streaming.StreamReplay.loseLastCommit(s"$work/ckpt")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.recentProgress.exists(_.batchId == replayed))
    assert(rows() == 10)
  }

  test("StreamIngest: inbox JSON lines → lake table with logday/hm") {
    val work = tmp()
    val sample = """{"event_id":1,"user_id":2,"event_type":"login","value":1.5,"ts":100}"""
    Files.createDirectories(Paths.get(s"$work/inbox"))
    val lines = (1 to 20).map(i =>
      s"""{"event_id":$i,"user_id":${i % 3},"event_type":"e${i % 2}","value":$i.5,"ts":${1000 + i}}""")
    Files.write(Paths.get(s"$work/inbox/batch1.json"),
      lines.mkString("\n").getBytes)

    val q = StreamIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      sampleJson = sample,
      targetTablePath = s"$work/events_lake",
      tableName = "events_lake",
      recordKeyFields = Seq("event_id"),
      precombineField = "ts",
      partitionFields = Seq("logday", "hm"),
      offsetCommitDir = s"$work/offsets"))
    q.processAllAvailable()
    // late/duplicate replay: same records again + one update converge by key
    Files.write(Paths.get(s"$work/inbox/batch2.json"),
      (lines :+ s"""{"event_id":1,"user_id":9,"event_type":"upd","value":9.9,"ts":9999}""")
        .mkString("\n").getBytes)
    q.processAllAvailable()
    q.stop()

    // T5 stand-in: each batch committed its source end offsets to the
    // consumer-visible sidecar; the last commit reflects the final batch
    // (listener events are async — allow them to drain)
    val committed = Iterator.continually {
      Thread.sleep(200)
      graft.streaming.OffsetCommitListener.read(
        spark, s"$work/offsets", "ingest-events_lake")
    }.take(50).collectFirst {
      case Some(c) if c.batchId >= 1 => c
    }
    assert(committed.isDefined, "offset commit sidecar never reached batch 1")
    assert(committed.get.query == "ingest-events_lake")
    assert(committed.get.sources.nonEmpty &&
      committed.get.sources.head.endOffset.nonEmpty)

    val t = LakeTable.load(spark, s"$work/events_lake")
    assert(t.snapshot().count() == 20) // keyed convergence, no duplicates
    val r1 = t.snapshot().filter(col("event_id") === 1).head()
    assert(r1.getAs[String]("event_type") == "upd") // precombine ts=9999 won
    assert(t.snapshot().filter(col("logday").isNull).count() == 0)

    // T4: the progress listener observed the batches (delivery is async on
    // the listener bus — poll briefly)
    val pl = graft.streaming.ProgressListener.attach(spark, "ingest-events_lake")
    val deadline = System.currentTimeMillis() + 10000
    while (pl.batches.count(_.numInputRows > 0) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    val seen = pl.batches.filter(_.numInputRows > 0)
    assert(seen.size >= 2, s"expected >=2 non-empty batch progress events, got $seen")
    assert(seen.forall(_.name == "ingest-events_lake"))
    assert(seen.map(_.numInputRows).sum >= 41) // 20 + 21 input lines
  }

  test("CanalParser: DML parses, heartbeat/DDL → None") {
    val ins = """{"data":[{"id":"1","name":"alice","ts":"100"}],"database":"db1",
      |"es":1,"id":1,"isDdl":false,"pkNames":["id"],"table":"users","ts":100,
      |"type":"INSERT"}""".stripMargin.replace("\n", "")
    val hb = """{"data":null,"database":"","es":2,"id":2,"isDdl":false,
      |"table":"","ts":2,"type":"MHEARTBEAT"}""".stripMargin.replace("\n", "")
    val ddl = """{"data":null,"database":"db1","es":3,"id":3,"isDdl":true,
      |"sql":"alter table users add c int","table":"users","ts":3,"type":"ALTER"}"""
      .stripMargin.replace("\n", "")
    val r = CanalParser.parse(ins)
    assert(r.exists(_.op == "insert") && r.get.table == "users"
      && r.get.rows.nonEmpty)
    assert(CanalParser.parse(hb).isEmpty)
    assert(CanalParser.parse(ddl).isEmpty)
    assert(CanalParser.parse("not json").isEmpty)
  }

  test("CdcIngest dms envelope: {data, metadata} routed by operation") {
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    def dms(op: String, id: Int, name: String, ts: Long) =
      s"""{"data":{"id":$id,"name":"$name","ts":$ts},"metadata":{"operation":"$op","record-type":"data","table-name":"users","timestamp":"t"}}"""
    val events = Seq(
      dms("load", 1, "alice", 100),
      dms("insert", 2, "bob", 100),
      dms("update", 1, "alice2", 200),
      dms("delete", 2, "bob", 300))
    Files.write(Paths.get(s"$work/inbox/dms1.json"), events.mkString("\n").getBytes)

    val q = CdcIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      sampleJson = """{"id":1,"name":"x","ts":100}""",
      targetTablePath = s"$work/users_dms",
      tableName = "users_dms",
      recordKeyFields = Seq("id"),
      precombineField = "ts",
      cdcFormat = "dms"))
    q.processAllAvailable()
    q.stop()

    val t = LakeTable.load(spark, s"$work/users_dms")
    val rows = t.snapshot().orderBy("id").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("id") == 1L)
    assert(rows(0).getAs[String]("name") == "alice2")
  }

  test("CdcIngest dms: delete then re-insert of a key in ONE batch survives") {
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    def dms(op: String, id: Int, name: String, ts: Long, cts: String) =
      s"""{"data":{"id":$id,"name":"$name","ts":$ts},"metadata":{"operation":"$op","record-type":"data","table-name":"users","timestamp":"$cts"}}"""
    val events = Seq(
      dms("insert", 1, "alice", 100, "2026-01-01T00:00:01"),
      dms("delete", 1, "alice", 100, "2026-01-01T00:00:02"),
      dms("insert", 1, "alice-reborn", 300, "2026-01-01T00:00:03"),
      dms("insert", 2, "bob", 100, "2026-01-01T00:00:04"),
      dms("delete", 2, "bob", 100, "2026-01-01T00:00:05"))
    Files.write(Paths.get(s"$work/inbox/dms1.json"), events.mkString("\n").getBytes)

    val q = CdcIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      sampleJson = """{"id":1,"name":"x","ts":100}""",
      targetTablePath = s"$work/users_reborn",
      tableName = "users_reborn",
      recordKeyFields = Seq("id"),
      precombineField = "ts",
      cdcFormat = "dms"))
    q.processAllAvailable()
    q.stop()

    // id=1: delete → re-insert ⇒ lives with the re-inserted payload;
    // id=2: insert → delete ⇒ gone.
    val t = LakeTable.load(spark, s"$work/users_reborn")
    val rows = t.snapshot().collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("id") == 1L)
    assert(rows(0).getAs[String]("name") == "alice-reborn")
  }

  def mkCdcTable(path: String, tableType: String = "cow"): LakeTable = {
    val s = spark
    import s.implicits._
    val t = LakeTable.create(spark, path,
      graft.lake.TableMeta("users", Seq("id"), "ts", tableType = tableType))
    t.insert(spark.read.json(Seq("""{"id":1,"name":"x","ts":100}""").toDS())
      .limit(0))
    t
  }

  test("canal same-timestamp ops resolve by binlog event id, not partition layout") {
    // INSERT (binlog id=1) then DELETE (binlog id=2), SAME binlog ts: the
    // delete is the later binlog event and must win under EVERY partition
    // placement of the two envelopes — ordering is data-derived, not
    // monotonically_increasing_id.
    def canal(typ: String, binlogId: Long, rows: String) =
      s"""{"data":[$rows],"database":"db1","es":1,"id":$binlogId,"isDdl":false,"pkNames":["id"],"table":"users","ts":100,"type":"$typ"}"""
    val ins = canal("INSERT", 1, """{"id":"1","name":"alice","ts":"100"}""")
    val del = canal("DELETE", 2, """{"id":"1","name":"alice","ts":"100"}""")
    val s = spark
    import s.implicits._
    for (order <- Seq(Seq(ins, del), Seq(del, ins))) {
      val t = mkCdcTable(tmp() + "/t")
      // two envelopes forced into two different source partitions
      val batch = spark.sparkContext.parallelize(order, 2).toDF("value")
      CdcIngest.applyBatch(spark, batch, PipelineConfig(), t)
      assert(t.snapshot().count() == 0,
        s"same-ts insert+delete must resolve to the later binlog event (order=$order)")
    }
    // and the mirror case: DELETE(id=1) then INSERT(id=2) → key survives
    val del1 = canal("DELETE", 1, """{"id":"1","name":"alice","ts":"100"}""")
    val ins2 = canal("INSERT", 2, """{"id":"1","name":"reborn","ts":"100"}""")
    for (order <- Seq(Seq(del1, ins2), Seq(ins2, del1))) {
      val t = mkCdcTable(tmp() + "/t")
      val batch = spark.sparkContext.parallelize(order, 2).toDF("value")
      CdcIngest.applyBatch(spark, batch, PipelineConfig(), t)
      val rows = t.snapshot().collect()
      assert(rows.length == 1 && rows(0).getAs[String]("name") == "reborn")
    }
  }

  test("canal and dms: degenerate events of one file resolve by line, across file splits") {
    // every event of the inbox file shares the binlog ts AND event id
    // (Canal) or the commit timestamp (DMS), so only the line orders them:
    // per key the LAST line wins. Each key's events are spread over the
    // file (round by round) — a delete in round 2, a re-insert after —
    // and the file is cut into several splits, so the answer must not
    // depend on how Spark split or spread the file.
    def canal(typ: String, id: Int, name: String) =
      s"""{"data":[{"id":"$id","name":"$name","ts":"100"}],"database":"db1","es":1,"id":7,"isDdl":false,"pkNames":["id"],"table":"users","ts":100,"type":"$typ"}"""
    def dms(op: String, id: Int, name: String) =
      s"""{"data":{"id":$id,"name":"$name","ts":100},"metadata":{"operation":"$op","record-type":"data","table-name":"users","timestamp":"2026-01-01T00:00:01"}}"""
    val keys = 1 to 12
    // round 0 inserts, round 2 deletes, rounds 1/3 update, round 4
    // updates — or deletes, for every third key
    def lines(up: (Int, Int, String) => String, del: (Int, String) => String) =
      for (round <- 0 to 4; k <- keys) yield
        if (round == 2 || (round == 4 && k % 3 == 0)) del(k, s"v$round")
        else up(round, k, s"v$round")
    val expected = keys.filter(_ % 3 != 0).map(k => k.toLong -> "v4").toMap
    val formats = Seq(
      "canal" -> lines((r, k, v) => canal(if (r == 0) "INSERT" else "UPDATE", k, v),
        (k, v) => canal("DELETE", k, v)),
      "dms" -> lines((r, k, v) => dms(if (r == 0) "insert" else "update", k, v),
        (k, v) => dms("delete", k, v)))
    val was = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try formats.foreach { case (format, events) =>
      val work = tmp()
      Files.createDirectories(Paths.get(s"$work/in"))
      Files.write(Paths.get(s"$work/in/batch.json"),
        events.mkString("", "\n", "\n").getBytes)
      val batch = spark.read.text(s"$work/in")
      assert(batch.rdd.getNumPartitions > 2, s"$format: file not split")
      val t = mkCdcTable(s"$work/t")
      if (format == "dms") CdcIngest.applyDmsBatch(spark, batch, t)
      else CdcIngest.applyBatch(spark, batch, PipelineConfig(), t)
      val got = t.snapshot().select("id", "name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, format)
    } finally was match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None    => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("CdcIngest: one Canal batch and one DMS batch each add ONE commit") {
    // updates, deletes and inserts of one micro-batch land as a single
    // upsert commit (deletes as `_deleted` rows); the change feed over
    // that commit still shows both the updates and the deletes
    val s = spark
    import s.implicits._
    def canal(typ: String, id: Long, rows: String) =
      s"""{"data":[$rows],"database":"db1","es":$id,"id":$id,"isDdl":false,"pkNames":["id"],"table":"users","ts":$id,"type":"$typ"}"""
    def user(id: Int, name: String, ts: Int) =
      s"""{"id":"$id","name":"$name","ts":"$ts"}"""
    def dms(op: String, id: Int, name: String, ts: Int) =
      s"""{"data":{"id":$id,"name":"$name","ts":$ts},"metadata":{"operation":"$op","record-type":"data","table-name":"users","timestamp":"2026-01-01T00:00:0$ts"}}"""
    def kinds(t: LakeTable, since: String): Set[(Long, String)] =
      t.changes(since).select("id", LakeTable.ChangeTypeCol).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = Set((1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "delete"), (4L, "insert"))
    for (tableType <- Seq("cow", "mor")) {
      val t = mkCdcTable(tmp() + "/t", tableType)
      CdcIngest.applyBatch(spark, Seq(canal("INSERT", 1,
        Seq(user(1, "a", 1), user(2, "b", 1), user(3, "c", 1)).mkString(",")))
        .toDF("value"), PipelineConfig(), t)
      val seeded = t.latestCommit.get
      CdcIngest.applyBatch(spark, Seq(
        canal("UPDATE", 2, user(1, "a2", 2)),
        canal("DELETE", 3, user(2, "b", 1)),
        canal("INSERT", 4, user(4, "d", 2))).toDF("value"),
        PipelineConfig(), t)
      assert(t.timeline.instants().dropWhile(_ <= seeded).size == 1,
        s"$tableType: one commit per Canal batch")
      assert(kinds(t, seeded) == expected, tableType)
      assert(t.snapshot().select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 3L, 4L), tableType)
      // MOR: the delete is a tombstone in a file of its own, even on this
      // unpartitioned table where it shares a directory with the changes
      assert(t.timeline.liveFiles().filter(_.tombstones > 0)
        .forall(f => f.tombstones == f.numRecords), s"$tableType: tombstones")
      // a batch that resolves to no ops adds no commit
      val last = t.latestCommit.get
      CdcIngest.applyBatch(spark, Seq(canal("MHEARTBEAT", 5, user(9, "x", 5)))
        .toDF("value"), PipelineConfig(), t)
      assert(t.latestCommit.contains(last), s"$tableType: empty batch")
    }
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/seed"))
    Files.createDirectories(Paths.get(s"$work/in"))
    Files.write(Paths.get(s"$work/seed/f.json"), Seq(dms("insert", 1, "a", 1),
      dms("insert", 2, "b", 1), dms("insert", 3, "c", 1)).mkString("\n").getBytes)
    Files.write(Paths.get(s"$work/in/f.json"), Seq(dms("update", 1, "a2", 2),
      dms("delete", 2, "b", 3), dms("insert", 4, "d", 4)).mkString("\n").getBytes)
    val t = mkCdcTable(s"$work/t")
    CdcIngest.applyDmsBatch(spark, spark.read.text(s"$work/seed"), t)
    val seeded = t.latestCommit.get
    CdcIngest.applyDmsBatch(spark, spark.read.text(s"$work/in"), t)
    assert(t.timeline.instants().dropWhile(_ <= seeded).size == 1,
      "one commit per DMS batch")
    assert(kinds(t, seeded) == expected)
  }

  test("canal multi-row envelope: later row index wins for the same key") {
    // one UPDATE envelope carrying two versions of key 1 — the later row
    // in the envelope is the later binlog change
    val env =
      """{"data":[{"id":"1","name":"v1","ts":"100"},{"id":"1","name":"v2","ts":"100"}],"database":"db1","es":1,"id":7,"isDdl":false,"pkNames":["id"],"table":"users","ts":100,"type":"UPDATE"}"""
    val s = spark
    import s.implicits._
    val t = mkCdcTable(tmp() + "/t")
    CdcIngest.applyBatch(spark, Seq(env).toDF("value"), PipelineConfig(), t)
    val rows = t.snapshot().collect()
    assert(rows.length == 1 && rows(0).getAs[String]("name") == "v2")
  }

  test("dms same-timestamp ops resolve by source file position, deterministically") {
    def dms(op: String, name: String) =
      s"""{"data":{"id":1,"name":"$name","ts":100},"metadata":{"operation":"$op","record-type":"data","table-name":"users","timestamp":"2026-01-01T00:00:01"}}"""
    // delete in the EARLIER file, insert in the LATER file → key survives
    val work1 = tmp()
    Files.createDirectories(Paths.get(s"$work1/in"))
    Files.write(Paths.get(s"$work1/in/f1.json"), dms("delete", "a").getBytes)
    Files.write(Paths.get(s"$work1/in/f2.json"), dms("insert", "late").getBytes)
    val t1 = mkCdcTable(s"$work1/t")
    CdcIngest.applyDmsBatch(spark, spark.read.text(s"$work1/in"), t1)
    val rows = t1.snapshot().collect()
    assert(rows.length == 1 && rows(0).getAs[String]("name") == "late")
    // insert in the earlier file, delete in the later file → key gone
    val work2 = tmp()
    Files.createDirectories(Paths.get(s"$work2/in"))
    Files.write(Paths.get(s"$work2/in/f1.json"), dms("insert", "a").getBytes)
    Files.write(Paths.get(s"$work2/in/f2.json"), dms("delete", "a").getBytes)
    val t2 = mkCdcTable(s"$work2/t")
    CdcIngest.applyDmsBatch(spark, spark.read.text(s"$work2/in"), t2)
    assert(t2.snapshot().count() == 0)
  }

  test("CdcIngest multi-table: one inbox fans out to N lake tables") {
    // reference package.scala:145-183 (writeMultiTable2HudiFromDF): one
    // binlog topic carries a whole database; each batch routes per table
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    val s = spark
    import s.implicits._
    def canal(table: String, typ: String, id: Long, rows: String) =
      s"""{"data":[$rows],"database":"db1","es":$id,"id":$id,"isDdl":false,"pkNames":["id"],"table":"$table","ts":$id,"type":"$typ"}"""
    // interleaved events for two tables with DIFFERENT schemas and keys
    val events = Seq(
      canal("users", "INSERT", 1, """{"id":"1","name":"alice","ts":"100"}"""),
      canal("orders", "INSERT", 2, """{"oid":"10","amount":"5.5","ts":"100"}"""),
      canal("users", "INSERT", 3, """{"id":"2","name":"bob","ts":"100"}"""),
      canal("orders", "UPDATE", 4, """{"oid":"10","amount":"9.9","ts":"200"}"""),
      canal("users", "DELETE", 5, """{"id":"2","name":"bob","ts":"100"}"""),
      canal("orders", "INSERT", 6, """{"oid":"11","amount":"1.0","ts":"100"}"""))
    Files.write(Paths.get(s"$work/inbox/cdc1.json"),
      events.mkString("\n").getBytes)
    // targets pre-created with their own schema + keys (the reference
    // reads each target Hudi table's schema before writing)
    val users = LakeTable.create(spark, s"$work/base/db1/users",
      graft.lake.TableMeta("users", Seq("id"), "ts"))
    users.insert(spark.read.json(
      Seq("""{"id":1,"name":"x","ts":100}""").toDS()).limit(0))
    val orders = LakeTable.create(spark, s"$work/base/db1/orders",
      graft.lake.TableMeta("orders", Seq("oid"), "ts"))
    orders.insert(spark.read.json(
      Seq("""{"oid":1,"amount":0.5,"ts":100}""").toDS()).limit(0))

    val q = CdcIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      basePath = s"$work/base",
      database = "db1",
      cdcMultiTable = true))
    q.processAllAvailable()

    val u = users.snapshot().orderBy("id").collect()
    assert(u.length == 1 && u(0).getAs[Long]("id") == 1L &&
      u(0).getAs[String]("name") == "alice") // id=2 deleted
    val o = orders.snapshot().orderBy("oid").collect()
    assert(o.map(r => (r.getAs[Long]("oid"), r.getAs[Double]("amount")))
      .toSeq == Seq((10L, 9.9), (11L, 1.0))) // update applied

    // a LATER batch bringing a brand-new key set still routes correctly
    Files.write(Paths.get(s"$work/inbox/cdc2.json"), Seq(
      canal("users", "INSERT", 7, """{"id":"3","name":"carol","ts":"300"}"""),
      canal("orders", "DELETE", 8, """{"oid":"11","amount":"1.0","ts":"100"}"""))
      .mkString("\n").getBytes)
    q.processAllAvailable()
    q.stop()
    assert(users.snapshot().count() == 2)
    assert(orders.snapshot().collect().map(_.getAs[Long]("oid")).toSeq ==
      Seq(10L))
  }

  test("CdcIngest: canal stream → insert/update/delete applied in order") {
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    def canal(typ: String, rows: String) =
      s"""{"data":[$rows],"database":"db1","es":1,"id":1,"isDdl":false,"pkNames":["id"],"table":"users","ts":1,"type":"$typ"}"""
    val events = Seq(
      canal("INSERT", """{"id":"1","name":"alice","ts":"100"}"""),
      canal("INSERT", """{"id":"2","name":"bob","ts":"100"}"""),
      canal("UPDATE", """{"id":"1","name":"alice2","ts":"200"}"""),
      canal("DELETE", """{"id":"2","name":"bob","ts":"300"}"""),
      canal("MHEARTBEAT", """{"id":"9"}"""))
    Files.write(Paths.get(s"$work/inbox/cdc1.json"),
      events.mkString("\n").getBytes)

    val q = CdcIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      sampleJson = """{"id":1,"name":"x","ts":100}""",
      targetTablePath = s"$work/users_lake",
      tableName = "users_lake",
      recordKeyFields = Seq("id"),
      precombineField = "ts",
      cdcTableFilter = "users"))
    q.processAllAvailable()
    q.stop()

    val t = LakeTable.load(spark, s"$work/users_lake")
    val rows = t.snapshot().orderBy("id").collect()
    assert(rows.length == 1) // id=2 deleted
    assert(rows(0).getAs[Long]("id") == 1L)
    assert(rows(0).getAs[String]("name") == "alice2") // update applied
  }

  test("CdcIngest canal: delete then re-insert in ONE batch survives") {
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    def canal(typ: String, ts: Long, rows: String) =
      s"""{"data":[$rows],"database":"db1","es":$ts,"id":1,"isDdl":false,"pkNames":["id"],"table":"users","ts":$ts,"type":"$typ"}"""
    val events = Seq(
      canal("INSERT", 1, """{"id":"1","name":"alice","ts":"100"}"""),
      canal("DELETE", 2, """{"id":"1","name":"alice","ts":"100"}"""),
      canal("INSERT", 3, """{"id":"1","name":"alice-reborn","ts":"300"}"""),
      canal("INSERT", 4, """{"id":"2","name":"bob","ts":"100"}"""),
      canal("DELETE", 5, """{"id":"2","name":"bob","ts":"100"}"""))
    Files.write(Paths.get(s"$work/inbox/cdc1.json"), events.mkString("\n").getBytes)

    val q = CdcIngest.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      sampleJson = """{"id":1,"name":"x","ts":100}""",
      targetTablePath = s"$work/users_rr",
      tableName = "users_rr",
      recordKeyFields = Seq("id"),
      precombineField = "ts",
      cdcTableFilter = "users"))
    q.processAllAvailable()
    q.stop()

    val t = LakeTable.load(spark, s"$work/users_rr")
    val rows = t.snapshot().collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("id") == 1L)
    assert(rows(0).getAs[String]("name") == "alice-reborn")
  }

  test("StreamStats: merged partial sketches equal one-shot; compaction + replay safe") {
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"))
    val maxId = events.agg(max(col("event_id"))).head().getLong(0)
    val split = (maxId + 1L) / 2L
    def jsonLines(cond: org.apache.spark.sql.Column) =
      events.filter(cond)
        .select(to_json(struct(col("event_id"), col("user_id"), col("value"))))
        .collect().map(_.getString(0))
    Files.write(Paths.get(s"$work/inbox/wave1.json"),
      jsonLines(col("event_id") < split).mkString("\n").getBytes)
    val q = StreamStats.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      targetTablePath = s"$work/state"))
    q.processAllAvailable()
    Files.write(Paths.get(s"$work/inbox/wave2.json"),
      jsonLines(col("event_id") >= split).mkString("\n").getBytes)
    q.processAllAvailable()
    q.stop()

    // the streamed state's merged estimate must BIT-EQUAL the one-shot
    // sketch over the full table (mergeability, operationalized)
    val (hllAll, hdrAll) = StreamStats.partialSketches(events)
    val expected = graft.queries.Sketches.hdrQuantiles(hdrAll)
      .select(col("n_rows"), col("p50_cents"), col("p90_cents"),
        col("p99_cents"))
      .crossJoin(graft.queries.Sketches.hllEstimate(spark, hllAll)
        .select(col("est_distinct").as("est_users")))
      .head()
    val streamed = StreamStats.currentStats(spark, s"$work/state").head()
    assert(streamed == expected)
    assert(streamed.getLong(0) == events.count())

    // replaying a published batch is a no-op, even with different input
    val published = new java.io.File(s"$work/state/hll").listFiles()
      .filter(_.getName.startsWith("b")).map(_.getName.drop(1).toLong)
    assert(published.length >= 2) // the two waves landed as two batches
    StreamStats.processBatch(spark, events.limit(10), s"$work/state",
      published.head)
    assert(StreamStats.currentStats(spark, s"$work/state").head() == expected)

    // crash window: a compact generation WRITTEN but not manifest-
    // committed is an orphan — readers must keep counting the live batch
    // dirs and ignore it (else every event counts twice)
    spark.read.parquet(s"$work/state/hll/b${published.head}")
      .write.mode("overwrite")
      .parquet(s"$work/state/hll/c${published.max}")
    assert(StreamStats.currentStats(spark, s"$work/state").head() == expected)
    // the real compaction then supersedes the orphan

    // compaction folds the partials without changing the merged answer…
    StreamStats.compact(spark, s"$work/state")
    assert(StreamStats.currentStats(spark, s"$work/state").head() == expected)
    val remaining = new java.io.File(s"$work/state/hll").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(remaining.forall(_.startsWith("c")), remaining.mkString(","))
    // …and a replay of an ABSORBED batch (dir deleted) still skips via
    // the manifest instead of double-counting
    StreamStats.processBatch(spark, events.limit(10), s"$work/state",
      published.min)
    assert(StreamStats.currentStats(spark, s"$work/state").head() == expected)
    // new batches after compaction keep accumulating
    StreamStats.processBatch(spark, events.limit(0), s"$work/state",
      published.max + 1)
    assert(StreamStats.currentStats(spark, s"$work/state").head() == expected)
  }

  test("StreamDedup: micro-batches dedup against the corpus; replay idempotent") {
    val work = tmp()
    Files.createDirectories(Paths.get(s"$work/inbox"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val split = (maxId + 1L) * 6L / 10L
    def jsonLines(cond: org.apache.spark.sql.Column) =
      docs.filter(cond)
        .select(to_json(struct(col("doc_id"), col("text"))))
        .collect().map(_.getString(0))
    Files.write(Paths.get(s"$work/inbox/wave1.json"),
      jsonLines(col("doc_id") < split).mkString("\n").getBytes)
    val q = StreamDedup.run(spark, PipelineConfig(
      inboxDir = s"$work/inbox",
      checkpointDir = s"$work/ckpt",
      triggerSeconds = 1,
      targetTablePath = s"$work/state"))
    q.processAllAvailable()
    Files.write(Paths.get(s"$work/inbox/wave2.json"),
      jsonLines(col("doc_id") >= split).mkString("\n").getBytes)
    q.processAllAvailable()
    q.stop()

    // expected survivors: simulate the documented drop policy over the
    // EXACT pair list (minhash band recall is 1.0 on this corpus —
    // asserted by ExtensionSpec — so band candidates + exact verify
    // equals the exact pair relation)
    val pairs = graft.queries.Dedup.jaccardPairs(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def paired(a: Long, b: Long) =
      pairs((math.min(a, b), math.max(a, b)))
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val waves = Seq(allIds.filter(_ < split), allIds.filter(_ >= split))
    var corpus = Set.empty[Long]
    waves.foreach { wave =>
      val drop = wave.filter(b => corpus.exists(a => paired(a, b)) ||
        wave.exists(a => a < b && paired(a, b)))
      corpus = corpus ++ wave.toSet -- drop
    }
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$work/state/corpus")
    val acceptedIds = accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acceptedIds == corpus,
      s"missing=${corpus -- acceptedIds} extra=${acceptedIds -- corpus}")
    // the persisted band index covers exactly the shingled survivors
    val bandIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$work/state/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val shingledSurvivors = graft.queries.Dedup.shingleDocs(accepted)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bandIds == shingledSurvivors)
    // replaying a published batch is a no-op, even with different input
    val published = new java.io.File(s"$work/state/corpus").listFiles()
      .filter(_.getName.startsWith("b")).map(_.getName.drop(1).toLong)
    assert(published.nonEmpty)
    StreamDedup.processBatch(spark, docs.limit(50), s"$work/state",
      published.head)
    val after = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$work/state/corpus").count()
    assert(after == acceptedIds.size, "replay must not mutate state")
  }

  test("LakeCli drives the maintenance services: secidx, scd2, distinct, rollup, branch") {
    import spark.implicits._
    val work = tmp()
    val t = LakeTable.create(spark, s"$work/t",
      graft.lake.TableMeta("cli_t", Seq("id"), "ts", Seq.empty, "cow",
        keyEncoding = "padded"))
    t.upsert(Seq((1L, "x", 10L, 1L), (2L, "x", 20L, 1L), (3L, "y", 30L, 1L))
      .toDF("id", "g", "v", "ts"), combine = false)
    t.upsert(Seq((2L, "x", 25L, 2L)).toDF("id", "g", "v", "ts"),
      combine = false)
    def cli(args: String*): Unit =
      graft.tools.LakeCli.run(spark, args.toArray)

    cli("secidx-build", t.path, "g")
    assert(t.secondaryIndexAsOf("g").isDefined)
    t.upsert(Seq((4L, "z", 40L, 2L)).toDF("id", "g", "v", "ts"),
      combine = false)
    cli("secidx-refresh", t.path, "g")
    assert(t.secondaryIndexAsOf("g").contains(t.latestCommit.get))

    cli("scd2-advance", t.path, s"$work/scd2", "id")
    val (dim, _) = Scd2.current(spark, s"$work/scd2").get
    assert(dim.filter(col("id") === 2L).count() == 2) // two versions

    cli("distinct-advance", t.path, s"$work/dst", "g", "v")
    val (aux, _) = DistinctMaintain.current(spark, s"$work/dst").get
    assert(DistinctMaintain.view(aux, Seq("g"))
      .filter(col("g") === "x").select("n_distinct")
      .collect().head.getLong(0) == 2L)

    cli("rollup-advance", t.path, s"$work/rol", "g", "v")
    assert(RollupMaintain.current(spark, s"$work/rol").isDefined)

    cli("branch", t.path, s"$work/br", "cli_branch")
    val br = LakeTable.load(spark, s"$work/br")
    assert(br.snapshot().count() == t.snapshot().count())

    cli("key-history", t.path, "id=2") // smoke: parses, plans, prints
    assert(t.keyHistory(Seq(2L).toDF("id")).count() == 2) // v1 + v2

    val rows = t.snapshot().count()
    cli("hilbert", t.path, "id,v") // layout-only rewrite
    assert(t.snapshot().count() == rows)
  }

  // ------------------------------------------- streaming multi-mart hop

  /** Small DWD seed for the multi-mart tests: ~300 lineitem rows. */
  private def seedDwd(work: String): LakeTable = {
    spark.read.parquet(s"$sf/lineitem.parquet")
      .dropDuplicates("l_orderkey", "l_linenumber").limit(300)
      .coalesce(1).write.parquet(s"$work/src.parquet")
    BatchLoad.run(spark, PipelineConfig(
      sourcePath = s"$work/src.parquet",
      targetTablePath = s"$work/dwd",
      tableName = "dwd_mm",
      recordKeyFields = Seq("l_orderkey", "l_linenumber"),
      repartitionNum = 2))
    LakeTable.load(spark, s"$work/dwd")
  }

  private def martCfg(work: String, dwd: String, name: String,
      key: String): PipelineConfig = PipelineConfig(
    sourceTablePath = dwd, targetTablePath = s"$work/$name",
    tableName = name, recordKeyFields = Seq(key), aggKeys = Seq(key),
    aggCol = "l_quantity", checkpointDir = s"$work/ckpt",
    triggerSeconds = 1, maintainEvery = 2)

  private def martMismatches(dwd: LakeTable, martPath: String,
      key: String) = {
    val expect = dwd.snapshotUser().groupBy(key)
      .agg(sum(col("l_quantity").cast("decimal(27,2)")).as("expect"))
    LakeTable.load(spark, martPath).snapshotUser()
      .join(expect, key)
      .filter(col("l_quantity_sum") =!= col("expect"))
  }

  test("multi-mart streaming hop: one micro-batch fans into both marts atomically") {
    val work = tmp()
    val dwd = seedDwd(work)
    val marts = Seq(
      martCfg(work, dwd.path, "mart_rf", "l_returnflag"),
      martCfg(work, dwd.path, "mart_ls", "l_linestatus"))
    val q = MultiMartHop.runStreaming(spark, marts)
    try {
      q.processAllAvailable()
      assert(martMismatches(dwd, s"$work/mart_rf", "l_returnflag").isEmpty)
      assert(martMismatches(dwd, s"$work/mart_ls", "l_linestatus").isEmpty)
      // the shared watermark advanced on BOTH marts to the same instant
      def wm(p: String) =
        DwdToDm.resumeWatermark(LakeTable.load(spark, p))
      val (w1, w2) = (wm(s"$work/mart_rf"), wm(s"$work/mart_ls"))
      assert(w1.isDefined && w1 == w2, s"$w1 vs $w2")
      // a second source commit streams through both marts atomically
      val add = spark.read.parquet(s"$work/src.parquet").limit(10)
        .withColumn("l_orderkey", col("l_orderkey") + 30000000L)
        .withColumn("created_ts", lit(System.currentTimeMillis()))
      dwd.upsert(add)
      q.processAllAvailable()
      assert(martMismatches(dwd, s"$work/mart_rf", "l_returnflag").isEmpty)
      assert(martMismatches(dwd, s"$work/mart_ls", "l_linestatus").isEmpty)
      val (w1b, w2b) = (wm(s"$work/mart_rf"), wm(s"$work/mart_ls"))
      assert(w1b == w2b && w1b != w1, s"watermark must advance: $w1b")
    } finally q.stop()
  }

  test("LakeCli multimart drives two marts through the CLI surface") {
    val work = tmp()
    val dwd = seedDwd(work)
    graft.tools.LakeCli.run(spark, Array("multimart", dwd.path, work,
      s"$work/ckpt_cli",
      "mart_rf:l_returnflag:l_quantity,mart_ls:l_linestatus:l_quantity",
      "once"))
    assert(martMismatches(dwd, s"$work/mart_rf", "l_returnflag").isEmpty)
    assert(martMismatches(dwd, s"$work/mart_ls", "l_linestatus").isEmpty)
    // both marts advanced to the same watermark (one txn per batch)
    def wm(p: String) = DwdToDm.resumeWatermark(LakeTable.load(spark, p))
    assert(wm(s"$work/mart_rf").isDefined &&
      wm(s"$work/mart_rf") == wm(s"$work/mart_ls"))
  }

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def ageReservations(tableDir: String): Unit = {
    // age the dead writer's reservations AND any writer lock a
    // mid-publish parallel prepare was holding at the halt, so recovery
    // breaks them instead of waiting out the staleness TTLs
    val lock = Paths.get(tableDir, "_lake", "lock")
    if (Files.exists(lock))
      Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - 11 * 60 * 1000L))
    val inflight = Paths.get(tableDir, "_lake", "timeline", "inflight")
    if (!Files.exists(inflight)) return
    val s = Files.list(inflight)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - 31 * 60 * 1000L))
      }
    } finally s.close()
  }

  test("multi-mart hop crash between prepares: replay converges, no double count") {
    val work = tmp()
    val dwd = seedDwd(work)
    val dirs = Seq(s"$work/mart_rf", s"$work/mart_ls")
    // probe JVM halts INSIDE the first micro-batch's 2PC, after one
    // mart's prepare published and before the decision
    val classDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val p = new ProcessBuilder(
      (Seq("java", "-cp", s"$classDir:/opt/spark/jars/*", "-Xmx2g",
        "-Dspark.ui.enabled=false",
        "-Dgraft.lake.crashpoint=txn.prepared.1") ++ addOpens ++
        Seq("graft.tools.MultiMartProbe", dwd.path, dirs.head, dirs(1),
          s"$work/ckpt")): _*)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 137, s"probe should halt: ${out.takeRight(2000)}")
    // the torn window: NEITHER mart shows data or a watermark — the
    // published prepare is in-doubt and invisible
    dirs.foreach { d =>
      val m = LakeTable.load(spark, d)
      assert(m.timeline.visibleInstants().isEmpty, s"$d shows a torn half")
      assert(DwdToDm.resumeWatermark(m).isEmpty)
    }
    // writer is dead: age its reservations, then rerun the hop on the
    // SAME checkpoint — startup recovery aborts the in-doubt halves and
    // the replayed batch applies exactly once on both marts
    dirs.foreach(ageReservations)
    val marts = Seq(
      martCfg(work, dwd.path, "mart_rf", "l_returnflag"),
      martCfg(work, dwd.path, "mart_ls", "l_linestatus"))
    val q = MultiMartHop.runStreaming(spark, marts)
    try {
      q.processAllAvailable()
      assert(martMismatches(dwd, dirs.head, "l_returnflag").isEmpty,
        "mart_rf double-counted or lost the replayed batch")
      assert(martMismatches(dwd, dirs(1), "l_linestatus").isEmpty,
        "mart_ls double-counted or lost the replayed batch")
      val w1 = DwdToDm.resumeWatermark(LakeTable.load(spark, dirs.head))
      val w2 = DwdToDm.resumeWatermark(LakeTable.load(spark, dirs(1)))
      assert(w1.isDefined && w1 == w2)
    } finally q.stop()
  }
}

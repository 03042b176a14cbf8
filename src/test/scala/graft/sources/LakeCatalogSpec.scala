package graft.sources

import graft.lake.LakeTable
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The `spark.sql.catalog.lake` V2 catalog: full SQL table lifecycle by
  * NAME against a warehouse of lake tables — the catalog-native analog
  * of the reference's Hive meta sync.
  */
class LakeCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  val warehouse: String = Files.createTempDirectory("lakecat").toString

  lazy val spark: SparkSession = Sessions.builder("lakecat-test")
    .master("local[4]")
    .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
    .config("spark.sql.catalog.lake.warehouse", warehouse)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("namespace + table lifecycle: create, insert-as-upsert, select, drop") {
    spark.sql("CREATE NAMESPACE lake.ods")
    spark.sql(
      """CREATE TABLE lake.ods.users (id INT, ts BIGINT, part STRING, v DOUBLE)
        |PARTITIONED BY (part)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    assert(spark.sql("SHOW TABLES IN lake.ods").collect()
      .map(_.getString(1)).contains("users"))
    // typed empty read before first write
    assert(spark.sql("SELECT * FROM lake.ods.users").count() == 0)
    spark.sql(
      "INSERT INTO lake.ods.users VALUES (1, 10, 'p1', 1.0), (2, 10, 'p2', 2.0)")
    spark.sql("INSERT INTO lake.ods.users VALUES (2, 20, 'p2', 22.0)")
    val rows = spark.sql(
      "SELECT id, v FROM lake.ods.users ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((1, 1.0), (2, 22.0))) // keyed upsert, not append
    // partition spec flowed from PARTITIONED BY into the lake layout
    val t = LakeTable.load(spark, s"$warehouse/ods/users")
    assert(t.meta.partitionFields == Seq("part"))
    assert(t.snapshot().count() == 2)
    // INSERT OVERWRITE replaces
    spark.sql("INSERT OVERWRITE lake.ods.users VALUES (9, 90, 'p1', 9.0)")
    assert(spark.sql("SELECT id FROM lake.ods.users").collect()
      .map(_.getInt(0)).toSeq == Seq(9))
    assert(spark.sql("DROP TABLE lake.ods.users").collect().isEmpty)
    assert(spark.sql("SHOW TABLES IN lake.ods").collect().isEmpty)
  }

  test("ALTER TABLE RENAME/DROP COLUMN are metadata-only evolution commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dwd")
    spark.sql(
      """CREATE TABLE lake.dwd.m (id INT, ts BIGINT, part STRING, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql("INSERT INTO lake.dwd.m VALUES (1, 10, 'p1', 1.5)")
    val files = spark.sql(s"SELECT * FROM lake.dwd.m").inputFiles.length
    spark.sql("ALTER TABLE lake.dwd.m RENAME COLUMN v TO score")
    // old data readable under the new name; NO data files rewritten
    val r = spark.sql("SELECT id, score FROM lake.dwd.m").collect()
    assert(r.length == 1 && r(0).getDouble(1) == 1.5)
    spark.sql("ALTER TABLE lake.dwd.m DROP COLUMN part")
    assert(!spark.table("lake.dwd.m").columns.contains("part"))
    assert(spark.sql("SELECT id, score FROM lake.dwd.m").count() == 1)
    // ADD COLUMNS: metadata-only, old rows null-fill
    spark.sql("ALTER TABLE lake.dwd.m ADD COLUMNS (tag STRING)")
    assert(spark.sql("SELECT tag FROM lake.dwd.m").head().isNullAt(0))
    spark.sql("INSERT INTO lake.dwd.m VALUES (2, 10, 2.5, 'new')")
    assert(spark.sql(
      "SELECT id FROM lake.dwd.m WHERE tag = 'new'").head().getInt(0) == 2)
    // ALTER COLUMN TYPE: widening allowed in place, narrowing refused
    spark.sql("ALTER TABLE lake.dwd.m ALTER COLUMN id TYPE BIGINT")
    assert(spark.sql("SELECT id FROM lake.dwd.m ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // a narrower type request is refused with a cast-the-source hint
    // (schema never narrows). Spark's analyzer blocks the SQL form of a
    // narrowing ALTER, but MERGE WITH SCHEMA EVOLUTION proposes narrower
    // source types through alterTable directly — exercise that route.
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[TableCatalog]
    val narrow = intercept[IllegalArgumentException] {
      cat.alterTable(Identifier.of(Array("dwd"), "m"),
        TableChange.updateColumnType(Array("score"),
          org.apache.spark.sql.types.IntegerType))
    }
    assert(narrow.getMessage.contains("cast the source"))
    assert(spark.table("lake.dwd.m").schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // an incompatible type is refused — schema never silently rewrites
    intercept[Exception] {
      cat.alterTable(Identifier.of(Array("dwd"), "m"),
        TableChange.updateColumnType(Array("score"),
          org.apache.spark.sql.types.StringType))
    }
    assert(spark.table("lake.dwd.m").schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("RENAME TABLE moves the directory; data follows the name") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.tmp")
    spark.sql(
      """CREATE TABLE lake.tmp.a (id INT, ts BIGINT, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql("INSERT INTO lake.tmp.a VALUES (7, 1, 7.0)")
    spark.sql("ALTER TABLE lake.tmp.a RENAME TO tmp.b")
    assert(spark.sql("SELECT id FROM lake.tmp.b").head().getInt(0) == 7)
    val names = spark.sql("SHOW TABLES IN lake.tmp").collect().map(_.getString(1))
    assert(names.contains("b") && !names.contains("a"))
  }

  test("metadata columns: hidden from SELECT *, selectable by name") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.meta")
    spark.sql(
      """CREATE TABLE lake.meta.t (id INT, ts BIGINT, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql("INSERT INTO lake.meta.t VALUES (1, 10, 1.0), (2, 10, 2.0)")
    // SELECT * stays at the declared columns
    assert(spark.sql("SELECT * FROM lake.meta.t").columns.toSeq ==
      Seq("id", "ts", "v"))
    // the lake meta pair is reachable as v2 metadata columns
    val rows = spark.sql(
      "SELECT id, _record_key, _commit_time FROM lake.meta.t ORDER BY id")
      .collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("1", "2"))
    assert(rows.forall(_.getString(2).nonEmpty))
  }

  test("SQL DELETE FROM: filtered keyed delete through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.del")
    spark.sql(
      """CREATE TABLE lake.del.t (id INT, ts BIGINT, part STRING, v DOUBLE)
        |PARTITIONED BY (part)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql("""INSERT INTO lake.del.t VALUES
      (1, 10, 'p1', 1.0), (2, 10, 'p1', 2.0), (3, 10, 'p2', 3.0)""")
    spark.sql("DELETE FROM lake.del.t WHERE v > 1.5 AND part = 'p1'")
    assert(spark.sql("SELECT id FROM lake.del.t ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    // the delete is a first-class commit: time travel shows the pre-state
    val t = LakeTable.load(spark, s"$warehouse/del/t")
    assert(t.timeline.read(t.latestCommit.get).operation == "delete")
    val instants = t.timeline.instants()
    assert(t.snapshotAsOf(instants(instants.size - 2)).count() == 3)
    // DELETE without WHERE empties the table
    spark.sql("DELETE FROM lake.del.t")
    assert(spark.sql("SELECT count(*) FROM lake.del.t").head().getLong(0) == 0)
    // TRUNCATE TABLE rides the same SupportsDeleteV2 path
    spark.sql("INSERT INTO lake.del.t VALUES (5, 50, 'p1', 5.0)")
    assert(spark.sql("SELECT count(*) FROM lake.del.t").head().getLong(0) == 1)
    spark.sql("TRUNCATE TABLE lake.del.t")
    assert(spark.sql("SELECT count(*) FROM lake.del.t").head().getLong(0) == 0)
  }

  test("streaming sink writes into a catalog-managed table path") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.stream")
    spark.sql(
      """CREATE TABLE lake.stream.feed (id INT, ts BIGINT, part STRING, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts',
        |         'partition.fields' 'part')""".stripMargin)
    val work = Files.createTempDirectory("catstream").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$work/inbox"))
    Files.write(java.nio.file.Paths.get(s"$work/inbox/b1.json"),
      Seq("""{"id":1,"ts":10,"part":"p1","v":1.0}""",
        """{"id":2,"ts":10,"part":"p2","v":2.0}""").mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id INT, ts BIGINT, part STRING, v DOUBLE")
    val q = spark.readStream.schema(schema).json(s"$work/inbox")
      .writeStream.format("graft-lake")
      .option("checkpointLocation", s"$work/ckpt")
      .option("path", s"$warehouse/stream/feed")
      .start()
    q.processAllAvailable()
    q.stop()
    // the micro-batches landed as keyed commits in the NAMED table
    spark.sql("REFRESH TABLE lake.stream.feed")
    val rows = spark.sql(
      "SELECT id, v FROM lake.stream.feed ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((1, 1.0), (2, 2.0)))
  }

  test("unsupported partition transforms are rejected, not degraded") {
    // days/months/years/hours and bucket(n, key) are supported
    // (HiddenPartitionSpec); anything else still fails loudly instead of
    // silently degrading to an identity partition
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.rej")
    for (part <- Seq("truncate(4, ts)", "bucket(4, v)")) {
      val e = intercept[Exception] {
        spark.sql(
          s"""CREATE TABLE lake.rej.t (id INT, ts STRING, v DOUBLE)
             |PARTITIONED BY ($part)
             |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')"""
            .stripMargin)
      }
      assert(e.getMessage.contains("unsupported partition transform")
        || e.getMessage.contains("record key"),
        s"for $part got: ${e.getMessage}")
      // nothing half-created
      assert(!spark.sql("SHOW TABLES IN lake.rej").collect()
        .map(_.getString(1)).contains("t"))
    }
  }

  test("CALL procedures: compact, clean, pack, cluster, restore, orphans") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.svc")
    spark.sql(
      """CREATE TABLE lake.svc.t (id INT, ts BIGINT, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts',
        |         'table.type' 'mor')""".stripMargin)
    spark.sql("INSERT INTO lake.svc.t VALUES (1, 10, 1.0), (2, 10, 2.0)")
    spark.sql("INSERT INTO lake.svc.t VALUES (2, 20, 22.0)")
    val t = LakeTable.load(spark, s"$warehouse/svc/t")
    assert(t.timeline.liveFiles().exists(_.isDelta))
    // compact via SQL; returns the service commit instant
    val inst = spark.sql("CALL lake.system.compact(table => 'svc.t')")
      .head().getString(0)
    assert(inst != null && !t.timeline.liveFiles().exists(_.isDelta))
    // a second small base file (bulk-load insert), then bin-pack both
    val s = spark
    import s.implicits._
    t.insert(Seq((3, 10L, 3.0)).toDF("id", "ts", "v"))
    val packed = spark.sql(
      "CALL lake.system.pack_small_files(table => 'svc.t')").head().getString(0)
    assert(packed != null)
    // retention: drop file versions older than the last 2 commits
    val cleaned = spark.sql(
      "CALL lake.system.clean(table => 'svc.t', retain_commits => 2)")
      .head().getLong(0)
    assert(cleaned > 0)
    // the one-call policy: smoke the dispatch (healthy table => 0 rows,
    // or a trailing clean of the service commits above)
    val maint = spark.sql("CALL lake.system.maintain(table => 'svc.t')")
      .collect()
    assert(maint.forall(r => r.getString(0).nonEmpty))
    // hilbert-curve layout rewrite over two numeric columns
    val hil = spark.sql(
      "CALL lake.system.hilbert(table => 'svc.t', cols => 'ts,v')")
      .head().getString(0)
    assert(hil != null)
    // bucketed DDL: the bucket.count option fixes the hash layout
    spark.sql(
      """CREATE TABLE lake.svc.bkt (id BIGINT, ts BIGINT, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts',
        |         'bucket.count' '4')""".stripMargin)
    spark.sql("INSERT INTO lake.svc.bkt VALUES (1, 10, 1.0), (9, 10, 9.0)")
    val bt = LakeTable.load(spark, s"$warehouse/svc/bkt")
    assert(bt.meta.bucketCount == 4)
    assert(bt.timeline.liveFiles().forall(_.bucket.isDefined))
    assert(spark.sql("SELECT v FROM lake.svc.bkt WHERE id = 9")
      .head().getDouble(0) == 9.0)
    // the .files inventory exposes each file's bucket id
    assert(spark.sql("SELECT bucket FROM lake.svc.bkt.files")
      .collect().forall(!_.isNullAt(0)))
    // consistent cross-table cut: min of the two stable frontiers,
    // usable as as.of on every member
    val gcut = spark.sql(
      "CALL lake.system.group_cut(tables => 'svc.t,svc.bkt')")
      .head().getString(0)
    assert(gcut == Seq(t.latestCommit.get, bt.latestCommit.get).min)
    assert(spark.read.option("as.of", gcut).table("lake.svc.bkt")
      .count() >= 0)
    // cluster by a column; result readable and identical
    val clustered = spark.sql(
      "CALL lake.system.cluster(table => 'svc.t', sort_cols => 'ts')")
      .head().getString(0)
    assert(clustered != null)
    assert(spark.sql("SELECT id, v FROM lake.svc.t ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((1, 1.0), (2, 22.0), (3, 3.0)))
    // restore to the clustering instant is a no-op rollback; orphan sweep
    spark.sql(s"CALL lake.system.restore(table => 'svc.t', instant => '$clustered')")
    assert(spark.sql("CALL lake.system.cleanup_orphans(table => 'svc.t')")
      .head().getLong(0) == 0L)
    // savepoint lifecycle via SQL
    val sp = spark.sql("CALL lake.system.timeline(table => 'svc.t')")
      .head().getString(0)
    assert(spark.sql(
      s"CALL lake.system.savepoint(table => 'svc.t', instant => '$sp')")
      .head().getString(0) == sp)
    assert(t.savepoints() == Seq(sp))
    spark.sql(
      s"CALL lake.system.release_savepoint(table => 'svc.t', instant => '$sp')")
    assert(t.savepoints().isEmpty)
    // timeline history: one row per commit, operations in commit order
    val hist = spark.sql("CALL lake.system.timeline(table => 'svc.t')")
    assert(hist.columns.toSeq == Seq("instant", "operation", "files_added",
      "files_removed", "rows_added", "bytes_added", "extra"))
    val ops = hist.collect().map(_.getString(1)).toSeq
    assert(ops.take(2) == Seq("deltacommit", "deltacommit"))
    assert(ops.contains("compact") && ops.contains("clean"))
    assert(hist.collect().map(_.getString(0)).toSeq ==
      t.timeline.instants())
    // secondary index lifecycle via SQL: build, then advance after a
    // new commit — the refresh must land on the latest instant
    assert(spark.sql(
      "CALL lake.system.build_secondary_index(table => 'svc.t', column => 'v')")
      .head().getString(0) != null)
    assert(t.secondaryIndexAsOf("v").isDefined)
    spark.sql("INSERT INTO lake.svc.t VALUES (4, 10, 4.0)")
    assert(spark.sql(
      "CALL lake.system.refresh_secondary_index(table => 'svc.t', column => 'v')")
      .head().getString(0) == t.latestCommit.get)
    assert(t.secondaryIndexAsOf("v").contains(t.latestCommit.get))
    // restore under an active savepoint refuses without force, proceeds
    // with force => 'true'
    // a reconstructible target (earlier commits were cleaned above)
    val pin = t.timeline.instants().takeRight(2).head
    val top = t.latestCommit.get
    spark.sql(s"CALL lake.system.savepoint(table => 'svc.t', instant => '$top')")
    val rf = intercept[Exception] {
      spark.sql(s"CALL lake.system.restore(table => 'svc.t', instant => '$pin')")
    }
    assert(rf.getMessage.contains("savepoint") ||
      (rf.getCause != null && rf.getCause.getMessage.contains("savepoint")))
    spark.sql(s"CALL lake.system.restore(table => 'svc.t', " +
      s"instant => '$pin', force => 'true')")
    assert(t.latestCommit.contains(pin))
    // unknown procedure fails loudly with the available list
    val e = intercept[Exception] {
      spark.sql("CALL lake.system.nope(table => 'svc.t')")
    }
    // Spark wraps the catalog's error as FAILED_TO_LOAD_ROUTINE; ours
    // (with the available-procedure list) rides along as the cause
    assert(e.getMessage.contains("nope"))
    assert(e.getCause != null &&
      e.getCause.getMessage.contains("no such procedure"))
  }

  test("metadata table: <table>.partitions reports per-partition totals") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.pt")
    spark.sql(
      """CREATE TABLE lake.pt.t (id INT, ts BIGINT, part STRING, v DOUBLE)
        |PARTITIONED BY (part)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts',
        |  'table.type' 'mor')""".stripMargin)
    spark.sql("INSERT INTO lake.pt.t VALUES " +
      "(1, 10, 'a', 1.0), (2, 10, 'a', 2.0), (3, 10, 'b', 3.0)")
    // a MOR insert lands as delta files — the view shows the debt
    val rows = spark.sql(
      "SELECT partition, base_files, n_rows, delta_files, tombstone_rows " +
        "FROM lake.pt.t.partitions ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4)))
    assert(rows.toSeq == Seq(("part=a", 0, 2L, 1, 0L), ("part=b", 0, 1L, 1, 0L)))
    // compaction folds the debt into base files
    val t = LakeTable.load(spark, s"$warehouse/pt/t")
    t.compact()
    val comp = spark.sql(
      "SELECT partition, base_files, n_rows, delta_files " +
        "FROM lake.pt.t.partitions ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(comp.toSeq == Seq(("part=a", 1, 2L, 0), ("part=b", 1, 1L, 0)))
    // fresh delta debt and tombstones are visible. Tombstones are
    // stored PARTITION-LESS (the null-partition dir): under the global
    // index a tombstone must kill its key in ANY partition, so the
    // delete path does not bind it to one — the view reports storage
    val s2 = spark
    import s2.implicits._
    t.upsert(Seq((2, 20L, "a", 22.0)).toDF("id", "ts", "part", "v"))
    t.delete(Seq((3, 30L, "b", 0.0)).toDF("id", "ts", "part", "v"))
    val after = spark.sql(
      "SELECT partition, delta_files, tombstone_rows " +
        "FROM lake.pt.t.partitions ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(after.exists(r => r._1 == "part=a" && r._2 >= 1))
    assert(after.exists(r =>
      r._1 == "part=__HIVE_DEFAULT_PARTITION__" && r._3 >= 1L))
    // sizes are real bytes; total rows still reconcile with a count
    val tot = spark.sql(
      "SELECT sum(size_bytes) FROM lake.pt.t.partitions").head.getLong(0)
    assert(tot > 0)
  }

  test("metadata tables: <table>.history and <table>.changes") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.md")
    spark.sql(
      """CREATE TABLE lake.md.t (id INT, ts BIGINT, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql("INSERT INTO lake.md.t VALUES (1, 10, 1.0), (2, 10, 2.0)")
    spark.sql("INSERT INTO lake.md.t VALUES (2, 20, 22.0)")
    val hist = spark.sql(
      "SELECT instant, operation, rows_added FROM lake.md.t.history")
    assert(hist.count() == 2)
    assert(hist.collect().map(_.getString(1)).toSeq ==
      Seq("upsert", "upsert"))
    // full-history CDC feed as a named table
    val cdc = spark.sql(
      "SELECT id, v, _change_type FROM lake.md.t.changes ORDER BY id, _change_type")
    assert(cdc.collect().map(r =>
      (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq == Seq(
      (1, 1.0, "insert"), (2, 22.0, "insert")))
    // read-only: writes to a metadata table fail at analysis
    intercept[Exception] {
      spark.sql("INSERT INTO lake.md.t.changes VALUES " +
        "(3, 3.0, 'insert', NULL, 30L)")
    }
    // per-scan read options on the catalog table: time travel and
    // incremental ranges without any path-based read
    val t = LakeTable.load(spark, s"$warehouse/md/t")
    val Seq(c1, c2) = t.timeline.instants()
    // a commit RANGE on the changes metadata table
    val cdcRange = spark.read.option("begin", c1)
      .table("lake.md.t.changes")
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(cdcRange == Set((2, "update_preimage"), (2, "update_postimage")))
    val asOf = spark.read.option("as.of", c1).table("lake.md.t")
    assert(asOf.count() == 2 &&
      asOf.where("id = 2").head().getAs[Double]("v") == 2.0)
    val inc = spark.read.option("query.type", "incremental")
      .option("begin", c1).option("end", c2).table("lake.md.t")
    assert(inc.select("id").collect().map(_.getInt(0)).toSeq == Seq(2))
    // begin/end slice the HISTORY metadata table too ((begin, end], the
    // incremental/changes convention) — previously silently ignored
    val histRange = spark.read.option("begin", c1)
      .table("lake.md.t.history").collect().map(_.getString(0)).toSeq
    assert(histRange == Seq(c2))
    assert(spark.read.option("end", c1).table("lake.md.t.history")
      .collect().map(_.getString(0)).toSeq == Seq(c1))
    // the live file inventory as a named table (Delta/Iceberg .files
    // analog): every live FileStat, kind-tagged, with key ranges
    val files = spark.sql(
      "SELECT path, kind, n_rows FROM lake.md.t.files ORDER BY path")
    val liveNow = t.timeline.liveFiles()
    assert(files.count() == liveNow.size)
    assert(files.collect().map(_.getLong(2)).sum ==
      liveNow.map(_.numRecords).sum)
    // as.of lists a HISTORICAL snapshot's file set
    val filesAsOf = spark.read.option("as.of", c1)
      .table("lake.md.t.files").collect().map(_.getString(0)).toSet
    assert(filesAsOf == t.timeline.liveFiles(c1).map(_.path).toSet)
    assert(filesAsOf != liveNow.map(_.path).toSet)
    // schema-changing types are rejected with a pointer to the
    // metadata table
    val e2 = intercept[Exception] {
      spark.read.option("query.type", "changes").table("lake.md.t").collect()
    }
    assert(e2.getMessage.contains("metadata table"))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.tt")
    spark.sql(
      """CREATE TABLE lake.tt.t (id INT, ts BIGINT, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql("INSERT INTO lake.tt.t VALUES (1, 10, 1.0)")
    val t = LakeTable.load(spark, s"$warehouse/tt/t")
    val c1 = t.latestCommit.get
    spark.sql("INSERT INTO lake.tt.t VALUES (1, 20, 11.0), (2, 20, 2.0)")
    // current state vs pinned version
    assert(spark.sql("SELECT count(*) FROM lake.tt.t").head().getLong(0) == 2)
    assert(spark.sql(
      s"SELECT v FROM lake.tt.t VERSION AS OF '$c1'").collect()
      .map(_.getDouble(0)).toSeq == Seq(1.0))
    // timestamp cutoff: instants are epoch millis — a timestamp right at
    // c1 sees only the first commit
    val tsSql = new java.sql.Timestamp(c1.toLong).toString
    assert(spark.sql(
      s"SELECT count(*) FROM lake.tt.t TIMESTAMP AS OF '$tsSql'")
      .head().getLong(0) == 1)
    // unknown version fails loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM lake.tt.t VERSION AS OF '123'").collect()
    }
    assert(e.getMessage.contains("no commit at instant") ||
      (e.getCause != null &&
        e.getCause.getMessage.contains("no commit at instant")))
  }

  test("CTAS and the DataFrameWriterV2 writeTo API") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.ct")
    // CREATE TABLE AS SELECT carries the option surface
    spark.sql(
      """CREATE TABLE lake.ct.c
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')
        |AS SELECT id, ts, CAST(v AS DOUBLE) AS v
        |FROM VALUES (1, 10L, 1.0), (2, 10L, 2.0) AS t(id, ts, v)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM lake.ct.c").head().getLong(0) == 2)
    // writeTo append routes through the same keyed upsert
    val s = spark
    import s.implicits._
    Seq((2, 20L, 22.0), (3, 20L, 3.0)).toDF("id", "ts", "v")
      .writeTo("lake.ct.c").append()
    assert(spark.sql("SELECT id, v FROM lake.ct.c ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((1, 1.0), (2, 22.0), (3, 3.0)))
    // createOrReplace drops and re-creates the table from the frame
    Seq((9, 90L, 9.0)).toDF("id", "ts", "v")
      .writeTo("lake.ct.c").using("graft-lake-v2")
      .tableProperty("recordkey.field", "id")
      .tableProperty("precombine.field", "ts")
      .createOrReplace()
    assert(spark.sql("SELECT id FROM lake.ct.c").collect()
      .map(_.getInt(0)).toSeq == Seq(9))
  }

  test("REPLACE WHERE, static-partition and dynamic-partition overwrite") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.ow")
    spark.sql(
      """CREATE TABLE lake.ow.t (id INT, ts BIGINT, part STRING, v DOUBLE)
        |PARTITIONED BY (part)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql(
      """INSERT INTO lake.ow.t VALUES
        |(1, 10, 'a', 1.0), (2, 10, 'a', 2.0), (3, 10, 'b', 3.0)""".stripMargin)
    // static partition overwrite: only part=a is replaced
    spark.sql(
      "INSERT OVERWRITE lake.ow.t PARTITION (part = 'a') VALUES (7, 70, 7.0)")
    assert(spark.sql("SELECT id, part FROM lake.ow.t ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((3, "b"), (7, "a")))
    // arbitrary REPLACE WHERE: rows matching the predicate vanish, the
    // batch lands, everything else survives — one commit
    val t = LakeTable.load(spark, s"$warehouse/ow/t")
    val commitsBefore = t.timeline.instants().size
    spark.sql(
      """INSERT INTO lake.ow.t REPLACE WHERE id >= 7
        |VALUES (8, 80, 'a', 8.0), (9, 80, 'b', 9.0)""".stripMargin)
    assert(spark.sql("SELECT id FROM lake.ow.t ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(3, 8, 9))
    assert(t.timeline.instants().size == commitsBefore + 1)
    // a replace-where that matches nothing only appends
    spark.sql(
      "INSERT INTO lake.ow.t REPLACE WHERE id = 999 VALUES (4, 80, 'b', 4.0)")
    assert(spark.sql("SELECT count(*) FROM lake.ow.t").head().getLong(0) == 4)
    // dynamic mode: overwrite replaces exactly the touched partitions
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE lake.ow.t VALUES (5, 90, 'b', 5.0)")
      assert(spark.sql("SELECT id, part FROM lake.ow.t ORDER BY id").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq((5, "b"), (8, "a"))) // part=a untouched, part=b replaced
    } finally
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // time travel still reconstructs the pre-overwrite states
    assert(t.snapshotAsOf(t.timeline.instants().head).count() == 3)
  }

  // a key that an upsert moved into the overwritten partition goes with
  // it: MOR must not bring back its older version from the partition it
  // left (COW already rewrote that file on the upsert)
  Seq("mor", "cow").foreach { tt =>
    test(s"$tt: dynamic INSERT OVERWRITE drops a key that moved into the partition") {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.mv")
      spark.sql(
        s"""CREATE TABLE lake.mv.$tt (id INT, ts BIGINT, part STRING, v DOUBLE)
           |PARTITIONED BY (part)
           |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts',
           |         'table.type' '$tt')""".stripMargin)
      spark.sql(s"INSERT INTO lake.mv.$tt VALUES (1, 10, 'a', 1.0), (2, 10, 'a', 2.0)")
      spark.sql(s"INSERT INTO lake.mv.$tt VALUES (1, 20, 'b', 11.0)")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.sql(s"INSERT OVERWRITE lake.mv.$tt VALUES (5, 90, 'b', 5.0)")
      finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      assert(spark.sql(s"SELECT id, part FROM lake.mv.$tt ORDER BY id").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq((2, "a"), (5, "b")))
    }
  }

  test("catalog and library APIs see one table state") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.x")
    spark.sql(
      """CREATE TABLE lake.x.t (id INT, ts BIGINT, v DOUBLE)
        |OPTIONS ('recordkey.field' 'id', 'precombine.field' 'ts')""".stripMargin)
    spark.sql("INSERT INTO lake.x.t VALUES (1, 1, 1.0)")
    // library write lands in the catalog view (relation re-plans per scan)
    val t = LakeTable.load(spark, s"$warehouse/x/t")
    val s = spark
    import s.implicits._
    t.upsert(Seq((2, 1L, 2.0)).toDF("id", "ts", "v"))
    spark.sql("REFRESH TABLE lake.x.t")
    assert(spark.sql("SELECT count(*) FROM lake.x.t").head().getLong(0) == 2)
  }
}

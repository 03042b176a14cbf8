package graft.lake

import graft.util.Sessions
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Record-key bloom index ([[KeyBloom]]): parquet-native blooms written
  * at stage time, probed footer-only to prune upsert/delete tagging —
  * the Hudi BLOOM-index analog for the case key-range pruning cannot
  * handle (interleaved/hash-like keys make every file's range span the
  * whole key space).
  */
class KeyBloomSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("keybloom-test", "4")

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("keybloom").toString + "/t"

  private def df(rows: Seq[(String, Long, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ts", "v")
  }

  /** Three commits whose files all span the whole key range (keys
    * interleaved mod 3) — range pruning alone keeps every file.
    */
  private def interleavedTable(): LakeTable = {
    val t = LakeTable.create(spark, tmp(),
      TableMeta("t", Seq("id"), "ts", Seq.empty))
    (0 until 3).foreach { m =>
      t.insert(df((0 until 90).filter(_ % 3 == m)
        .map(i => (f"k$i%03d", 1L, i.toDouble))))
    }
    t
  }

  test("staged data files carry a readable record-key bloom") {
    val t = interleavedTable()
    val conf = spark.sessionState.newHadoopConf()
    val files = t.timeline.liveFiles()
    assert(files.size == 3)
    files.foreach { f =>
      val p = new Path(t.path, f.path)
      // a key from this commit is may-contained; a foreign string is not
      assert(KeyBloom.mayContain(conf, p, Array("k000", "nope")) ||
        KeyBloom.mayContain(conf, p, Array("k001", "k002")))
      assert(!KeyBloom.mayContain(conf, p, Array("absent-key-xyz")))
    }
  }

  test("bloomPrune keeps exactly the files holding the probed keys") {
    val t = interleavedTable()
    val live = t.timeline.liveFiles()
    // every file's range spans k000..k089 — range pruning is useless here
    assert(live.forall(f => f.minKey <= "k002" && f.maxKey >= "k087"))
    // keys 3 and 6 are both ≡ 0 (mod 3): only commit 1's file holds them
    val kept = t.bloomPrune(live, Array("k003", "k006"))
    assert(kept.size == 1)
    val conf = spark.sessionState.newHadoopConf()
    assert(KeyBloom.mayContain(conf, new Path(t.path, kept.head.path),
      Array("k003")))
  }

  test("upsert across interleaved commits stays correct with bloom tagging") {
    val t = interleavedTable()
    t.upsert(df(Seq(("k003", 5L, 100.0), ("k006", 5L, 200.0))))
    val out = t.snapshotUser().select("id", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.size == 90)
    assert(out("k003") == 100.0 && out("k006") == 200.0)
    assert(out("k004") == 4.0 && out("k005") == 5.0)
    // the upsert rewrote exactly the one file holding the two keys
    val last = t.timeline.read(t.timeline.latestInstant().get)
    assert(last.removed.size == 1)
  }

  test("delete by key across interleaved commits with bloom tagging") {
    val t = interleavedTable()
    t.delete(df(Seq(("k010", 9L, 0.0), ("k013", 9L, 0.0))))
    val ids = t.snapshotUser().select("id").collect().map(_.getString(0)).toSet
    assert(ids.size == 88 && !ids("k010") && !ids("k013"))
    // k010 and k013 are both ≡ 1 (mod 3): one file rewritten
    val last = t.timeline.read(t.timeline.latestInstant().get)
    assert(last.removed.size == 1)
  }

  test("missing bloom keeps the file (conservative on pre-feature files)") {
    val dir = Files.createTempDirectory("keybloom-raw").toString
    // a parquet file written WITHOUT bloom options
    df(Seq(("a", 1L, 1.0))).withColumnRenamed("id", LakeTable.RecordKeyCol)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    assert(KeyBloom.mayContain(conf, new Path(f.toString), Array("zzz")))
  }
}

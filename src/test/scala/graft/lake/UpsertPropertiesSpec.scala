package graft.lake

import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Property tests of the upsert algebra (SURVEY §5):
  *  1. idempotence — re-upserting a batch is a no-op;
  *  2. last-writer-wins by precombine;
  *  3. commutativity of batches with distinct keys;
  *  4. snapshot(t2) == snapshot(t1) + incremental(t1, t2) applied by key.
  */
/** Top-level so Spark's case-class Encoder can instantiate it. */
case class R(id: Int, ts: Long, part: String, v: Double)

class UpsertPropertiesSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Deterministic ScalaCheck sampling (no scalatestplus bridge in the
    * offline cache): evaluate the generator under fixed seeds.
    */
  def forAllSeeded[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(g.apply(Gen.Parameters.default.withSize(20), Seed(i * 7919L)).get)
    }

  lazy val spark: SparkSession = Sessions.local("prop-test", "4")

  override def afterAll(): Unit = spark.stop()

  val rowGen: Gen[R] = for {
    id <- Gen.choose(0, 30)
    ts <- Gen.choose(0L, 50L)
    part <- Gen.oneOf("p1", "p2", "p3")
    v <- Gen.choose(0, 1000).map(_.toDouble)
  } yield R(id, ts, part, v)

  val batchGen: Gen[List[R]] = Gen.nonEmptyListOf(rowGen)

  def toDf(rows: Seq[R]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  def mkTable(tableType: String = "cow"): LakeTable =
    LakeTable.create(spark,
      Files.createTempDirectory("proptbl").toString + "/t",
      TableMeta("p", Seq("id"), "ts", Seq("part"), tableType))

  def state(t: LakeTable): Set[(Int, Long, Double)] =
    t.snapshot().select("id", "ts", "v").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet

  /** Reference semantics: latest (ts) per id; among equal ts the
    * later-upserted batch wins — mirror by folding batches in order.
    */
  def model(batches: Seq[Seq[R]]): Map[Int, (Long, String)] =
    batches.zipWithIndex.foldLeft(Map.empty[Int, (Long, Int, R)]) {
      case (acc, (batch, bi)) =>
        // within a batch ties are arbitrary; keep only ts for comparison
        batch.foldLeft(acc) { (m, r) =>
          m.get(r.id) match {
            case Some((ts, _, _)) if ts > r.ts => m
            case Some((ts, pbi, _)) if ts == r.ts && pbi == bi => m // in-batch tie: arbitrary → skip strictness
            case _ => m.updated(r.id, (r.ts, bi, r))
          }
        }
    }.map { case (id, (ts, _, _)) => id -> ((ts, "")) }

  test("idempotence: re-upserting the same batch is a no-op (cow + mor)") {
    forAllSeeded(batchGen) { rows =>
      for (tt <- Seq("cow", "mor")) {
        val t = mkTable(tt)
        t.upsert(toDf(rows))
        val s1 = state(t)
        t.upsert(toDf(rows))
        assert(state(t) == s1, s"tableType=$tt")
      }
    }
  }

  test("last-writer-wins: keys and max-ts per key match the model") {
    forAllSeeded(Gen.listOfN(3, batchGen), n = 3) { batches =>
      for (tt <- Seq("cow", "mor")) {
        val t = mkTable(tt)
        batches.foreach(b => t.upsert(toDf(b)))
        val m = model(batches)
        val got = t.snapshot().select("id", "ts").collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(got.keySet == m.keySet, s"tableType=$tt keys")
        got.foreach { case (id, ts) =>
          assert(ts == m(id)._1, s"tableType=$tt id=$id")
        }
      }
    }
  }

  test("commutativity: distinct-key batches produce the same table either order") {
    forAllSeeded(Gen.zip(batchGen, batchGen), n = 3) { case (b1raw, b2raw) =>
      // make key sets distinct and per-batch unique
      val b1 = b1raw.groupBy(_.id).map(_._2.head).toSeq
      val b2 = b2raw.groupBy(_.id).map(_._2.head)
        .map(r => r.copy(id = r.id + 100)).toSeq
      val tA = mkTable(); val tB = mkTable()
      tA.upsert(toDf(b1)); tA.upsert(toDf(b2))
      tB.upsert(toDf(b2)); tB.upsert(toDf(b1))
      assert(state(tA) == state(tB))
    }
  }

  test("model-based: random upsert/delete sequences match a Map model (cow + mor)") {
    // an op is an upsert batch, a delete of a key subset, ONE upsert
    // batch mixing changes with `_deleted` rows (a CDC batch), or a TABLE
    // SERVICE (compact / pack / cluster / clean / archive) interleaved at
    // a random point — services must be invisible to the model (the
    // content-preserving contract), under every data/service
    // interleaving the generator produces. The reference model folds data
    // ops in order: upsert keeps max-ts per key (later batch wins ties),
    // delete removes the key unconditionally, a later upsert re-creates
    // it — MOR tombstone barriers must be indistinguishable from COW
    // physical rewrites under this model.
    sealed trait Op
    case class Up(rows: List[R]) extends Op
    case class Del(ids: List[Int]) extends Op
    case class Mix(rows: List[R], ids: List[Int]) extends Op
    case class Svc(kind: Int) extends Op
    val mixGen: Gen[Mix] = for {
      rows <- batchGen
      ids <- Gen.nonEmptyListOf(Gen.choose(0, 30))
    } yield Mix(rows, ids.distinct.filterNot(rows.map(_.id).toSet))
    val opGen: Gen[Op] = Gen.frequency(
      3 -> batchGen.map(Up.apply),
      2 -> Gen.nonEmptyListOf(Gen.choose(0, 30)).map(Del.apply),
      2 -> mixGen,
      2 -> Gen.choose(0, 4).map(Svc.apply))
    def upserted(m: Map[Int, Long], rows: List[R]): Map[Int, Long] =
      rows.foldLeft(m)((acc, r) =>
        if (acc.get(r.id).exists(_ > r.ts)) acc else acc.updated(r.id, r.ts))
    // every sequence ends in a mixed batch, and the run must see stale
    // deletes of stored keys — the case a conditional delete would miss
    var staleDeletes = 0
    val seqGen = for (ops <- Gen.listOfN(6, opGen); last <- mixGen)
      yield ops :+ last
    forAllSeeded(seqGen, n = 2) { ops =>
      val results = for (tt <- Seq("cow", "mor")) yield {
        val t = mkTable(tt)
        val model = ops.foldLeft(Map.empty[Int, Long]) {
          case (m, Up(rows)) =>
            t.upsert(toDf(rows))
            upserted(m, rows)
          case (m, Mix(rows, ids)) =>
            // delete rows carry ts = -1, older than every stored row:
            // a `_deleted` row removes its key whatever the precombine
            val commits = t.history().size
            staleDeletes += ids.count(m.contains)
            t.upsert(toDf(rows).withColumn(LakeTable.DeletedCol, lit(false))
              .unionByName(toDf(ids.map(i => R(i, -1L, "p1", 0.0)))
                .withColumn(LakeTable.DeletedCol, lit(true))))
            assert(t.history().size == commits + 1, "one commit per batch")
            // MOR tombstones keep files of their own
            assert(t.timeline.liveFiles().filter(_.tombstones > 0)
              .forall(f => f.tombstones == f.numRecords), "tombstone files")
            upserted(m, rows) -- ids
          case (m, Del(ids)) =>
            t.delete(toDf(ids.map(i => R(i, 0L, "p1", 0.0))))
            m -- ids
          case (m, Svc(k)) =>
            k match {
              case 0 => t.compact()
              case 1 => t.packSmallFiles(targetBytes = 4L * 1024 * 1024)
              case 2 => t.cluster(Seq("ts"))
              case 3 => t.clean(retainCommits = 2)
              case _ => t.archiveTimeline(keepCommits = 3)
            }
            m // content-preserving: the model is untouched
        }
        val got = t.snapshot().select("id", "ts").collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(got == model, s"tableType=$tt")
        // compaction must not change the answer
        t.compact()
        val afterCompact = t.snapshot().select("id", "ts").collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(afterCompact == model, s"tableType=$tt post-compact")
        model
      }
      assert(results.distinct.size == 1) // cow and mor agree with each other
    }
    assert(staleDeletes > 0, "no mixed batch deleted a stored key")
  }

  test("model-based: point and bulk plans agree on moved keys, new dirs and absent deletes") {
    // the same random sequences under both COW keyed-write plans, split by
    // BloomProbeMaxKeys (point: driver-held keys, hit-set merge, per-dir
    // write; bulk: semi-join tagging, sort-merge merge, range write).
    // Batches are key-unique, so the model can track each key's partition
    // too: a later row of a key in another partition MOVES it, a row in a
    // dir no file has yet opens that dir, and deletes (both `delete` and
    // `_deleted` rows) name absent keys as well as stored ones.
    case class Op(rows: List[R], dels: List[Int], viaDelete: Boolean)
    val parts = (1 to 6).map(i => s"p$i")
    val opGen: Gen[Op] = for {
      rows <- Gen.nonEmptyListOf(for {
        id <- Gen.choose(0, 30)
        ts <- Gen.choose(0L, 50L)
        part <- Gen.oneOf(parts)
      } yield R(id, ts, part, ts.toDouble))
      dels <- Gen.listOf(Gen.choose(0, 40))
      viaDelete <- Gen.oneOf(true, false)
    } yield {
      val unique = rows.groupBy(_.id).map(_._2.head).toList
      Op(unique, dels.distinct.filterNot(unique.map(_.id).toSet), viaDelete)
    }
    type Model = Map[Int, (Long, String)]
    def applied(m: Model, op: Op): Model =
      op.rows.foldLeft(m)((acc, r) =>
        if (acc.get(r.id).exists(_._1 > r.ts)) acc
        else acc.updated(r.id, (r.ts, r.part))) -- op.dels
    var (moved, newDirs, absentDeletes) = (0, 0, 0)
    // every sequence ends in a fixed op: a stored key moved to a new dir,
    // a fresh key in another new dir, and a delete of a key never written
    val seqGen = Gen.listOfN(6, opGen)
    forAllSeeded(seqGen, n = 3) { ops0 =>
      val results = for (maxKeys <- Seq(Long.MaxValue, 0L)) yield {
        val saved = LakeTable.BloomProbeMaxKeys
        LakeTable.BloomProbeMaxKeys = maxKeys
        try {
          val t = mkTable()
          val first = ops0.head.rows.head
          val ops = ops0 :+ Op(List(R(first.id, 99L, "moved", 1.0),
            R(500, 1L, "fresh", 2.0)), List(999), viaDelete = false)
          val model = ops.foldLeft(Map.empty: Model) { (m, op) =>
            if (maxKeys > 0) {
              val dirs = m.values.map(_._2).toSet
              moved += op.rows.count(r =>
                m.get(r.id).exists(s => s._2 != r.part && s._1 <= r.ts))
              newDirs += op.rows.map(_.part).distinct.count(!dirs(_))
              absentDeletes += op.dels.count(!m.contains(_))
            }
            if (op.viaDelete) {
              t.upsert(toDf(op.rows))
              if (op.dels.nonEmpty)
                t.delete(toDf(op.dels.map(i => R(i, 0L, "p1", 0.0))))
            } else
              t.upsert(toDf(op.rows).withColumn(LakeTable.DeletedCol, lit(false))
                .unionByName(toDf(op.dels.map(i => R(i, -1L, "p1", 0.0)))
                  .withColumn(LakeTable.DeletedCol, lit(true))))
            applied(m, op)
          }
          val got = t.snapshot().select("id", "ts", "part").collect()
            .map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2)))).toMap
          assert(got == model, s"BloomProbeMaxKeys=$maxKeys")
          got
        } finally LakeTable.BloomProbeMaxKeys = saved
      }
      assert(results.distinct.size == 1)
    }
    assert(moved > 0 && newDirs > 0 && absentDeletes > 0,
      s"moved=$moved newDirs=$newDirs absentDeletes=$absentDeletes")
  }

  test("incremental algebra: snapshot(t2) == snapshot(t1) ⊕ incremental(t1,t2)") {
    forAllSeeded(Gen.zip(batchGen, batchGen), n = 3) { case (b1, b2) =>
      val t = mkTable()
      val c1 = t.upsert(toDf(b1))
      val c2 = t.upsert(toDf(b2))
      val base = t.snapshotAsOf(c1).select("id", "ts", "part", "v")
      val delta = t.incremental(c1, c2).select("id", "ts", "part", "v")
      val applied = base.join(delta.select("id"), Seq("id"), "left_anti")
        .union(delta)
      val now = t.snapshot().select("id", "ts", "part", "v")
      assert(applied.exceptAll(now).isEmpty && now.exceptAll(applied).isEmpty)
    }
  }
}

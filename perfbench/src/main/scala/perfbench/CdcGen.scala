package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator for the CDC workloads.
  *
  * It makes a lineitem-shaped base table (with duplicate keys, as TPC-H
  * generators produce) and a `part` dimension, then a stream of Canal
  * change envelopes in batches: 70% UPDATE, 25% INSERT of fresh keys and
  * 5% DELETE. Most updates and deletes hit recently inserted keys; the
  * rest fall uniformly on every live key. Every event it emits is kept in
  * [[events]]; the program only ever sees the inbox files.
  */
final class CdcGen(seed: Long, baseRows: Int, val batchEvents: Int) {
  import CdcGen._

  private val rnd = new SplittableRandom(seed)
  val parts: Int = math.max(50, baseRows / 100)
  private val orders = baseRows / 4

  /** Every event emitted so far, in emission order. */
  val events = mutable.ArrayBuffer.empty[Event]

  // live key set with O(1) random pick and removal
  private val live = mutable.ArrayBuffer.empty[(Long, Int)]
  private val liveIdx = mutable.HashMap.empty[(Long, Int), Int]
  private val recent = mutable.ArrayBuffer.empty[(Long, Int)]
  private var nextOrder = orders.toLong + 1
  private var seq = 0L

  private def addLive(k: (Long, Int)): Unit =
    if (!liveIdx.contains(k)) { liveIdx(k) = live.size; live += k }
  private def removeLive(k: (Long, Int)): Unit = liveIdx.remove(k).foreach { i =>
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; liveIdx(last) = i }
  }

  def row(key: (Long, Int)): Map[String, Any] = {
    val ship = LocalDateTime.of(1992, 1, 1, 0, 0).plusDays(rnd.nextInt(2500))
    val qty = 1 + rnd.nextInt(50)
    val price = (qty * (90000 + rnd.nextInt(1000000))) / 100.0
    Map(
      "l_orderkey" -> key._1, "l_partkey" -> (1L + rnd.nextInt(parts)),
      "l_suppkey" -> (1L + rnd.nextInt(math.max(10, parts / 20))),
      "l_linenumber" -> key._2, "l_quantity" -> qty.toDouble,
      "l_extendedprice" -> price, "l_discount" -> rnd.nextInt(11) / 100.0,
      "l_tax" -> rnd.nextInt(9) / 100.0,
      "l_returnflag" -> ReturnFlags(rnd.nextInt(ReturnFlags.length)),
      "l_linestatus" -> (if (rnd.nextBoolean()) "O" else "F"),
      "l_shipdate" -> ship)
  }

  /** Base rows: `baseRows` lines over `orders` orders. Line numbers are
    * drawn with repeats, so some `(l_orderkey, l_linenumber)` keys occur
    * more than once (bootstrap picks one of them; the model starts from
    * whatever it picked).
    */
  def baseTable(): Seq[Map[String, Any]] = (0 until baseRows).map { _ =>
    val k = (1L + rnd.nextInt(orders), 1 + rnd.nextInt(7))
    addLive(k)
    row(k)
  }

  def partTable(): Seq[(Long, String, String, Int, Double)] =
    (1 to parts).map { p =>
      val brand = s"Brand#${1 + rnd.nextInt(5)}${1 + rnd.nextInt(5)}"
      (p.toLong, s"part $p", brand, 1 + rnd.nextInt(50),
        (90000 + rnd.nextInt(20000)) / 100.0)
    }

  private def pickExisting(): (Long, Int) = {
    val fromRecent = recent.nonEmpty && rnd.nextInt(10) < 7
    val k = if (fromRecent) recent(rnd.nextInt(recent.size)) else null
    if (k != null && liveIdx.contains(k)) k else live(rnd.nextInt(live.size))
  }

  /** Next batch of events; also appended to [[events]]. Every batch has
    * exactly 70% UPDATE, 25% INSERT and 5% DELETE events, in seeded order.
    */
  def nextBatch(batch: Int): Seq[Event] = {
    val ops = Array.tabulate(batchEvents)(i =>
      if (i < batchEvents * 25 / 100) 0 else if (i < batchEvents * 95 / 100) 1 else 2)
    for (i <- ops.indices.reverse) { // Fisher-Yates
      val j = rnd.nextInt(i + 1)
      val t = ops(i); ops(i) = ops(j); ops(j) = t
    }
    val out = ops.toSeq.map { dice =>
      seq += 1
      val (op, key) =
        if (dice == 0 || live.isEmpty) {
          val k = (nextOrder, 1 + rnd.nextInt(7))
          nextOrder += 1
          addLive(k)
          recent += k
          if (recent.size > RecentWindow) recent.remove(0, recent.size - RecentWindow)
          ("INSERT", k)
        } else if (dice == 1) ("UPDATE", pickExisting())
        else { val k = pickExisting(); removeLive(k); ("DELETE", k) }
      val values = row(key) + ("created_ts" -> (EventEpochMs + seq))
      Event(batch, seq, op, key, values)
    }
    events ++= out
    out
  }
}

object CdcGen {
  val ReturnFlags = Array("A", "N", "R")
  private val CanalTime =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val RecentWindow = 4000
  /** Event `created_ts` values start here (2100-01-01): the precombine
    * value of every change is newer than the bootstrap's wall-clock stamp,
    * whatever day the benchmark runs.
    */
  val EventEpochMs = 4102444800000L

  final case class Event(batch: Int, seq: Long, op: String, key: (Long, Int),
      values: Map[String, Any]) {
    /** One Canal binlog envelope holding this event's row. */
    def canalJson: String = {
      val data = values.toSeq.sortBy(_._1).map { case (k, v) =>
        val s = v match {
          case t: LocalDateTime => t.format(CanalTime)
          case other            => other.toString
        }
        s""""$k":"${Json.esc(s)}""""
      }.mkString("{", ",", "}")
      s"""{"data":[$data],"database":"tpch","es":${EventEpochMs + seq},""" +
        s""""id":$seq,"isDdl":false,"pkNames":["l_orderkey","l_linenumber"],""" +
        s""""table":"lineitem","ts":${EventEpochMs + seq},"type":"$op"}"""
    }
  }
}

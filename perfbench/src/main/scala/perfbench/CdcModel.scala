package perfbench

import org.apache.spark.sql.Row

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** In-memory model of the medallion tables, the oracle of the CDC
  * workloads.
  *
  * It starts from the bootstrapped ODS snapshot and replays the
  * generator's events with the pipelines' documented semantics:
  *  - ODS: per batch, the last event per key wins; INSERT/UPDATE upsert,
  *    DELETE removes.
  *  - DWD: ODS enriched with `p_brand`; deletes are not propagated (the
  *    reference's ODS2DWD reads only upserted rows).
  *  - DM: additive `sum(l_quantity)` by brand over every row the DWD hop
  *    upserted (the reference's DWD2DM; an update adds its new quantity).
  */
final class CdcModel(odsStart: Seq[Map[String, Any]], brandOf: Map[Long, String]) {
  import CdcModel._

  val ods = mutable.HashMap.empty[(Long, Int), Map[String, Any]]
  val dwd = mutable.HashMap.empty[(Long, Int), Map[String, Any]]
  val dm = mutable.HashMap.empty[String, BigDecimal]

  odsStart.foreach(upsert)

  private def upsert(r: Map[String, Any]): Unit = {
    val k = keyOf(r)
    ods(k) = r
    val brand = brandOf.getOrElse(r("l_partkey").asInstanceOf[Long], "NA")
    dwd(k) = (r - "created_ts") + ("p_brand" -> brand)
    dm(brand) = dm.getOrElse(brand, BigDecimal(0)) +
      BigDecimal(r("l_quantity").asInstanceOf[Double])
  }

  def apply(batch: Seq[CdcGen.Event]): Unit =
    batch.groupBy(_.key).values.map(_.maxBy(_.seq)).toSeq.sortBy(_.seq)
      .foreach { e =>
        if (e.op == "DELETE") ods.remove(e.key) else upsert(e.values)
      }

  /** The analyst read's answer: (rows, sum of l_quantity) of one return
    * flag over an order-key range.
    */
  def analyst(flag: String, lo: Long, hi: Long): (Long, Double) = {
    val hits = ods.valuesIterator.filter { r =>
      val k = r("l_orderkey").asInstanceOf[Long]
      r("l_returnflag") == flag && k >= lo && k <= hi
    }.toSeq
    (hits.size.toLong, hits.map(_("l_quantity").asInstanceOf[Double]).sum)
  }
}

object CdcModel {
  def keyOf(r: Map[String, Any]): (Long, Int) =
    (r("l_orderkey").asInstanceOf[Long], r("l_linenumber").asInstanceOf[Int])

  def rowMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.iterator.zipWithIndex.map { case (n, i) =>
      n -> r.get(i)
    }.toMap

  private def canon(v: Any): String = v match {
    case null                    => "<null>"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal           => d.bigDecimal.stripTrailingZeros.toPlainString
    case other                   => other.toString
  }

  /** (row count, order-insensitive digest) over the named columns. */
  def digest(rows: Iterable[Map[String, Any]], cols: Seq[String]): (Long, Long) = {
    var n = 0L; var h = 0L
    rows.foreach { r =>
      val s = cols.map(c => canon(r.getOrElse(c, null))).mkString("\u0001")
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
      n += 1
    }
    (n, h)
  }
}

package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import java.nio.charset.StandardCharsets

/** Per-file write statistics read from parquet FOOTERS instead of
  * re-scanning the written data.
  *
  * The write path needs (rows, min/max `_record_key`, min/max
  * `_commit_time`, tombstone count) per published file for the commit
  * metadata that drives file pruning. Computing that with a Spark
  * aggregate re-reads the entire staged output — at 100 TB that doubles
  * write I/O. The parquet footer already carries exact row counts and
  * column min/max per row group, so this reads O(files) footers (a few KB
  * each) instead.
  *
  * Soundness: parquet row-group statistics are exact or conservatively
  * WIDENED bounds (binary stats may be truncated to a lower-bound min /
  * incremented upper-bound max, or omitted entirely for very long
  * values). Widened key/commit bounds only ever ENLARGE the candidate
  * set of the consumers (`tagFiles` re-verifies by an exact scan;
  * incremental's maxCommit skip fires only when the upper bound proves
  * no row qualifies) — never drop data. Whenever a needed statistic is
  * absent or ambiguous, [[read]] returns None and the caller falls back
  * to the exact scan for the whole batch.
  */
object FooterStats {

  /** One file's stats; mirror of the [[FileStat]] fields derived at write. */
  case class Parts(rows: Long, minKey: String, maxKey: String,
      minCommit: String, maxCommit: String, tombstones: Long,
      cols: Map[String, Seq[String]] = Map.empty)

  /** Spark types whose parquet footer statistics order consistently with
    * Catalyst comparison and survive a string round-trip. Timestamps
    * qualify only when written as INT64 (micros) — INT96 stats are
    * unordered and rejected by the physical-type check in [[colRange]].
    */
  def zoneMappable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           FloatType | DoubleType | StringType | BooleanType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  def read(conf: Configuration, file: Path): Option[Parts] =
    read(conf, file, Seq.empty)

  def read(conf: Configuration, file: Path,
      zoneCols: Seq[String]): Option[Parts] = {
    import scala.jdk.CollectionConverters._
    val reader =
      try ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      catch { case _: Exception => return None }
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0) return Some(Parts(0, null, null, null, null, 0))

      def colStats(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
          name: String) =
        b.getColumns.asScala.find(_.getPath.toDotString == name)
          .map(_.getStatistics).filter(s => s != null && !s.isEmpty)

      // string column (binary/UTF8) min/max across row groups; None when
      // any row group lacks usable values (e.g. truncated-away stats)
      def strRange(name: String): Option[(String, String)] = {
        val per = blocks.map(b => colStats(b, name).filter(_.hasNonNullValue)
          .map(s => (new String(s.getMinBytes, StandardCharsets.UTF_8),
            new String(s.getMaxBytes, StandardCharsets.UTF_8))))
        if (per.exists(_.isEmpty)) None
        else {
          val vs = per.flatten
          Some((vs.map(_._1).min, vs.map(_._2).max))
        }
      }

      // tombstone count from `_deleted` boolean stats. Files are written
      // homogeneous (pure tombstone deltas vs. pure data), so the stats
      // decide exactly; anything mixed or unknowable → None → exact scan.
      def tombs: Option[Long] = {
        val per = blocks.map { b =>
          colStats(b, LakeTable.DeletedCol) match {
            case None => None // column chunk metadata missing → can't know
            case Some(s) if !s.hasNonNullValue => Some(0L) // all null = live
            case Some(s) =>
              val mn = s.genericGetMin.asInstanceOf[java.lang.Boolean]
              val mx = s.genericGetMax.asInstanceOf[java.lang.Boolean]
              if (!mx) Some(0L) // max false: no tombstone rows
              else if (mn && s.isNumNullsSet && s.getNumNulls == 0)
                Some(b.getRowCount) // min true, no nulls: all tombstones
              else None // mixed true/false(/null) → ambiguous
          }
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
      }

      // Zone maps for user columns — strictly best-effort: any block
      // without usable stats, any non-comparable physical type (INT96
      // timestamps), any surprise → the column is simply omitted.
      // Omission only costs pruning opportunity, never correctness.
      def colRange(name: String): Option[(String, String)] =
        try {
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          val chunks = blocks.map(b =>
            b.getColumns.asScala.find(_.getPath.toDotString == name))
          // the PHYSICAL type decides how block ranges merge — "9" vs
          // "10" must compare numerically for INT columns, bytewise for
          // BINARY. INT96 (legacy timestamps) has no ordered stats.
          val ptype = chunks.headOption.flatten
            .map(_.getPrimitiveType.getPrimitiveTypeName)
          // timestamp stats are usable only in MICROS — Catalyst literals
          // are epoch-micros, a MILLIS/NANOS-unit stat would prune in the
          // wrong domain
          val unitOk = chunks.headOption.flatten.forall(
            _.getPrimitiveType.getLogicalTypeAnnotation match {
              case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => true
            })
          if (chunks.exists(_.isEmpty) || ptype.isEmpty ||
              ptype.contains(INT96) || !unitOk) None
          else {
            val pt = ptype.get
            val per = chunks.map(_.get).map(c =>
              Option(c.getStatistics).filter(s => !s.isEmpty && s.hasNonNullValue)
                .map { s =>
                  if (pt == BINARY || pt == FIXED_LEN_BYTE_ARRAY)
                    (new String(s.getMinBytes, StandardCharsets.UTF_8),
                      new String(s.getMaxBytes, StandardCharsets.UTF_8))
                  else (s.genericGetMin.toString, s.genericGetMax.toString)
                })
            if (per.exists(_.isEmpty)) None
            else {
              val vs = per.flatten
              val numeric = pt == INT32 || pt == INT64 ||
                pt == FLOAT || pt == DOUBLE
              if (numeric)
                Some((vs.map(_._1).minBy(BigDecimal(_)),
                  vs.map(_._2).maxBy(BigDecimal(_))))
              else {
                // unsigned bytewise order (parquet's binary comparator ==
                // Catalyst's UTF8String order); Java String.min would
                // compare UTF-16 code units and could NARROW the range
                import org.apache.spark.unsafe.types.UTF8String
                def lo(a: String, b: String) =
                  if (UTF8String.fromString(a).compareTo(
                    UTF8String.fromString(b)) <= 0) a else b
                Some((vs.map(_._1).reduce(lo),
                  vs.map(_._2).reduce((a, b) => if (lo(a, b) == a) b else a)))
              }
            }
          }
        } catch { case _: Exception => None }

      val zones: Map[String, Seq[String]] = zoneCols.flatMap { c =>
        colRange(c).map(r => c -> Seq(r._1, r._2))
      }.toMap

      for {
        (mnK, mxK) <- strRange(LakeTable.RecordKeyCol)
        (mnC, mxC) <- strRange(LakeTable.CommitTimeCol)
        tb <- tombs
      } yield Parts(rows, mnK, mxK, mnC, mxC, tb, zones)
    } catch {
      case _: Exception => None
    } finally reader.close()
  }
}

package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

/** Per-file record-key bloom filters — the role of Hudi's default BLOOM
  * index (`hoodie.index.type=BLOOM`, the index the reference's writer
  * config implies; HudiConfig.scala:28-31 configures the key fields it
  * tags with).
  *
  * Storage is the STANDARD parquet split-block bloom filter on the
  * `_record_key` column, enabled by writer options at stage time — no
  * sidecar files, no commit-metadata bloat (commit JSON is read on every
  * plan; a 64 KB bitset per file does not belong there). Probing reads
  * only the footer + bloom pages of a candidate file: O(KB) per file
  * instead of a column scan.
  *
  * Why it matters at 100 TB: key-RANGE pruning (min/max key in commit
  * metadata) is only selective when files are key-clustered. After
  * z-order/sort-column clustering, or under naturally hash-like keys
  * (UUIDs), every file's key range spans the whole key space and range
  * pruning keeps everything — upsert tagging then scans the key column
  * of the entire table. The bloom probe answers "could this file hold
  * any of these keys" from footer metadata alone, cutting the tagging
  * scan to the files that actually match (plus a ~1% false-positive
  * tail).
  *
  * Safety: strictly a may-contain test. A missing bloom (files written
  * before this feature, or a column chunk without one), an unreadable
  * footer, or any surprise keeps the file — pruning degrades to the
  * existing range prune + exact scan, never drops a matching file.
  */
object KeyBloom {

  /** Writer options that make every staged data file carry a record-key
    * bloom. Adaptive sizing lets parquet shrink the bitset to the file's
    * actual key cardinality at the target false-positive rate instead of
    * always paying the maximum.
    */
  def writerOptions: Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#${LakeTable.RecordKeyCol}" -> "true",
    "parquet.bloom.filter.adaptive.enabled" -> "true")

  /** Could `file` contain ANY of `keys`? Per row group: probe that
    * group's `_record_key` bloom with every key; a group without a
    * usable bloom conservatively answers yes.
    */
  def mayContain(conf: Configuration, file: Path,
      keys: Array[String]): Boolean = {
    import scala.jdk.CollectionConverters._
    val reader =
      try ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      catch { case _: Exception => return true }
    try {
      val binaries = keys.map(Binary.fromString)
      reader.getFooter.getBlocks.asScala.exists { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == LakeTable.RecordKeyCol) match {
          case None => true // key column chunk not found: cannot rule out
          case Some(cc) =>
            val bloom =
              try reader.getBloomFilterDataReader(b).readBloomFilter(cc)
              catch { case _: Exception => null }
            if (bloom == null) true // no bloom written for this group
            else binaries.exists(k => bloom.findHash(bloom.hash(k)))
        }
      }
    } catch { case _: Exception => true } finally reader.close()
  }
}

package perfbench

import graft.SparkEntry
import graft.queries.{Dedup, Similarity}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The `curation_pack` workload: training-data queries, one from each
  * family, run serially over generated `documents` and `embeddings`.
  *
  * Set-up stages the incremental IVF index (`Similarity.ivfIncrementalTopK`
  * with graft's stage directory set, as graft.Bench does). The shingle and
  * Jaccard-pair stages are built by their first consumer inside the first
  * timed pass, as in graft.Bench. Each query's rows are collected in the
  * timed region; the last pass's rows are written out afterwards for the
  * oracle compare in run.py.
  */
final class PackWorkload(spark: SparkSession, tracer: Tracer, work: Path) {
  import PackWorkload._

  private val res = new Result
  private val dir = work.resolve("input").toString
  private val stage = work.resolve("stage")

  private def runQuery(q: String): (Array[Row], StructType) = {
    // building a query's plan may already run jobs
    val df = SparkEntry.queries(q)(spark, dir)
    val rows = df.collect()
    spark.catalog.clearCache()
    (rows, df.schema)
  }

  def run(seconds: Double): Result = {
    val missing = Queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: ${missing.mkString(",")}")
    spark.conf.set(Dedup.StageDirConf, stage.toString)
    val t0 = System.nanoTime()
    tracer.span("setup.index") {
      Main.step("index staging") {
        Similarity.ivfIncrementalTopK(spark, dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
    }
    res.setupSeconds = (System.nanoTime() - t0) / 1e9

    // serial passes; a pass that has started always finishes
    val outputs = mutable.Map.empty[String, (Array[Row], StructType)]
    var timed = 0.0
    while (timed < seconds) {
      val p0 = System.nanoTime()
      Queries.foreach { q =>
        val t0 = System.nanoTime()
        res.attempted += 1
        try outputs(q) = tracer.span(s"query.${q.takeWhile(_ != '_')}", q)(runQuery(q))
        catch {
          case e: Exception =>
            res.failed += 1
            outputs.remove(q)
            res.fail(s"query $q", e)
        }
        res.queries += (System.nanoTime() - t0) / 1e9
      }
      res.passes += (System.nanoTime() - p0) / 1e9
      timed += res.passes.last
    }
    res.storageMb = Files.walk(stage).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum() / (1024.0 * 1024.0)

    val out = work.resolve("out")
    outputs.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val sql = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(Queries.map(q => q -> Json.str(sql(q)))))
    res
  }
}

object PackWorkload {
  /** One query per family: the PPJoin pair finder (data-bound), the
    * bloom decontamination screen, incremental BM25 (job-count-bound) and
    * the incremental kNN graph over the staged IVF layout.
    */
  val Queries: Seq[String] = Seq(
    "dedup_jaccard_pairs", "curate_bloom_decon", "text_bm25_incr", "sim_knn_incr")

  /** What a pack run measured. The oracle compare runs afterwards, in
    * run.py, and adds its mismatches to `failed`.
    */
  final class Result extends Main.Result {
    val passes = mutable.ArrayBuffer.empty[Double]
    val queries = mutable.ArrayBuffer.empty[Double]
    var storageMb = 0.0

    def endToEnd: Map[String, Double] = Map(
      "throughput_per_s" -> queries.size / passes.sum,
      "freshness_p50_s" -> Main.median(passes),
      "read_p50_s" -> Main.median(queries),
      "storage_mb" -> storageMb)
  }
}

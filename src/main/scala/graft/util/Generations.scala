package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The on-disk contract of derived lake state — the maintained views of
  * [[graft.pipelines.RollupMaintain]], [[graft.pipelines.DistinctMaintain]],
  * [[graft.pipelines.JoinMaintain]] and [[graft.pipelines.Scd2]], and the
  * posting lists of [[graft.lake.LakeTable.buildSecondaryIndex]]. Each
  * keeps its state as GENERATIONS: parquet dirs `<dir>/<prefix><name>`.
  *
  *  - **Name.** The name is the watermark the generation is current as
  *    of, built from zero-padded fixed-width parts, so the
  *    lexicographic max is the newest: `gen_<instant>` (rollup,
  *    distinct), `gen_<aInstant>_<bInstant>` (join),
  *    `gen_<instant>_<ordinal>` (SCD2), `asof_<instant>` (index), or
  *    `gen_<batchId>` for stream-batch state.
  *  - **Complete.** Only a dir holding `_SUCCESS` exists for readers —
  *    a crashed writer's partial files are never served ([[complete]]).
  *  - **Valid.** The current generation is the NEWEST one whose
  *    watermark(s) the owner's predicate accepts — for lake state, "every
  *    watermark is still a commit on its table's active timeline". A
  *    [[graft.lake.LakeTable.restore]] below a watermark rolls back
  *    commits the state already holds (and post-restore commits take
  *    higher instants, so `watermark >= latest` would keep serving it);
  *    an archival past it collapses the commits a delta feed needs.
  *    When no generation qualifies, the owner bootstraps ([[current]]).
  *  - **Sweep.** Publishing writes the new generation and then deletes
  *    every OTHER generation under the prefix: superseded ones and
  *    orphans alike, including an orphan with a higher name that must
  *    not shadow the new one. Publishing with no new state only sweeps,
  *    which finishes a sweep a crash interrupted ([[publish]]).
  */
object Generations {

  private def fs(s: SparkSession, dir: String) =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `_SUCCESS`-complete child dirs of `dir` in name order; empty when
    * `dir` does not exist.
    */
  def complete(s: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val f = fs(s, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toIndexedSeq
      .filter(st => st.isDirectory && f.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Names (prefix stripped) of the complete generations, newest first. */
  def list(s: SparkSession, dir: String, prefix: String): Seq[String] =
    complete(s, dir).map(_.getName).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).reverse

  /** The newest generation whose name passes `valid`; None = bootstrap. */
  def current(s: SparkSession, dir: String, prefix: String)(
      valid: String => Boolean): Option[String] =
    list(s, dir, prefix).find(valid)

  /** The state of generation `name`. */
  def read(s: SparkSession, dir: String, prefix: String,
      name: String): DataFrame =
    s.read.parquet(s"$dir/$prefix$name")

  /** Write `state` (when given) as generation `name`, then sweep every
    * other generation under `prefix`. Returns `name`.
    */
  def publish(s: SparkSession, dir: String, prefix: String, name: String,
      state: Option[DataFrame]): String = {
    state.foreach(_.write.mode("overwrite").parquet(s"$dir/$prefix$name"))
    val f = fs(s, dir)
    list(s, dir, prefix).filter(_ != name).foreach { old =>
      f.delete(new Path(s"$dir/$prefix$old"), true)
    }
    name
  }
}

package graft.streaming

import java.io.File

/** Test helper: make a stopped query re-run its newest micro-batch on
  * restart, as after a crash between the batch's writes and its
  * checkpoint commit.
  */
object StreamReplay {

  /** Delete the newest entry of the commit log under `checkpointDir`;
    * returns the batch id Spark will re-run.
    */
  def loseLastCommit(checkpointDir: String): Long = {
    val commits = new File(checkpointDir, "commits")
    val last = commits.listFiles().map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).maxBy(_.toLong)
    assert(new File(commits, last).delete(), s"cannot delete commit $last")
    new File(commits, s".$last.crc").delete()
    last.toLong
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the bench's session (extensions,
  * UTC, non-ANSI) on 4 cores. Fixed at 4, not `SPARK_GRAFT_CPUS`, so plan
  * contracts and partition counts do not depend on the host. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(4)

  /** Deletes the newest batch's commit marker under a stream
    * checkpoint, so the next query over that checkpoint runs the batch
    * again with the same epoch id — a foreachBatch replay on demand. */
  protected def dropLastCommit(checkpointDir: String): Unit = {
    val commits = new java.io.File(checkpointDir, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(n =>
      new java.io.File(commits, n).delete())
  }
}

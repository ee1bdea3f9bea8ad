package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, reference semantics
  * (UTC, non-ANSI NULL-on-parse). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

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

package graft

import org.apache.spark.sql.SparkSession

/** The one way to open an engine session: `Bench`, `Verify`, `Probe` and
  * the test suite all plan under the same conf, so a plan seen in one is
  * the plan the others run. */
object GraftSession {

  /** Core count `Bench`, `Verify` and `Probe` run on (`SPARK_GRAFT_CPUS`). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cpus]` with `cpus` shuffle partitions (scale-adaptive, never
    * tuned to one host), the native operators and SQL functions of
    * [[GraftExtensions]], and reference semantics: UTC, non-ANSI
    * (silently-NULL casts and parses, SURVEY §7.4.2), and
    * TIMESTAMP(NANOS) columns read as long for the loader to convert. */
  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

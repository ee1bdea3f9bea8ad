package perfbench

/** Records every `SparkEntry.queries` result on the suite's tables:
  *
  * {{{
  * perfbench.Record <suite tables dir> <out dir> [query,...]
  * }}}
  *
  * `record_suite.py` drives it and cross-checks the results against the
  * DuckDB oracle before it writes `suite_expected.json`. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args.take(2)
    val only = args.drop(2).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val spark = Main.session(out)
    try Suite.record(spark, data, out, only) finally spark.stop()
  }
}

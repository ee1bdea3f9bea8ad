package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.stream.FlightStream

/** Streaming pipeline semantics (/root/reference/apps/spark_app/
  * flight_stream.py:93-344): parse → filter → staging projection, run both
  * in batch mode and through a real MemoryStream → foreachBatch sink with
  * checkpoint-restart.
  */
class FlightStreamSpec extends SparkSpec {
  import spark.implicits._

  private val now = "2024-05-10T00:00:00Z"

  private def event(
      key: String = "AA100_2024-05-09T10:00:00+00:00",
      status: String = "active",
      depSched: String = "2024-05-09T10:00:00Z",
      arrSched: String = "2024-05-09T12:00:00Z",
      ingest: String = "2024-05-09T11:00:00Z"): String = {
    val dep = s""""airport":"Origin","iata":"ORG","icao":"KORG","gate":"1",
      "terminal":"A","schedule":${if (depSched == null) "null" else s""""$depSched""""},
      "estimated":null,"actual":null,"delay_min":7""".replaceAll("\n\\s*", "")
    s"""{"flight_key":${if (key == null) "null" else s""""$key""""},
      "flight_date":"2024-05-09","status":"$status",
      "airline":{"iata":"AA","icao":"AAL","name":"American"},
      "flight":{"number":"100","iata":"AA100","icao":null},
      "departure":{$dep},
      "arrival":{"airport":"Dest","iata":"DST","icao":"KDST","gate":null,
        "terminal":"B","schedule":${if (arrSched == null) "null" else s""""$arrSched""""},
        "estimated":null,"actual":null,"delay_min":null},
      "ingest_time":"$ingest","source":"test"}""".replaceAll("\n\\s*", "")
  }

  private def run(jsons: Seq[String]) =
    FlightStream.pipeline(jsons.toDF("json"),
      lit(java.sql.Timestamp.from(java.time.Instant.parse(now))))

  test("well-formed active event lands in staging with parsed timestamps") {
    val out = run(Seq(event())).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("flight_key") == "AA100_2024-05-09T10:00:00+00:00")
    assert(r.getAs[String]("status") == "active")
    assert(r.getAs[java.sql.Timestamp]("dep_scheduled") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2024-05-09T10:00:00Z")))
    assert(r.getAs[Double]("dep_delay_min") == 7.0)
    assert(r.isNullAt(r.fieldIndex("arr_delay_min")))
  }

  test("status filter: cancelled dropped, case-insensitive keep, EN-ROUTE kept") {
    val out = run(Seq(
      event(status = "cancelled"), event(status = "LANDED"),
      event(status = "EN-ROUTE"), event(status = "scheduled")))
    assert(out.select("status").as[String].collect().sorted.toSeq ==
      Seq("en-route", "landed"))
  }

  test("3-day retention: stale events dropped, boundary kept, any-recent-of-4 keeps") {
    val stale = event(depSched = "2024-05-01T10:00:00Z",
      arrSched = "2024-05-01T12:00:00Z")
    val boundary = event(depSched = "2024-05-07T00:00:00Z", // exactly now-3d
      arrSched = "2024-05-01T12:00:00Z")
    val oneRecent = event(depSched = "2024-05-01T10:00:00Z") // arr recent → kept
    assert(run(Seq(stale)).isEmpty)
    assert(run(Seq(boundary)).count() == 1)
    assert(run(Seq(oneRecent)).count() == 1)
  }

  test("junk guard: NULL flight_key or all-NULL timestamps dropped") {
    assert(run(Seq(event(key = null))).isEmpty)
    assert(run(Seq(event(depSched = "zzz", arrSched = null))).isEmpty)
    // dep schedule null + arrival schedule present → kept (any-of semantics)
    assert(run(Seq(event(depSched = null))).count() == 1)
  }

  test("malformed JSON row → all-NULL parse → dropped by junk guard") {
    assert(run(Seq("{not json", """{"status":"active"}""")).isEmpty)
  }

  test("ingest_time falls back to now when absent/unparsable") {
    val out = run(Seq(event(ingest = "garbage"))).collect()(0)
    assert(out.getAs[java.sql.Timestamp]("ingest_time") ==
      java.sql.Timestamp.from(java.time.Instant.parse(now)))
  }

  test("quarantine: rejected rows carry the first failing reason; disjoint with kept") {
    val nowCol = lit(java.sql.Timestamp.from(java.time.Instant.parse(now)))
    val jsons = Seq(
      event(),                                  // kept
      event(status = "cancelled"),              // status_not_allowed
      event(key = null),                        // null_flight_key
      event(depSched = "zzz", arrSched = null), // no_timestamps
      event(depSched = "2024-05-01T10:00:00Z",  // stale (both old)
        arrSched = "2024-05-01T12:00:00Z"))
    val parsed = FlightStream.parse(jsons.toDF("json"))
    val rejected = FlightStream.quarantine(parsed, nowCol)
    val reasons = rejected.select("reject_reason").as[String].collect().sorted
    assert(reasons.toSeq == Seq(
      "no_timestamps", "null_flight_key", "stale", "status_not_allowed"))
    val kept = FlightStream.filterRelevant(parsed, nowCol)
    assert(kept.count() + rejected.count() == jsons.length)
  }

  test("parseTyped: Dataset[FlightEvent] round-trips fields; junk → None") {
    val ds = FlightStream.parseTyped(Seq(event(), "{not json").toDF("json"))
    val rows = ds.collect()
    assert(rows.length == 2)
    val ok = rows.find(_.flight_key.isDefined).get
    assert(ok.airline.get.iata.contains("AA"))
    assert(ok.departure.get.delay_min.contains(7))
    assert(rows.exists(r => r.flight_key.isEmpty && r.airline.isEmpty))
  }

  test("MemoryStream → foreachBatch sink appends across batches; restart resumes from checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("fs-test").toString
    val out = s"$dir/staging"
    val cp = s"$dir/checkpoint"
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val staged = FlightStream.pipeline(ms.toDF().withColumnRenamed("value", "json"),
      lit(java.sql.Timestamp.from(java.time.Instant.parse(now))))

    val q1 = FlightStream.startStagingSink(staged, out, cp)
    ms.addData(event(key = "k1"))
    ms.addData(event(key = "k2"), event(status = "cancelled"))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() == 2)

    // restart from the same checkpoint: only new data is appended
    val q2 = FlightStream.startStagingSink(staged, out, cp)
    ms.addData(event(key = "k3"))
    q2.processAllAvailable()
    q2.stop()
    val keys = spark.read.parquet(out).select("flight_key").as[String].collect().toSet
    assert(spark.read.parquet(out).count() == 3)
    assert(keys.exists(_.startsWith("k3")) || keys.contains("k3"))
  }

  test("staging sink: a replayed epoch replaces its rows, no duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("fs-replay").toString
    val (out, cp) = (s"$dir/staging", s"$dir/checkpoint")
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val staged = FlightStream.pipeline(ms.toDF().withColumnRenamed("value", "json"),
      lit(java.sql.Timestamp.from(java.time.Instant.parse(now))))
    val q1 = FlightStream.startStagingSink(staged, out, cp)
    try {
      ms.addData(event(key = "k1")); q1.processAllAvailable()
      ms.addData(event(key = "k2"), event(key = "k3")); q1.processAllAvailable()
    } finally q1.stop()
    val before = spark.read.parquet(out)
    assert(before.count() == 3)
    // the last epoch's rows are written but its commit is gone: the
    // restarted query runs that epoch again (at-least-once foreachBatch)
    dropLastCommit(cp)
    val q2 = FlightStream.startStagingSink(staged, out, cp)
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(out)
    assert(after.schema == before.schema)
    assert(after.columns.toSeq == graft.schema.FlightSchemas.stagingColumns)
    assert(after.select("flight_key").as[String].collect().sorted.toSeq ==
      Seq("k1", "k2", "k3"))
  }
}

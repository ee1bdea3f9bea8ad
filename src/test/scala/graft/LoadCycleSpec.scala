package graft

import org.apache.spark.sql.functions._
import graft.ops.LoadCycle
import graft.stream.FlightStream

/** The full warehouse load cycle (U6, load_warehouse.py:308-329) over
  * stream-produced staging rows: dim two-path upserts, route
  * insert-if-absent, fact latest-wins merge, purge, curated view, and
  * cross-cycle idempotence.
  */
class LoadCycleSpec extends SparkSpec {
  import spark.implicits._

  private val now = "2024-05-10T00:00:00Z"

  private def event(key: String, status: String = "active",
      ingest: String = "2024-05-09T11:00:00Z",
      airlineIata: String = "AA", airlineIcao: String = "AAL",
      airlineName: String = "American",
      depIata: String = "ORG", arrIata: String = "DST"): String = {
    def j(s: String) = if (s == null) "null" else s""""$s""""
    s"""{"flight_key":"$key","flight_date":"2024-05-09","status":"$status",
      "airline":{"iata":${j(airlineIata)},"icao":${j(airlineIcao)},"name":${j(airlineName)}},
      "flight":{"number":"100","iata":"AA100","icao":null},
      "departure":{"airport":"Origin Intl","iata":${j(depIata)},"icao":"KORG",
        "gate":"1","terminal":"A","schedule":"2024-05-09T10:00:00Z",
        "estimated":null,"actual":null,"delay_min":7},
      "arrival":{"airport":"Dest Intl","iata":${j(arrIata)},"icao":"KDST",
        "gate":null,"terminal":"B","schedule":"2024-05-09T12:00:00Z",
        "estimated":null,"actual":null,"delay_min":null},
      "ingest_time":"$ingest","source":"test"}""".replaceAll("\n\\s*", "")
  }

  private def stage(jsons: Seq[String]) =
    FlightStream.pipeline(jsons.toDF("json"),
      lit(java.sql.Timestamp.from(java.time.Instant.parse(now))))

  private def cutoff(s: String) =
    lit(java.sql.Timestamp.from(java.time.Instant.parse(s)))

  test("two cycles: dims via both paths, route resolved, fact latest-wins, purge") {
    val staging = stage(Seq(
      event("k1", ingest = "2024-05-09T10:30:00Z"),
      event("k1", status = "landed", ingest = "2024-05-09T11:30:00Z",
        airlineName = null), // next cycle; NULL must not erase "American"
      event("k2", ingest = "2024-05-09T10:45:00Z",
        airlineIata = null, airlineIcao = "BBL", airlineName = "Beta")))
    // cycle 1 sees only rows <= 11:00 (e2 stays in staging for cycle 2) —
    // the per-cycle cutoff slice, load_warehouse.py:318-319
    val wh1 = LoadCycle.run(LoadCycle.emptyWarehouse(staging),
      cutoff("2024-05-09T11:00:00Z"))
    assert(wh1.staging.count() == 1) // e2 survives the purge
    val wh = LoadCycle.run(wh1, cutoff("2024-05-09T12:00:00Z"))

    val airlines = wh.dimAirline.orderBy("icao").collect()
    assert(airlines.length == 2)
    assert(airlines(0).getAs[String]("icao") == "AAL" &&
      airlines(0).getAs[String]("airline_name") == "American") // NULL preserved
    assert(airlines(1).getAs[String]("iata") == null &&
      airlines(1).getAs[String]("airline_name") == "Beta") // ICAO-only path

    assert(wh.dimAirport.count() == 2) // ORG, DST from both flight ends
    assert(wh.dimRoute.count() == 1)

    val fact = wh.fact.orderBy("flight_key").collect()
    assert(fact.length == 2)
    val k1 = fact(0)
    assert(k1.getAs[String]("status") == "landed") // latest wins
    assert(!k1.isNullAt(k1.fieldIndex("airline_id")))
    assert(!k1.isNullAt(k1.fieldIndex("route_id")))
    assert(wh.staging.isEmpty) // everything <= cutoff purged
  }

  test("snapshotDiff over warehouse versions is the load cycle's change feed") {
    import graft.ops.Merge
    val staging = stage(Seq(
      event("k1", ingest = "2024-05-09T10:30:00Z"),
      event("k2", ingest = "2024-05-09T11:30:00Z"), // cycle-2 insert
      event("k1", status = "landed",
        ingest = "2024-05-09T11:40:00Z")))          // cycle-2 update
    val wh1 = LoadCycle.run(LoadCycle.emptyWarehouse(staging),
      cutoff("2024-05-09T11:00:00Z"))
    val wh2 = LoadCycle.run(wh1, cutoff("2024-05-09T12:00:00Z"))
    // the diff between fact versions = exactly what the cycle changed —
    // the CDC view the reference's insert-only watermark export misses
    val diff = Merge.snapshotDiff(wh1.fact, wh2.fact,
      Seq("flight_key"), Seq("status"))
      .as[(String, String)].collect().toMap
    assert(diff == Map("k1" -> "update", "k2" -> "insert"))
  }

  test("second cycle merges onto first; replayed batch is a no-op (idempotent)") {
    val batch1 = stage(Seq(event("k1", ingest = "2024-05-09T10:30:00Z")))
    val wh1 = LoadCycle.run(LoadCycle.emptyWarehouse(batch1),
      cutoff("2024-05-09T12:00:00Z"))

    // replaying the same rows (at-least-once duplicate delivery, ST4)
    val wh2 = LoadCycle.run(wh1.copy(staging = batch1),
      cutoff("2024-05-09T12:00:00Z"))
    assert(wh2.fact.orderBy("flight_key").drop("last_updated").collect().toSeq ==
      wh1.fact.orderBy("flight_key").drop("last_updated").collect().toSeq)
    assert(wh2.dimAirline.collect().toSeq == wh1.dimAirline.collect().toSeq)

    // a genuinely newer snapshot for k1 overwrites timeline, keeps ids
    val batch2 = stage(Seq(
      event("k1", status = "landed", ingest = "2024-05-09T13:00:00Z")))
    val wh3 = LoadCycle.run(wh2.copy(staging = batch2),
      cutoff("2024-05-09T14:00:00Z"))
    val k1 = wh3.fact.filter(col("flight_key") === "k1").collect()(0)
    assert(k1.getAs[String]("status") == "landed")
    assert(wh3.fact.count() == 1)
  }

  test("end-to-end topology: stream → staging parquet → warehouse → curated view") {
    // the whole reference pipeline in one test: Kafka-shaped JSON through
    // the streaming sink, loader cycle over the staged parquet, analytics
    // off the curated view (docker-compose.yml:3-117 as a library call)
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val dir = java.nio.file.Files.createTempDirectory("e2e").toString
    val staged = stage0(ms.toDF().withColumnRenamed("value", "json"))
    val q = FlightStream.startStagingSink(staged, s"$dir/staging", s"$dir/cp")
    ms.addData(event("e2e_k1", ingest = "2024-05-09T10:30:00Z"))
    ms.addData(event("e2e_k1", status = "landed", ingest = "2024-05-09T11:30:00Z"),
      event("e2e_k2", ingest = "2024-05-09T10:45:00Z",
        airlineIata = null, airlineIcao = "BBL", airlineName = "Beta"))
    q.processAllAvailable(); q.stop()

    val staging = spark.read.parquet(s"$dir/staging")
    val wh = LoadCycle.run(LoadCycle.emptyWarehouse(staging),
      cutoff("2024-05-09T12:00:00Z"))
    val view = LoadCycle.curatedView(wh)
    assert(view.count() == 2)
    val k1 = view.filter(col("flight_key") === "e2e_k1").collect()(0)
    assert(k1.getAs[String]("status") == "landed") // latest snapshot won
    assert(k1.getAs[String]("airline_name") == "American")
    assert(k1.getAs[String]("dep_code") == "ORG")
  }

  private def stage0(raw: org.apache.spark.sql.DataFrame) =
    FlightStream.pipeline(raw,
      lit(java.sql.Timestamp.from(java.time.Instant.parse(now))))

  test("WarehouseSink: continuous micro-batch warehouse with versioned swap") {
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val dir = java.nio.file.Files.createTempDirectory("whsink").toString
    val sink = new graft.stream.WarehouseSink(spark, s"$dir/wh")
    val q = sink.start(stage0(ms.toDF().withColumnRenamed("value", "json")),
      s"$dir/cp")

    ms.addData(event("w_k1", ingest = "2024-05-09T10:30:00Z"))
    q.processAllAvailable()
    assert(sink.warehouse.fact.count() == 1)

    // batch 2: newer snapshot for k1 + a new flight; merges onto v1
    ms.addData(event("w_k1", status = "landed", ingest = "2024-05-09T11:30:00Z"),
      event("w_k2", ingest = "2024-05-09T11:00:00Z"))
    q.processAllAvailable()
    q.stop()
    val fact = sink.warehouse.fact
    assert(fact.count() == 2)
    assert(fact.filter(col("flight_key") === "w_k1")
      .collect()(0).getAs[String]("status") == "landed")
    // both warehouse versions exist on disk (write-then-swap, no in-place)
    assert(new java.io.File(s"$dir/wh/v1/fact").exists)
    assert(new java.io.File(s"$dir/wh/v2/fact").exists)
  }

  test("WarehouseSink: restart recovers state and version from newest vN dir") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("whrestart").toString

    // process 1: load one batch, producing v1, then "crash" (stop)
    val ms1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val sink1 = new graft.stream.WarehouseSink(spark, s"$dir/wh")
    val q1 = sink1.start(stage0(ms1.toDF().withColumnRenamed("value", "json")),
      s"$dir/cp1")
    ms1.addData(event("r_k1", ingest = "2024-05-09T10:30:00Z"))
    q1.processAllAvailable(); q1.stop()
    assert(new java.io.File(s"$dir/wh/v1/fact").exists)

    // simulate a crash mid-materialize: v2 exists but has no _COMMITTED
    // marker (only partial table dirs, the stored view's included) —
    // recovery must skip it, and the version counter must still move
    // past it
    assert(new java.io.File(s"$dir/wh/v1/_COMMITTED").exists)
    new java.io.File(s"$dir/wh/v2/fact").mkdirs()
    new java.io.File(s"$dir/wh/v2/curated").mkdirs()
    // v1 as a version committed before the view was stored: no curated/
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/wh/v1/curated"))

    // process 2: fresh JVM analog — new sink instance, same baseDir.
    // Without recovery it would bootstrap empty and overwrite v1.
    val ms2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val sink2 = new graft.stream.WarehouseSink(spark, s"$dir/wh")
    val q2 = sink2.start(stage0(ms2.toDF().withColumnRenamed("value", "json")),
      s"$dir/cp2")
    // the recovered v1 has no stored view: reads serve the join
    assert(sink2.warehouse.curated.isEmpty)
    assert(LoadCycle.curatedView(sink2.warehouse).select("flight_key")
      .collect().map(_.getString(0)).toSeq == Seq("r_k1"))
    ms2.addData(event("r_k2", ingest = "2024-05-09T11:00:00Z"))
    q2.processAllAvailable(); q2.stop()

    // recovered COMMITTED v1 state (not the torn v2) merged with the new
    // batch, written past the partial dir as v3
    val fact = sink2.warehouse.fact
    assert(fact.count() == 2)
    assert(fact.select("flight_key").collect().map(_.getString(0)).toSet ==
      Set("r_k1", "r_k2"))
    assert(new java.io.File(s"$dir/wh/v3/_COMMITTED").exists)
    assert(spark.read.parquet(s"$dir/wh/v1/fact").count() == 1) // v1 untouched

    // process 3 recovers v3 with its stored view, every table read with
    // the schema its files hold
    val ms3 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val sink3 = new graft.stream.WarehouseSink(spark, s"$dir/wh")
    sink3.start(stage0(ms3.toDF().withColumnRenamed("value", "json")),
      s"$dir/cp3").stop()
    val wh3 = sink3.warehouse
    val view = LoadCycle.curatedView(wh3)
    assert(view.inputFiles.nonEmpty &&
      view.inputFiles.forall(_.contains("/wh/v3/curated/")), view.inputFiles.toSeq)
    assertSameRows(view, LoadCycle.curatedView(wh3.copy(curated = None)))
    assert(view.count() == 2)
    def fields(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    for ((name, df) <- Seq("dim_airline" -> wh3.dimAirline,
        "dim_airport" -> wh3.dimAirport, "dim_route" -> wh3.dimRoute,
        "fact" -> wh3.fact, "curated" -> view))
      assert(fields(df) == fields(spark.read.parquet(s"$dir/wh/v3/$name")), name)
  }

  test("WarehouseSink: every committed version stores the curated view of its tables") {
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val dir = java.nio.file.Files.createTempDirectory("whview").toString
    val sink = new graft.stream.WarehouseSink(spark, s"$dir/wh")
    val q = sink.start(stage0(ms.toDF().withColumnRenamed("value", "json")),
      s"$dir/cp")
    val cycles = Seq(
      Seq(event("c_k1", ingest = "2024-05-09T10:30:00Z")),
      // a new airline and a new departure airport: dim rows added
      Seq(event("c_k2", ingest = "2024-05-09T10:40:00Z", airlineIata = "UA",
        airlineIcao = "UAL", airlineName = "United", depIata = "SFO")),
      // only a newer snapshot of an existing flight
      Seq(event("c_k1", status = "landed", ingest = "2024-05-09T11:30:00Z")))
    cycles.foreach { evs => ms.addData(evs: _*); q.processAllAvailable() }
    q.stop()

    val base = s"$dir/wh"
    def table(v: Int, name: String) = spark.read.parquet(s"$base/v$v/$name")
    val airlines = (1 to 3).map(v => table(v, "dim_airline").count())
    assert(airlines == Seq(1L, 2L, 2L), airlines)
    for (v <- 1 to 3) {
      assert(new java.io.File(s"$base/v$v/_COMMITTED").exists)
      val fact = table(v, "fact")
      val joined = LoadCycle.curatedView(LoadCycle.Warehouse(
        table(v, "dim_airline"), table(v, "dim_airport"),
        table(v, "dim_route"), fact, fact))
      assertSameRows(table(v, "curated"), joined)
    }
    val statuses = table(3, "curated").select("flight_key", "status", "airline_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(statuses == Set(("c_k1", "landed", "American"),
      ("c_k2", "active", "United")))
    // the sink's warehouse serves the stored view of the newest version
    assert(LoadCycle.curatedView(sink.warehouse).inputFiles
      .forall(_.contains("/wh/v3/curated/")))
  }

  /** Equal as multisets over every column. */
  private def assertSameRows(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"got:\n${got.collect().mkString("\n")}\nwant:\n${want.collect().mkString("\n")}")
  }

  test("WarehouseSink.vacuum: keeps newest K committed, sweeps old + dead torn dirs") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("whvac").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val sink = new graft.stream.WarehouseSink(spark, s"$dir/wh")
    val q = sink.start(stage0(ms.toDF().withColumnRenamed("value", "json")),
      s"$dir/cp")
    // three cycles → v1..v3 committed
    (1 to 3).foreach { i =>
      ms.addData(event(s"v_k$i", ingest = f"2024-05-09T1$i%d:00:00Z"))
      q.processAllAvailable()
    }
    q.stop()
    // a torn dir OLDER than the newest committed version: dead, sweepable
    new java.io.File(s"$dir/wh/v2a").mkdirs() // non-matching name ignored
    val torn = new java.io.File(s"$dir/wh/v2/fact_torn"); torn.mkdirs()
    new java.io.File(s"$dir/wh/v2/_COMMITTED").delete() // v2 now "torn"

    val deleted = sink.vacuum(keep = 2)
    // keep = {v3, v1? no: newest 2 COMMITTED = v3, v1} — v2 lost its
    // marker, so committed = {1, 3}; both retained, v2 swept as dead torn
    assert(deleted == Seq(2L))
    assert(!new java.io.File(s"$dir/wh/v2").exists)
    assert(new java.io.File(s"$dir/wh/v1/_COMMITTED").exists)
    assert(new java.io.File(s"$dir/wh/v3/_COMMITTED").exists)
    // now retire v1 too
    assert(sink.vacuum(keep = 1) == Seq(1L))
    assert(!new java.io.File(s"$dir/wh/v1").exists)
    // the current warehouse (v3) still reads
    assert(spark.read.parquet(s"$dir/wh/v3/fact").count() == 3)
  }

  test("incremental export drains the curated view by last_updated (§3.3)") {
    val staging = stage(Seq(
      event("x_k1", ingest = "2024-05-09T10:30:00Z"),
      event("x_k2", ingest = "2024-05-09T10:45:00Z")))
    val wh = LoadCycle.run(LoadCycle.emptyWarehouse(staging),
      cutoff("2024-05-09T12:00:00Z"))
    val view = LoadCycle.curatedView(wh)
      .withColumn("__ord", col("flight_key")) // unique order within equal last_updated
    val batches = graft.ops.Incremental.drainAll(view,
      col("last_updated"), Seq(col("last_updated"), col("__ord")),
      start = java.sql.Timestamp.from(java.time.Instant.EPOCH), n = 10)
    assert(batches.map(_.count()).sum == 2)
    assert(batches.head.select("flight_key").collect()
      .map(_.getString(0)).toSet == Set("x_k1", "x_k2"))
  }

  test("curated view denormalizes airline and both airports") {
    val staging = stage(Seq(event("k1", ingest = "2024-05-09T10:30:00Z")))
    val wh = LoadCycle.run(LoadCycle.emptyWarehouse(staging),
      cutoff("2024-05-09T12:00:00Z"))
    val v = LoadCycle.curatedView(wh).collect()(0)
    assert(v.getAs[String]("airline_name") == "American")
    assert(v.getAs[String]("dep_code") == "ORG")
    assert(v.getAs[String]("arr_code") == "DST")
    assert(v.getAs[String]("dep_airport_name") == "Origin Intl")
  }
}

package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.Row
import graft.expr.Timestamps
import graft.schema.FlightSchemas

/** The streaming core re-expressed Spark-natively: JSON value stream →
  * explicit-schema parse → timestamp normalization → status/retention/junk
  * filters → flat staging projection → foreachBatch append sink.
  * (/root/reference/apps/spark_app/flight_stream.py:93-344)
  *
  * The whole pipeline is a NARROW plan (no shuffle): parse + project +
  * filter fuse into one WholeStageCodegen span per micro-batch, so
  * throughput scales linearly with input partitions on a real cluster.
  *
  * `now` is injected (instead of `current_timestamp()`) so the 3-day
  * retention window is deterministic under test — SURVEY §7.4(1).
  */
object FlightStream {

  val KeepStatuses: Seq[String] =
    Seq("active", "landed", "arrived", "en-route", "enroute")

  /** The exact source format + options of the reference's subscription
    * (flight_stream.py:93-100), factored as data so the contract is
    * spec-assertable without a broker (KafkaContractSpec): latest
    * offsets, tolerate data loss. */
  val KafkaSourceFormat = "kafka"
  def kafkaSourceOptions(bootstrap: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> "latest",
      "failOnDataLoss" -> "false")

  /** The configured-but-not-loaded reader — the single code path
    * [[fromKafka]] loads from, exposed so a spec can assert the built
    * reader's format/options with no kafka jars on the classpath. */
  def kafkaReader(spark: org.apache.spark.sql.SparkSession, bootstrap: String,
      topic: String): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format(KafkaSourceFormat)
      .options(kafkaSourceOptions(bootstrap, topic))

  /** S3: the Kafka streaming source exactly as the reference subscribes
    * (flight_stream.py:93-100): value bytes → `json` string column ready
    * for [[parse]]. Broker I/O is not exercisable in this environment
    * (no kafka connector jars) — the reader CONTRACT is asserted by
    * KafkaContractSpec, and everything downstream of the `json` column
    * is covered by the MemoryStream specs, which feed the identical
    * `json`-column contract. */
  def fromKafka(spark: org.apache.spark.sql.SparkSession, bootstrap: String,
      topic: String): DataFrame =
    kafkaReader(spark, bootstrap, topic)
      .load()
      .select(col("value").cast("string").as("json"))

  /** S5: JDBC batch append with the reference's write options
    * (flight_stream.py:312-322). Per-partition connections; batchsize
    * bounds statement size. Exercised end-to-end against embedded
    * in-memory Derby (JdbcSinkSpec): round-trip, append accumulation,
    * multi-batch flushing with batchsize < row count. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
      user: String, password: String, batchSize: Int = 5000): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .option("batchsize", batchSize)
      .option("isolationLevel", "READ_COMMITTED")
      .mode("append").save()

  /** Parse raw JSON strings (the Kafka `value` payload) into the typed,
    * flattened, timestamp-normalized event frame. Works identically on a
    * batch or streaming DataFrame with a single `json` string column. */
  def parse(raw: DataFrame): DataFrame = {
    val ts = Seq(
      "dep_sched_ts" -> "departure.schedule",
      "dep_est_ts" -> "departure.estimated",
      "dep_act_ts" -> "departure.actual",
      "arr_sched_ts" -> "arrival.schedule",
      "arr_est_ts" -> "arrival.estimated",
      "arr_act_ts" -> "arrival.actual",
      "ingest_ts" -> "ingest_time")
    val flat = Seq(
      "airline_iata" -> "airline.iata", "airline_icao" -> "airline.icao",
      "airline_name" -> "airline.name",
      "flight_number" -> "flight.number", "flight_iata" -> "flight.iata",
      "flight_icao" -> "flight.icao",
      "dep_airport" -> "departure.airport",
      "dep_airport_iata" -> "departure.iata",
      "dep_airport_icao" -> "departure.icao",
      "dep_gate" -> "departure.gate", "dep_terminal" -> "departure.terminal",
      "arr_airport" -> "arrival.airport",
      "arr_airport_iata" -> "arrival.iata",
      "arr_airport_icao" -> "arrival.icao",
      "arr_terminal" -> "arrival.terminal", "arr_gate" -> "arrival.gate")
    // ONE select, not 25 withColumns — withColumn stacks projection nodes.
    raw.select(from_json(col("json"), FlightSchemas.eventSchema).as("r"))
      .select(col("r.*"))
      .select(col("*") +:
        (ts.map { case (as, src) => Timestamps.normalizeTs(col(src)).as(as) } ++
          Seq(col("departure.delay_min").cast("double").as("dep_delay_min"),
            col("arrival.delay_min").cast("double").as("arr_delay_min")) ++
          flat.map { case (as, src) => col(src).as(as) }): _*)
  }

  /** Typed variant of [[parse]]: the same explicit-schema JSON parse
    * surfaced as `Dataset[FlightEvent]` for callers who want compile-time
    * field access (schema drift = compile error, not a runtime NULL). */
  def parseTyped(raw: DataFrame): org.apache.spark.sql.Dataset[graft.schema.FlightEvent] = {
    import raw.sparkSession.implicits._
    raw.select(from_json(col("json"), FlightSchemas.eventSchema).as("r"))
      .select(col("r.*"))
      .as[graft.schema.FlightEvent]
  }

  /** Status allow-list + 3-day retention + junk guard
    * (flight_stream.py:238-268). */
  def filterRelevant(parsed: DataFrame, now: Column): DataFrame = {
    val threeDaysAgo = now - expr("INTERVAL 3 DAYS")
    def recent(c: String) = col(c).isNotNull && (col(c) >= threeDaysAgo)
    parsed
      .withColumn("status_lc", lower(col("status")))
      .filter(col("status_lc").isin(KeepStatuses: _*))
      .filter(recent("dep_sched_ts") || recent("arr_sched_ts") ||
        recent("dep_act_ts") || recent("arr_act_ts"))
      .filter(col("flight_key").isNotNull &&
        (col("dep_sched_ts").isNotNull || col("arr_sched_ts").isNotNull ||
          col("dep_act_ts").isNotNull || col("arr_act_ts").isNotNull))
  }

  /** Data-quality split: the rows [[filterRelevant]] drops, with a
    * diagnostic reason column — the quarantine/dead-letter side of the
    * ingest filter (the reference only logs+drops;
    * flight_stream.py:303-330). One pass, same predicates; the reason
    * is by diagnostic priority (status > key > timestamps > staleness),
    * not by [[filterRelevant]]'s filter order. */
  def quarantine(parsed: DataFrame, now: Column): DataFrame = {
    val threeDaysAgo = now - expr("INTERVAL 3 DAYS")
    def recent(c: String) = col(c).isNotNull && (col(c) >= threeDaysAgo)
    val anyTs = col("dep_sched_ts").isNotNull || col("arr_sched_ts").isNotNull ||
      col("dep_act_ts").isNotNull || col("arr_act_ts").isNotNull
    parsed
      .withColumn("status_lc", lower(col("status")))
      .withColumn("reject_reason",
        when(!col("status_lc").isin(KeepStatuses: _*) ||
          col("status_lc").isNull, lit("status_not_allowed"))
          .when(col("flight_key").isNull, lit("null_flight_key"))
          .when(!anyTs, lit("no_timestamps"))
          .when(!(recent("dep_sched_ts") || recent("arr_sched_ts") ||
            recent("dep_act_ts") || recent("arr_act_ts")), lit("stale"))
          .otherwise(lit(null).cast("string")))
      .filter(col("reject_reason").isNotNull)
  }

  /** Final 28-column staging projection with sink aliases
    * (flight_stream.py:284-301); ingest falls back to `now`. */
  def stagingProjection(filtered: DataFrame, now: Column): DataFrame =
    filtered.select(
      col("flight_key"),
      to_date(col("flight_date")).as("flight_date"),
      col("status_lc").as("status"),
      coalesce(col("ingest_ts"), now).as("ingest_time"),
      col("flight_number"), col("flight_iata"), col("flight_icao"),
      col("airline_iata"), col("airline_icao"), col("airline_name"),
      col("dep_airport"), col("dep_airport_iata"), col("dep_airport_icao"),
      col("dep_terminal"), col("dep_gate"),
      col("dep_sched_ts").as("dep_scheduled"),
      col("dep_est_ts").as("dep_estimated"),
      col("dep_act_ts").as("dep_actual"),
      col("dep_delay_min"),
      col("arr_airport"), col("arr_airport_iata"), col("arr_airport_icao"),
      col("arr_terminal"), col("arr_gate"),
      col("arr_sched_ts").as("arr_scheduled"),
      col("arr_est_ts").as("arr_estimated"),
      col("arr_act_ts").as("arr_actual"),
      col("arr_delay_min"))

  /** Full pipeline: raw json column → staging rows. */
  def pipeline(raw: DataFrame, now: Column): DataFrame =
    stagingProjection(filterRelevant(parse(raw), now), now)

  /** The staging sink (flight_stream.py:273-341) on [[Sinks.start]].
    * Each epoch owns the files `outDir/epoch-<id>-part-*`: the epoch is
    * written to a hidden `_epoch-<id>` directory, then its previous
    * files (from a run the checkpoint never committed) are deleted and
    * the new ones renamed into place. A replayed epoch therefore
    * replaces its rows instead of appending them again, and
    * `spark.read.parquet(outDir)` still reads one flat table with the
    * staging schema. */
  def startStagingSink(staged: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    Sinks.start(staged, checkpointDir) { (df, epochId) =>
      import org.apache.hadoop.fs.Path
      val (out, tmp) = (new Path(outDir), new Path(outDir, s"_epoch-$epochId"))
      df.write.mode("overwrite").parquet(tmp.toString)
      val fs = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      val owned = s"epoch-$epochId-"
      fs.listStatus(out).filter(_.getPath.getName.startsWith(owned))
        .foreach(st => fs.delete(st.getPath, false))
      fs.listStatus(tmp).filter(_.getPath.getName.startsWith("part-"))
        .foreach { st =>
          val to = new Path(out, owned + st.getPath.getName)
          if (!fs.rename(st.getPath, to))
            throw new java.io.IOException(s"staging: rename to $to failed")
        }
      fs.delete(tmp, true)
    }
}

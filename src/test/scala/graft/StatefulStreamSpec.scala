package graft

import java.sql.Timestamp
import java.time.{Duration, Instant}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.Analytics
import graft.stream.StatefulLatest

case class Obs(key: String, ts: Timestamp, value: Double)
case class Doc(doc_id: Long, ts: Timestamp, text: String)
case class Cdc(k: Long, old_grp: String, old_value: java.math.BigDecimal,
  new_grp: String, new_value: java.math.BigDecimal, change: String)

/** Stateful streaming semantics: flatMapGroupsWithState latest-per-key
  * with event-time TTL (streaming-native form of the loader's
  * DISTINCT ON + upsert), and Analytics.tumblingAgg running unchanged on
  * a watermarked stream (the batch/streaming-identical-plan claim).
  */
class StatefulStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.from(Instant.parse(s))

  test("streaming latestPerKey: latest wins, stale updates suppressed, TTL drops state") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Obs]
    val latest = StatefulLatest.latestPerKey[Obs](
      ms.toDS().withWatermark("ts", "0 seconds"),
      _.key, _.ts.getTime * 1000L, Duration.ofDays(3))
    val q = latest.writeStream.format("memory").queryName("latest_sink")
      .outputMode(OutputMode.Update).start()
    def sink() = spark.table("latest_sink").as[Obs].collect().toSeq

    // batch 1: two keys
    ms.addData(Obs("k1", t("2024-05-09T10:00:00Z"), 1.0),
      Obs("k2", t("2024-05-09T09:00:00Z"), 2.0))
    q.processAllAvailable()
    assert(sink().map(o => o.key -> o.value).toSet == Set("k1" -> 1.0, "k2" -> 2.0))

    // batch 2: stale k1 update suppressed; fresh k1 update emitted
    ms.addData(Obs("k1", t("2024-05-09T08:00:00Z"), 99.0))
    q.processAllAvailable()
    assert(sink().count(_.key == "k1") == 1) // no new emission for stale row
    ms.addData(Obs("k1", t("2024-05-09T11:00:00Z"), 3.0))
    q.processAllAvailable()
    assert(sink().filter(_.key == "k1").map(_.value).toSet == Set(1.0, 3.0))

    // advance the watermark > 3 days past k1/k2's latest → their state
    // times out (rows older than the watermark are late-dropped before the
    // state function, so expiry is observable as state-store shrinkage,
    // not as output: exactly the bounded-state property we need at scale)
    ms.addData(Obs("k9", t("2024-05-20T00:00:00Z"), 0.0))
    q.processAllAvailable() // watermark advances at end of this batch
    ms.addData(Obs("k10", t("2024-05-20T01:00:00Z"), 0.0))
    q.processAllAvailable() // timeouts fire during this batch
    val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    assert(stateRows == 2L, s"expected k1/k2 expired, k9/k10 live; got $stateRows")
    q.stop()
  }

  test("nearDupBandStream: near-dups emit no new bands, novel docs emit all") {
    import graft.stream.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Doc]
    val out = StreamDedup.nearDupBandStream(
      ms.toDF(), "doc_id", "text", "ts", "1 hour", n = 3, numHashes = 8)
    val q = out.writeStream.format("memory").queryName("neardup_sink")
      .outputMode(OutputMode.Append).start()
    def perDoc() = spark.table("neardup_sink")
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap

    // batch 1: two distinct docs → every band is first-seen (4 each)
    ms.addData(
      Doc(1L, t("2024-05-09T10:00:00Z"), "the quick brown fox jumps high"),
      Doc(2L, t("2024-05-09T10:01:00Z"), "entirely different words appear here now"))
    q.processAllAvailable()
    assert(perDoc() == Map(1L -> 4L, 2L -> 4L), perDoc().toString)

    // batch 2: an exact dup of doc 1 (identical signature → 0 new bands)
    // and a novel doc (4 new bands)
    ms.addData(
      Doc(3L, t("2024-05-09T10:02:00Z"), "the quick brown fox jumps high"),
      Doc(4L, t("2024-05-09T10:03:00Z"), "yet another unrelated sentence flows on"))
    q.processAllAvailable()
    val m = perDoc()
    assert(!m.contains(3L), s"exact dup emitted bands: $m")
    assert(m(4L) == 4L, m.toString)

    // band signatures match the BATCH LSH contract (bandTable itself)
    val batchBands = graft.ops.TextDedup.bandTable(
        graft.ops.TextDedup.minhashSignaturesNative(
          Seq((1L, "the quick brown fox jumps high")).toDF("doc_id", "text"),
          col("doc_id"), col("text"), 3, 8))
      .select("band_sig").as[String].collect().toSet
    val streamBands = spark.table("neardup_sink")
      .filter(col("doc_id") === 1L).select("band_sig")
      .as[String].collect().toSet
    assert(streamBands == batchBands, "stream/batch band contract diverged")
    q.stop()
  }

  test("hllRunningRegisters: streaming registers ≡ batch sketch on the same prefix") {
    import graft.ops.Sketch
    import graft.stream.StreamSketch
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Obs]
    val out = StreamSketch.hllRunningRegisters(
      ms.toDF(), Seq("key"), col("value"), b = 4)
    val q = out.writeStream.format("memory").queryName("hll_sink")
      .outputMode(OutputMode.Update).start()

    val batch1 = (1 to 40).map(i => Obs(s"g${i % 2}", t("2024-05-09T10:00:00Z"), (i % 13).toDouble))
    val batch2 = (1 to 40).map(i => Obs(s"g${i % 2}", t("2024-05-09T10:01:00Z"), (i % 29).toDouble))
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // registers are monotone: max over every emitted version per
    // (key, bucket) reconstructs the current sketch exactly
    val streamed = spark.table("hll_sink")
      .groupBy("key", "bucket").agg(max("reg").as("reg"))
    val batch = Sketch.hllRegisters(
      (batch1 ++ batch2).toDF(), Seq("key"), col("value"), b = 4)
    assert(streamed.collect().map(_.toString).sorted.toSeq ==
      batch.collect().map(_.toString).sorted.toSeq)
    // and so do the estimates derived from them
    val se = Sketch.hllEstimate(streamed, Seq("key"), b = 4)
      .collect().map(_.toString).sorted.toSeq
    val be = Sketch.hllEstimate(batch, Seq("key"), b = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(se == be && se.nonEmpty)
  }

  test("session_window aggregation on a watermarked stream") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Obs]
    val agg = Analytics.sessionWindowAgg(
      ms.toDF().withWatermark("ts", "0 seconds"), col("key"), col("ts"), "30 minutes")
    val q = agg.writeStream.format("memory").queryName("sess_sink")
      .outputMode(OutputMode.Append).start()
    // two events 10 min apart (one session), one 2h later (new session)
    ms.addData(Obs("u1", t("2024-05-09T10:00:00Z"), 1.0),
      Obs("u1", t("2024-05-09T10:10:00Z"), 1.0),
      Obs("u1", t("2024-05-09T12:00:00Z"), 1.0))
    q.processAllAvailable()
    // close all sessions by advancing the watermark far ahead
    ms.addData(Obs("zz", t("2024-05-10T00:00:00Z"), 0.0))
    q.processAllAvailable()
    ms.addData(Obs("zz2", t("2024-05-11T00:00:00Z"), 0.0))
    q.processAllAvailable()
    val u1 = spark.table("sess_sink").filter(col("user_id") === "u1")
      .orderBy("session_start").collect()
    assert(u1.length == 2)
    assert(u1(0).getAs[Long]("n_events") == 2L) // merged 10:00+10:10
    assert(u1(1).getAs[Long]("n_events") == 1L)
    q.stop()
  }

  test("mapGroupsWithState runningStats: per-key count/sum/latest across batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Obs]
    // 2h watermark delay: out-of-order rows within 2h are accepted (a
    // 0s watermark would late-drop them before the state function)
    val stats = StatefulLatest.runningStats[Obs](
      ms.toDS().withWatermark("ts", "2 hours"),
      _.key, _.ts.getTime * 1000L, _.value, Duration.ofDays(3))
    val q = stats.toDF("key", "n", "sum", "last")
      .writeStream.format("memory").queryName("stats_sink")
      .outputMode(OutputMode.Update).start()
    def latestFor(k: String) = spark.table("stats_sink")
      .filter(col("key") === k).orderBy(col("n").desc).collect()(0)

    ms.addData(Obs("k1", t("2024-05-09T10:00:00Z"), 2.0),
      Obs("k1", t("2024-05-09T11:00:00Z"), 3.0))
    q.processAllAvailable()
    var r = latestFor("k1")
    assert(r.getLong(1) == 2L && r.getDouble(2) == 5.0 && r.getDouble(3) == 3.0)

    // next batch: count/sum accumulate; `last` tracks max event time,
    // so an out-of-order older row (within the watermark delay: the
    // post-batch-1 watermark is 09:00) must NOT displace it
    ms.addData(Obs("k1", t("2024-05-09T09:30:00Z"), 100.0))
    q.processAllAvailable()
    r = latestFor("k1")
    assert(r.getLong(1) == 3L && r.getDouble(2) == 105.0 && r.getDouble(3) == 3.0)
    q.stop()
  }

  test("stream-stream interval join: matches within gap, state evicted by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val dep = MemoryStream[Obs]
    val arr = MemoryStream[Obs]
    val joined = graft.stream.StreamJoin.intervalJoin(
      dep.toDF().withWatermark("ts", "0 seconds")
        .select(col("key"), col("ts").as("dep_ts"), col("value").as("dep_v")),
      arr.toDF().withWatermark("ts", "0 seconds")
        .select(col("key"), col("ts").as("arr_ts"), col("value").as("arr_v")),
      "key", "dep_ts", "arr_ts", "4 hours")
    // single unambiguous key column survives the join
    assert(joined.columns.count(_ == "key") == 1)
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode(OutputMode.Append).start()

    dep.addData(Obs("f1", t("2024-05-09T10:00:00Z"), 1.0))
    arr.addData(Obs("f1", t("2024-05-09T12:00:00Z"), 2.0)) // within 4h → match
    arr.addData(Obs("f1", t("2024-05-09T19:00:00Z"), 3.0)) // 9h later → no match
    q.processAllAvailable()
    val rows = spark.table("ssj_sink").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("arr_v") == 2.0)
    assert(rows(0).getAs[String]("key") == "f1") // key projectable by name

    // watermark far ahead on both sides → join state drains
    dep.addData(Obs("zz", t("2024-06-01T00:00:00Z"), 0.0))
    arr.addData(Obs("zz", t("2024-06-01T00:00:00Z"), 0.0))
    q.processAllAvailable()
    dep.addData(Obs("zz2", t("2024-06-02T00:00:00Z"), 0.0))
    arr.addData(Obs("zz2", t("2024-06-02T00:00:00Z"), 0.0))
    q.processAllAvailable()
    val st = q.lastProgress.stateOperators(0)
    assert(st.numRowsTotal <= 4L, // only the watermark-advancing sentinels live
      s"join state not evicted: ${st.numRowsTotal} rows")
    q.stop()
  }

  test("enrichStatic: per-batch broadcast dim lookup, misses survive as NULL") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Obs]
    val dim = Seq(("f1", "Alpha Air"), ("f2", "Beta Air"))
      .toDF("key", "airline_name")
    val q = graft.stream.StreamJoin.enrichStatic(ms.toDF(), dim, "key")
      .writeStream.format("memory").queryName("enrich_sink")
      .outputMode(OutputMode.Append).start()
    ms.addData(Obs("f1", t("2024-05-09T10:00:00Z"), 1.0),
      Obs("fX", t("2024-05-09T11:00:00Z"), 2.0))
    q.processAllAvailable()
    val rows = spark.table("enrich_sink").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("airline_name"))
      .toMap
    assert(rows == Map("f1" -> "Alpha Air", "fX" -> null))
    // stateless: no streaming state operator exists for this query
    assert(q.lastProgress.stateOperators.isEmpty)
    q.stop()
  }

  test("StreamMv: CDC batches maintain the view; streaming ≡ direct aggregate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dec(d: Double) = new java.math.BigDecimal(d).setScale(4)
    val ms = MemoryStream[Cdc]
    // initial view: g1 has 2 rows totalling 30, g2 has 1 row of 5
    val initial = Seq(("g1", 2L, dec(30.0)), ("g2", 1L, dec(5.0)))
      .toDF("grp", "n", "sum_v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("mv").toString
    val (q, view) = graft.stream.StreamMv.start(
      ms.toDF(), initial, "grp", "value", dir)
    def snapshot() = view().as[(String, Long, java.math.BigDecimal)]
      .collect().map(r => r._1 -> ((r._2, r._3.setScale(4)))).toMap

    // batch 1: insert into g1, update moves a row g1 → g3
    ms.addData(
      Cdc(10L, null, null, "g1", dec(7.0), "insert"),
      Cdc(11L, "g1", dec(10.0), "g3", dec(11.0), "update"))
    q.processAllAvailable()
    assert(snapshot() == Map(
      "g1" -> ((2L, dec(27.0))), // +1 insert(7), -1 moved(10)
      "g2" -> ((1L, dec(5.0))),
      "g3" -> ((1L, dec(11.0)))))

    // batch 2: delete empties g2 — the group leaves the view
    ms.addData(Cdc(12L, "g2", dec(5.0), null, null, "delete"))
    q.processAllAvailable()
    assert(snapshot() == Map(
      "g1" -> ((2L, dec(27.0))), "g3" -> ((1L, dec(11.0)))))
    q.stop()
  }

  test("backpressure: maxFilesPerTrigger bounds each micro-batch (ST7)") {
    val dir = java.nio.file.Files.createTempDirectory("bp").toString
    import spark.implicits._
    // three single-file "topic segments"
    (1 to 3).foreach { i =>
      Seq(Obs(s"k$i", t(s"2024-05-09T0$i:00:00Z"), i.toDouble)).toDS()
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Obs]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/*")
      .writeStream
      .option("checkpointLocation", s"$dir/cp")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }: Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(batches.sum == 3L)
    assert(batches.forall(_ <= 1L), s"batch sizes: $batches") // rate held
    assert(batches.count(_ == 1L) == 3)
  }

  test("Trigger.AvailableNow drains pending data then stops on its own") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Obs]
    ms.addData(Obs("a", t("2024-05-09T10:00:00Z"), 1.0),
      Obs("b", t("2024-05-09T11:00:00Z"), 2.0))
    val q = ms.toDF().writeStream.format("memory").queryName("avnow_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append).start()
    q.awaitTermination(30000) // self-terminates after draining
    assert(!q.isActive)
    assert(spark.table("avnow_sink").count() == 2)
  }

  test("tumblingAgg runs unchanged on a watermarked stream (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Obs]
    val agg = Analytics.tumblingAgg(
      ms.toDF().withWatermark("ts", "0 seconds"), col("ts"), "1 day", col("value"))
    val q = agg.writeStream.format("memory").queryName("win_sink")
      .outputMode(OutputMode.Append).start()

    ms.addData(Obs("a", t("2024-05-09T10:00:00Z"), 1.0),
      Obs("b", t("2024-05-09T11:00:00Z"), 2.5))
    q.processAllAvailable()
    // window not closed yet → nothing appended
    assert(spark.table("win_sink").isEmpty)

    // an event a day later closes the 05-09 window
    ms.addData(Obs("c", t("2024-05-10T00:00:01Z"), 7.0))
    q.processAllAvailable()
    val rows = spark.table("win_sink").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Timestamp]("window_start") == t("2024-05-09T00:00:00Z"))
    assert(rows(0).getAs[Long]("n") == 2L)
    assert(rows(0).getAs[Double]("sum_measure") == 3.5)
    q.stop()
  }

  test("streaming budget admission: per-source quota, deterministic " +
    "within batch, exhausted sources stay closed") {
    implicit val sqlCtx = spark.sqlContext
    case class D(src: String, id: Long, sz: Long)
    val ms = MemoryStream[(String, Long, Long)]
    val admitted = graft.stream.StreamBudget.admitWithinBudget[(String, Long, Long)](
      ms.toDS(), _._1,
      r => java.security.MessageDigest.getInstance("MD5")
        .digest(r._2.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString,
      _._3, budget = 250L)
    val q = admitted.writeStream.format("memory").queryName("budget_sink")
      .outputMode(OutputMode.Append).start()
    def sink() = spark.table("budget_sink")
      .as[(String, Long, Long)].collect().toSeq

    // batch 1: s0 has 100+100+100 in md5(id) order — only two fit 250
    ms.addData(("s0", 1L, 100L), ("s0", 2L, 100L), ("s0", 3L, 100L),
      ("s1", 4L, 250L))
    q.processAllAvailable()
    val b1 = sink()
    assert(b1.count(_._1 == "s0") == 2, s"got $b1")
    assert(b1.count(_._1 == "s1") == 1) // exactly fills its budget
    // the two admitted s0 ids are the FIRST two in md5 order of {1,2,3}
    def h(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = Seq(1L, 2L, 3L).sortBy(h).take(2).toSet
    assert(b1.filter(_._1 == "s0").map(_._2).toSet == expect)

    // batch 2: s0 overflowed in batch 1 (cum charged to 300 by the
    // prefix-cut rule), so NOTHING later is admitted — not even docs
    // that would individually fit; s1 is exhausted for good
    ms.addData(("s0", 5L, 60L), ("s0", 6L, 50L), ("s1", 7L, 1L))
    q.processAllAvailable()
    val b2 = sink()
    assert(b2.map(_._2).toSet == b1.map(_._2).toSet, s"got $b2")

    // state: one row per source, no TTL growth
    assert(q.lastProgress.stateOperators(0).numRowsTotal == 2L)
    q.stop()
  }
}

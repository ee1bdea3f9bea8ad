package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The durable-monitor-state contract (ADVICE r10): the cumulative
  * foreachBatch sinks must survive a query RESTART (offsets resume →
  * state must resume too, not reset) and absorb an at-least-once epoch
  * REPLAY (merge exactly once). */
class MonitorStateSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("MonitorState: commit/reload round-trip, replay guard, pruning") {
    val dir = java.nio.file.Files.createTempDirectory("monstate").toString
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.LongType))))
    val st = new graft.stream.MonitorState(spark, dir, empty)
    assert(!st.alreadyMerged(0L) && st.get.count() == 0L)
    import spark.implicits._
    st.commit(Seq((1L, 2L)).toDF("k", "c"), 0L)
    st.commit(Seq((1L, 5L), (2L, 1L)).toDF("k", "c"), 1L)
    st.commit(Seq((1L, 6L), (2L, 2L)).toDF("k", "c"), 2L)
    assert(st.alreadyMerged(2L) && st.isLast(2L) && !st.alreadyMerged(3L))
    // double-merge is structurally impossible
    intercept[IllegalArgumentException] {
      st.commit(Seq((9L, 9L)).toDF("k", "c"), 2L)
    }
    // a FRESH handle over the same dir resumes the last committed state
    val st2 = new graft.stream.MonitorState(spark, dir, empty)
    assert(st2.alreadyMerged(2L) && st2.isLast(2L))
    assert(st2.get.orderBy("k").collect().map(_.toString).toSeq ==
      Seq("[1,6]", "[2,2]"))
    // pruning keeps {prev, last} only
    val kept = new java.io.File(dir).list().filter(_.startsWith("e="))
    assert(kept.sorted.toSeq == Seq("e=1", "e=2"), kept.mkString(","))
  }

  /** One sink on [[graft.stream.Sinks.additive]], fed comma-separated
    * `rows` through a MemoryStream: `start` projects the stream's
    * `value` column into the columns its sink reads. */
  private case class AdditiveCase(name: String, rows: Seq[String],
      start: (DataFrame, String, (DataFrame, Long) => Unit) =>
        StreamingQuery)

  /** Comma-separated fields of `value` as string columns; an empty
    * field is NULL. */
  private def fields(raw: DataFrame, names: String*): DataFrame = {
    val parts = split(col("value"), ",")
    raw.select(names.zipWithIndex.map { case (n, i) =>
      when(parts.getItem(i) =!= "", parts.getItem(i)).as(n) }: _*)
  }

  private lazy val additiveCases: Seq[AdditiveCase] = {
    import graft.stream.{StreamCuration => C, StreamSurvival => S}
    import spark.implicits._
    val periods = Seq(1, 1, 2, 3, 3, 3, 4, 5, 5, 6, 6, 6, 6).map(_.toString)
    val twoSample = (1 to 6).map(i => s"g,${i % 4}.0,e") ++
      (1 to 6).map(i => s"g,${i % 4 + 2}.0,a")
    val media = (1L to 12L).map(i => (i, s"media_payload_$i"))
      .toDF("media_id", "payload")
    val rnd = new scala.util.Random(43)
    def vec() = Seq.fill(4)(math.rint(rnd.nextGaussian() * 1000) / 1000)
    val index = (1L to 10L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val queries = (101 to 109).map(i => s"$i,${vec().mkString(";")}")
    Seq(
      AdditiveCase("changepoint", periods, (raw, ck, sink) =>
        C.startChangepointSink(fields(raw, "p"), "p", ck, sink)),
      AdditiveCase("trend", periods, (raw, ck, sink) =>
        C.startTrendSink(fields(raw, "p"), "p", ck, sink)),
      AdditiveCase("pettitt", periods, (raw, ck, sink) =>
        C.startPettittSink(fields(raw, "p"), "p", ck, sink)),
      AdditiveCase("cuped", Seq("u1,2024-01-01 00:00:00,1.5",
          "u1,2024-01-03 00:00:00,2.25", "u2,2024-01-01 00:00:00,0.5",
          "u2,2024-01-04 00:00:00,3.0", "u3,2024-01-03 00:00:00,1.0",
          "u4,2024-01-01 00:00:00,2.0", "u4,2024-01-05 00:00:00,4.5",
          "u5,2024-01-01 00:00:00,0.75", "u5,2024-01-06 00:00:00,1.25"),
        (raw, ck, sink) => C.startCupedSink(fields(raw, "u", "ts", "v"),
          "u", "ts", "v", "2024-01-02 00:00:00", ck, sink)),
      AdditiveCase("isotonic", Seq("0.1,true", "0.1,false", "0.1,false",
          "0.35,true", "0.35,true", "0.35,false", "0.6,true", "0.6,false",
          "0.85,true", "0.85,true", "0.85,false", "0.95,true"),
        (raw, ck, sink) => C.startIsotonicSink(fields(raw, "conf", "ok"),
          "conf", "ok", 4, ck, sink)),
      AdditiveCase("delong", Seq("0.2,false", "0.8,true", "0.4,false",
          "0.7,true", "0.5,true", "0.5,false", "0.9,true", "0.1,false",
          "0.6,false"),
        (raw, ck, sink) => C.startDelongSink(fields(raw, "s", "y"),
          "s", "y", ck, sink)),
      AdditiveCase("benford", Seq("1.23", "1.9", "2.5", "3.1", "9.9",
          "1.1", "4.2", "8.8", "12.5", "0.001"),
        (raw, ck, sink) => C.startBenfordSink(fields(raw, "v"), "v", ck,
          sink)),
      AdditiveCase("qini", Seq("true,10.0,true", "true,10.0,true",
          "false,10.0,false", "false,10.0,true", "true,1.0,false",
          "true,1.0,true", "false,1.0,false", "false,1.0,false",
          "true,6.0,true"),
        (raw, ck, sink) => C.startQiniSink(fields(raw, "t", "s", "y"),
          "t", "s", "y", 10.0, 2, ck, sink)),
      AdditiveCase("crossModalRecall",
        (1 to 12 by 2).map(i => s"$i,media_payload_$i"),
        (raw, ck, sink) => C.startCrossModalRecallSink(
          fields(raw, "doc_id", "payload"), "doc_id", "payload", media,
          "media_id", "payload", Seq(1, 5), ck, sink)),
      AdditiveCase("mmrDiversity", queries, (raw, ck, sink) =>
        C.startMmrDiversitySink(fields(raw, "vec_id", "v")
            .select(col("vec_id"),
              split(col("v"), ";").cast("array<double>").as("embedding")),
          "vec_id", "embedding", index, "vec_id", "embedding", 5, 3, 0.7,
          ck, sink)),
      AdditiveCase("privacy", Seq("X,1", "Y,2", "W,0", "W,1", "X,1",
          "W,2", ",0", "Y,2", ",2", "W,0"),
        (raw, ck, sink) => C.startPrivacySink(fields(raw, "g", "s"),
          Seq("g"), "s", 2L, 1.5, 0.5, ck, sink)),
      AdditiveCase("cvm", twoSample, (raw, ck, sink) =>
        C.startCvmSink(fields(raw, "grp", "x", "half"), "grp", "x", "half",
          ck, sink)),
      AdditiveCase("ks", twoSample, (raw, ck, sink) =>
        C.startKsSink(fields(raw, "grp", "x", "half"), "grp", "x", "half",
          ck, sink)),
      AdditiveCase("wasserstein", twoSample, (raw, ck, sink) =>
        C.startWassersteinSink(fields(raw, "grp", "x", "half"), "grp",
          "x", "half", ck, sink)),
      AdditiveCase("kaplanMeier", Seq("1,true", "1,true", "2,false",
          "3,true", "4,false", "3,true", "7,true", "5,false", "2,true"),
        (raw, ck, sink) => S.startKmSink(fields(raw, "dur", "ev"), "dur",
          "ev", ck, sink)),
      AdditiveCase("cumulativeIncidence", Seq("1,x", "2,y", "3,", "4,x",
          "2,x", "5,", "1,y", "7,x", "3,y"),
        (raw, ck, sink) => S.startCifSink(fields(raw, "dur", "cause"),
          "dur", "cause", ck, sink)))
  }

  private type Emissions =
    scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]

  /** Starts `c` over `ms` and `ckpt`, lets it finish any epoch the
    * checkpoint left uncommitted, then feeds `batches` one trigger
    * each; every emission is appended to `out` in order. */
  private def feed(c: AdditiveCase, ms: MemoryStream[String], ckpt: String,
      out: Emissions, batches: Seq[Seq[String]]): Unit = {
    val q = c.start(ms.toDF(), ckpt, (df, epoch) => out.synchronized {
      out += ((epoch, df.collect().map(_.toString).sorted.toSeq))
    })
    try {
      q.processAllAvailable()
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
  }

  private def thirds(rows: Seq[String]): Seq[Seq[String]] = {
    val n = rows.size
    Seq(rows.take(n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
  }

  /** Each case's readout after all its rows arrive in ONE epoch. */
  private lazy val oneEpochReadout: Map[String, Seq[String]] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    additiveCases.map { c =>
      val out: Emissions = scala.collection.mutable.ArrayBuffer()
      feed(c, MemoryStream[String], tmpDir(s"${c.name}-one"), out,
        Seq(c.rows))
      c.name -> out.last._2
    }.toMap
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("additive sinks: a restart resumes the committed state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val failed = additiveCases.flatMap { c =>
      val ms = MemoryStream[String]
      val ckpt = tmpDir(s"${c.name}-restart")
      val out: Emissions = scala.collection.mutable.ArrayBuffer()
      val Seq(b1, b2, b3) = thirds(c.rows)
      feed(c, ms, ckpt, out, Seq(b1, b2))
      // a brand-new query (fresh sink call, fresh in-memory state) over
      // the same source and checkpoint: offsets resume past b1 and b2,
      // so only a durable state reload still counts them
      feed(c, ms, ckpt, out, Seq(b3))
      val want = oneEpochReadout(c.name)
      if (out.last._2 == want) None
      else Some(s"${c.name}: ${out.last._2} vs $want")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("additive sinks: a replayed epoch merges once and re-emits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val failed = additiveCases.flatMap { c =>
      val ms = MemoryStream[String]
      val ckpt = tmpDir(s"${c.name}-replay")
      val out: Emissions = scala.collection.mutable.ArrayBuffer()
      val Seq(b1, b2, b3) = thirds(c.rows)
      feed(c, ms, ckpt, out, Seq(b1, b2))
      val last = out.last
      // the state committed epoch `last`, the stream did not: the
      // restarted query runs that epoch again (at-least-once)
      dropLastCommit(ckpt)
      val before = out.size
      feed(c, ms, ckpt, out, Seq(b3))
      val want = oneEpochReadout(c.name)
      val replayed = out.lift(before)
      if (replayed.contains(last) && out.last._2 == want) None
      else Some(s"${c.name}: replay $replayed vs $last; final " +
        s"${out.last._2} vs $want")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("startCvmSink (23rd sink): each emission ≡ batch cvmDrift over " +
    "all arrived rows under shuffled batch splits; restart resumes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // expected arm ~ uniform values, actual arm shifted: reject fires
    val eRows = (1 to 40).map(i => ("g", (i % 10).toDouble, "e"))
    val aRows = (1 to 40).map(i => ("g", (i % 10).toDouble + 4.0, "a"))
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(11)).shuffle(eRows ++ aRows)
    def run(batches: Seq[Seq[(String, Double, String)]],
        ckpt: String): Seq[String] = {
      val ms = MemoryStream[(String, Double, String)]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val q = graft.stream.StreamCuration.startCvmSink(
        ms.toDF().toDF("grp", "x", "half"), "grp", "x", "half", ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.orderBy(col("grp")).collect()
            .map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val want = graft.ops.Analytics.cvmDrift(
      eRows.toDF("grp", "x", "half"), aRows.toDF("grp", "x", "half"),
      col("grp"), col("x"))
      .orderBy(col("grp")).collect().map(_.toString).toSeq
    val ck1 = java.nio.file.Files.createTempDirectory("cvm1").toString
    val ck2 = java.nio.file.Files.createTempDirectory("cvm2").toString
    val a = run(Seq(all.take(30), all.slice(30, 55), all.drop(55)), ck1)
    val b = run(Seq(all.reverse.take(44), all.reverse.drop(44)), ck2)
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    // the shifted arm must actually trip the 5% criterion
    assert(want.head.contains("true"))
  }

  test("startTrendSink (24th sink): each emission ≡ batch mannKendall " +
    "over all arrived events under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // a rising daily series: day d gets d events (clear upward trend)
    val events = (1L to 12L).flatMap(d => Seq.fill(d.toInt)(d))
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(5)).shuffle(events)
    def run(batches: Seq[Seq[Long]]): Seq[String] = {
      val ms = MemoryStream[Long]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val ckpt = java.nio.file.Files.createTempDirectory("trend").toString
      val q = graft.stream.StreamCuration.startTrendSink(
        ms.toDF().toDF("d"), "d", ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.collect().map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val want = graft.ops.Analytics.mannKendall(
      all.toDF("d").groupBy(col("d").as("p"))
        .agg(count(lit(1)).cast("double").as("y")),
      col("p"), col("y")).collect().map(_.toString).toSeq
    val a = run(Seq(all.take(30), all.slice(30, 60), all.drop(60)))
    val b = run(Seq(all.reverse.take(11), all.reverse.drop(11)))
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    assert(want.head.contains("increasing"))
  }

  test("startKsSink (25th sink): each emission ≡ batch ksDrift over " +
    "all arrived rows under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val eRows = (1 to 40).map(i => ("g", (i % 10).toDouble, "e"))
    val aRows = (1 to 40).map(i => ("g", (i % 10).toDouble + 4.0, "a"))
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(13)).shuffle(eRows ++ aRows)
    def run(batches: Seq[Seq[(String, Double, String)]],
        ckpt: String): Seq[String] = {
      val ms = MemoryStream[(String, Double, String)]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val q = graft.stream.StreamCuration.startKsSink(
        ms.toDF().toDF("grp", "x", "half"), "grp", "x", "half", ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.orderBy(col("grp")).collect()
            .map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val want = graft.ops.Analytics.ksDrift(
      eRows.toDF("grp", "x", "half"), aRows.toDF("grp", "x", "half"),
      col("grp"), col("x"))
      .orderBy(col("grp")).collect().map(_.toString).toSeq
    val ck1 = java.nio.file.Files.createTempDirectory("ks1").toString
    val ck2 = java.nio.file.Files.createTempDirectory("ks2").toString
    val a = run(Seq(all.take(25), all.slice(25, 60), all.drop(60)), ck1)
    val b = run(Seq(all.reverse.take(37), all.reverse.drop(37)), ck2)
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
  }

  test("startWassersteinSink (26th sink): each emission ≡ batch " +
    "wassersteinDrift over all arrived rows under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val eRows = (1 to 40).map(i => ("g", (i % 10).toDouble, "e"))
    val aRows = (1 to 40).map(i => ("g", (i % 10).toDouble + 4.0, "a"))
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(17)).shuffle(eRows ++ aRows)
    def run(batches: Seq[Seq[(String, Double, String)]],
        ckpt: String): Seq[String] = {
      val ms = MemoryStream[(String, Double, String)]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val q = graft.stream.StreamCuration.startWassersteinSink(
        ms.toDF().toDF("grp", "x", "half"), "grp", "x", "half", ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.orderBy(col("grp")).collect()
            .map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val want = graft.ops.Analytics.wassersteinDrift(
      eRows.toDF("grp", "x", "half"), aRows.toDF("grp", "x", "half"),
      col("grp"), col("x"))
      .orderBy(col("grp")).collect().map(_.toString).toSeq
    val ck1 = java.nio.file.Files.createTempDirectory("w11").toString
    val ck2 = java.nio.file.Files.createTempDirectory("w12").toString
    val a = run(Seq(all.take(25), all.slice(25, 60), all.drop(60)), ck1)
    val b = run(Seq(all.reverse.take(37), all.reverse.drop(37)), ck2)
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    // the +4 shift on a 0..9 grid reads EXACTLY the shift magnitude
    assert(want.head.contains(",4.0]"), s"w1 should be 4.0: $want")
  }

  test("startPettittSink (27th sink): each emission ≡ batch pettitt " +
    "over all arrived events under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // a clear level shift: days 1-6 get 2 events, days 7-12 get 9
    val events = (1L to 12L).flatMap(d =>
      Seq.fill(if (d <= 6) 2 else 9)(d))
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(23)).shuffle(events)
    def run(batches: Seq[Seq[Long]]): Seq[String] = {
      val ms = MemoryStream[Long]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val ckpt = java.nio.file.Files.createTempDirectory("ptt").toString
      val q = graft.stream.StreamCuration.startPettittSink(
        ms.toDF().toDF("d"), "d", ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.collect().map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val want = graft.ops.Analytics.pettitt(
      all.toDF("d").groupBy(col("d").as("p"))
        .agg(count(lit(1)).cast("double").as("y")),
      col("p"), col("y")).collect().map(_.toString).toSeq
    val a = run(Seq(all.take(20), all.slice(20, 45), all.drop(45)))
    val b = run(Seq(all.reverse.take(13), all.reverse.drop(13)))
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    // the split must land at the shift boundary (period 6)
    assert(want.head.contains(",6,"), s"split at day 6: $want")
  }

  test("startPrivacySink (28th sink): each emission ≡ the batch " +
    "privacy triad (k-anon + l-div + t-closeness) over all arrived " +
    "rows under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // X concentrated mid-grid, Y at the edge, W large and global-like
    val rows = Seq.fill(3)(("X", 1L)) ++ Seq.fill(3)(("Y", 2L)) ++
      Seq.fill(4)(("W", 0L)) ++ Seq.fill(4)(("W", 1L)) ++
      Seq.fill(4)(("W", 2L))
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(29)).shuffle(rows)
    val (kk, ll, tt) = (4L, 2.0, 0.4)
    def run(batches: Seq[Seq[(String, Long)]]): Seq[String] = {
      val ms = MemoryStream[(String, Long)]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val ckpt = java.nio.file.Files.createTempDirectory("priv").toString
      val q = graft.stream.StreamCuration.startPrivacySink(
        ms.toDF().toDF("g", "s"), Seq("g"), "s", kk, ll, tt, ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.orderBy(col("g")).collect()
            .map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val df = all.toDF("g", "s")
    val cells = df.groupBy(col("g").cast("string").as("g"),
        col("s").cast("long").as("__s"))
      .agg(count(lit(1)).as("nv"))
    val want = graft.ops.Quality.lDiversityFromCells(cells, Seq("g"), ll)
      .join(graft.ops.Quality.tClosenessFromCells(cells, Seq("g"), tt)
        .select(col("g"), col("emd"), col("close")), Seq("g"))
      .withColumn("k_anonymous", col("n_rows") >= kk)
      .orderBy(col("g")).collect().map(_.toString).toSeq
    val a = run(Seq(all.take(5), all.slice(5, 11), all.drop(11)))
    val b = run(Seq(all.reverse.take(8), all.reverse.drop(8)))
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    // the verdicts themselves: W is releasable on all three gates,
    // X fails size + diversity but sits mid-grid (t-close at 0.4),
    // Y fails all three
    // columns: g, n_rows, distinct_l, entropy_l, diverse, emd, close,
    // k_anonymous
    val m = want.map(s => s.drop(1).dropRight(1).split(",")).map(r =>
      r(0) -> ((r(6).toBoolean, r(4).toBoolean, r(7).toBoolean))).toMap
    assert(m("W") == ((true, true, true)), s"W: $m")   // close,div,kanon
    assert(m("X") == ((true, false, false)), s"X: $m")
    assert(m("Y") == ((false, false, false)), s"Y: $m")
  }

  test("startPrivacySink: a NULL-keyed quasi class survives the " +
    "readout — present in the released audit with the batch triad's " +
    "numbers (ADVICE r12)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the NULL class mirrors W's grid spread; the readout join is
    // null-safe, so it must emit ONE row for the null class per epoch
    val rows: Seq[(String, Long)] = Seq.fill(3)(("X", 1L)) ++
      Seq.fill(2)((null: String, 0L)) ++ Seq.fill(2)((null: String, 2L))
    val ms = MemoryStream[(String, Long)]
    val out =
      scala.collection.mutable.Map[Long, Seq[org.apache.spark.sql.Row]]()
    val ckpt = java.nio.file.Files.createTempDirectory("privnull").toString
    val q = graft.stream.StreamCuration.startPrivacySink(
      ms.toDF().toDF("g", "s"), Seq("g"), "s", 2L, 1.5, 0.6, ckpt,
      (df, epoch) => out.synchronized {
        out(epoch) = df.orderBy(col("g")).collect().toSeq
      })
    try {
      ms.addData(rows.take(4)); q.processAllAvailable()
      ms.addData(rows.drop(4)); q.processAllAvailable()
    } finally q.stop()
    val last = out.synchronized(out(out.keys.max))
    val nullRow = last.filter(_.isNullAt(0))
    assert(nullRow.length == 1,
      s"null class must appear exactly once: $last")
    // batch triad over the same rows, null-safe joined like the sink
    val cells = rows.toDF("g", "s")
      .groupBy(col("g").cast("string").as("g"),
        col("s").cast("long").as("__s"))
      .agg(count(lit(1)).as("nv"))
    val want = graft.ops.Quality.nsJoin(
        graft.ops.Quality.lDiversityFromCells(cells, Seq("g"), 1.5),
        graft.ops.Quality.tClosenessFromCells(cells, Seq("g"), 0.6)
          .select(col("g"), col("emd"), col("close")), Seq("g"))
      .withColumn("k_anonymous", col("n_rows") >= 2L)
      .orderBy(col("g")).collect().toSeq
    assert(last.map(_.toString) == want.map(_.toString),
      s"stream readout diverged:\n$last\nvs\n$want")
    // the null class's own verdicts: 4 rows over grid values {0,2}
    // (n=4 >= k=2; entropy-l = 2 >= 1.5)
    assert(nullRow.head.getLong(1) == 4L &&
      nullRow.head.getBoolean(4) && nullRow.head.getBoolean(7),
      s"null class verdicts: ${nullRow.head}")
  }

  test("startQiniSink (29th sink): each emission ≡ batch qiniFromGrid " +
    "over all arrived units binned against the SAME fixed scoreMax " +
    "under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the QualitySpec hand corpus: perfect targeting -> coef +0.5
    val rows = Seq(
      (true, 10.0, true), (true, 10.0, true),
      (false, 10.0, false), (false, 10.0, false),
      (true, 1.0, false), (true, 1.0, false),
      (false, 1.0, false), (false, 1.0, false))
    val all = scala.util.Random.javaRandomToRandom(
      new java.util.Random(31)).shuffle(rows)
    val (sMax, nb) = (10.0, 2)
    def run(batches: Seq[Seq[(Boolean, Double, Boolean)]]): Seq[String] = {
      val ms = MemoryStream[(Boolean, Double, Boolean)]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val ckpt = java.nio.file.Files.createTempDirectory("qini").toString
      val q = graft.stream.StreamCuration.startQiniSink(
        ms.toDF().toDF("t", "s", "y"), "t", "s", "y", sMax, nb, ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.orderBy(col("bin").desc).collect()
            .map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val df = all.toDF("t", "s", "y")
    val grid = df.select(col("t"),
        graft.ops.Analytics.qiniBin(col("s"), lit(sMax), nb).as("bin"),
        when(col("y"), 1L).otherwise(0L).as("yy"))
      .groupBy(col("bin"))
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("t"), col("yy")).otherwise(0L)).as("ct"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
        sum(when(!col("t"), col("yy")).otherwise(0L)).as("cc"))
    val want = graft.ops.Analytics.qiniFromGrid(grid)
      .orderBy(col("bin").desc).collect().map(_.toString).toSeq
    val a = run(Seq(all.take(3), all.slice(3, 6), all.drop(6)))
    val b = run(Seq(all.reverse.take(5), all.reverse.drop(5)))
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    // and the readout itself: the perfect-targeting coefficient
    assert(want.head.endsWith(",0.5]"), s"coef should be 0.5: $want")
  }

  test("startCrossModalRecallSink (30th sink): each emission ≡ the " +
    "batch recall@k grid of ALL arrived queries against the FIXED " +
    "index under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the serving index: 40 media docs, embedded + sign-bucketed once
    val index = (1L to 40L).map(i => (i, s"media_payload_$i"))
      .toDF("media_id", "payload")
    // arriving captions: 12 of the indexed docs re-arrive as queries
    val arrivals = scala.util.Random.javaRandomToRandom(
      new java.util.Random(37)).shuffle(
        (1L to 40L by 3L).map(i => (i, s"media_payload_$i")).toList)
    val ks = Seq(1, 5, 10)
    def run(batches: Seq[Seq[(Long, String)]]): Seq[String] = {
      val ms = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val ckpt = java.nio.file.Files.createTempDirectory("xmodal").toString
      val q = graft.stream.StreamCuration.startCrossModalRecallSink(
        ms.toDF().toDF("doc_id", "payload"), "doc_id", "payload",
        index, "media_id", "payload", ks, ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.orderBy(col("method"), col("k")).collect()
            .map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val corpus = graft.ops.Multimodal.crossModalCorpus(
      index, col("media_id"), col("payload"))
    val feats = arrivals.toDF("doc_id", "payload")
      .select(col("doc_id"),
        graft.ops.Multimodal.mediaFeatureArray(col("payload"))
          .as("feat"))
    val want = graft.ops.Multimodal.crossModalFromCells(
        graft.ops.Multimodal.crossModalHitCells(corpus,
          graft.ops.Multimodal.crossModalQueries(feats), ks))
      .orderBy(col("method"), col("k")).collect().map(_.toString).toSeq
    val a = run(Seq(arrivals.take(4), arrivals.slice(4, 9),
      arrivals.drop(9)))
    val b = run(Seq(arrivals.reverse.take(7), arrivals.reverse.drop(7)))
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    // the readout itself: 2 methods × 3 ks, every query counted, and
    // the flat baseline retrieves its own caption at k=10 for most
    // queries (the perturbation is ±0.125 on a 0..1 grid)
    assert(want.length == 6, s"grid shape: $want")
    val flat10 = want.map(s => s.drop(1).dropRight(1).split(","))
      .find(r => r(0) == "flat" && r(1) == "10").get
    assert(flat10(2).toLong == arrivals.length.toLong,
      s"n_queries must count every arrival: ${flat10.toSeq}")
    assert(flat10(4).toDouble >= 0.5,
      s"flat recall@10 collapsed: ${flat10.toSeq}")
  }

  test("startMmrDiversitySink (31st sink): each emission ≡ the batch " +
    "per-position MMR diversity grid of ALL arrived queries against " +
    "the FIXED index under shuffled batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the serving index: 40 real embeddings; arriving queries: 9 more
    // embeddings under shifted ids (no self-exclusion ambiguity)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(col("vec_id")).limit(49).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val index = emb.take(40).toSeq.toDF("vec_id", "embedding")
    val arrivals = scala.util.Random.javaRandomToRandom(
      new java.util.Random(41)).shuffle(
        emb.drop(40).map { case (id, v) => (id + 10000L, v) }.toList)
    val (shortlist, k, lambda) = (10, 4, 0.7)
    def run(batches: Seq[Seq[(Long, Seq[Double])]]): Seq[String] = {
      val ms = MemoryStream[(Long, Seq[Double])]
      val out = scala.collection.mutable.Map[Long, Seq[String]]()
      val ckpt = java.nio.file.Files.createTempDirectory("mmrdiv").toString
      val q = graft.stream.StreamCuration.startMmrDiversitySink(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        index, "vec_id", "embedding", shortlist, k, lambda, ckpt,
        (df, epoch) => out.synchronized {
          out(epoch) = df.orderBy(col("pos")).collect()
            .map(_.toString).toSeq
        })
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.synchronized(out(out.keys.max))
    }
    val want = graft.ops.Ann.mmrFromCells(
        graft.ops.Ann.mmrPositionCells(index,
          arrivals.toDF("vec_id", "embedding"), shortlist, k, lambda),
        lambda)
      .orderBy(col("pos")).collect().map(_.toString).toSeq
    val a = run(Seq(arrivals.take(3), arrivals.slice(3, 7),
      arrivals.drop(7)))
    val b = run(Seq(arrivals.reverse.take(5), arrivals.reverse.drop(5)))
    assert(a == want, s"split A diverged:\n$a\nvs\n$want")
    assert(b == want, s"split B diverged:\n$b\nvs\n$want")
    // readout shape: k positions, every query contributing at every
    // position (index depth 40 ≫ k), pos-1 redundancy exactly 0
    assert(want.length == k, s"grid shape: $want")
    val rows = want.map(_.drop(1).dropRight(1).split(","))
    assert(rows.forall(_(1).toLong == arrivals.length.toLong),
      s"n_queries must count every arrival at every pos: $want")
    assert(rows.head(3).toDouble == 0.0,
      s"pos-1 picks carry no redundancy penalty: ${rows.head.toSeq}")
    // later picks ARE penalized: the pos-2 mean max-sim is an actual
    // pairwise cosine (nonzero; can be NEGATIVE on synthetic
    // embeddings — λ<1 prefers anti-similar picks)
    assert(rows(1)(3).toDouble != 0.0, s"pos-2 maxsim: ${rows(1).toSeq}")
  }

  test("null-key state rows MERGE (not duplicate) across epochs — the " +
    "null-safe <=> merge contract, pinned on the trend sink") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // day "x" is uncastable → NULL period key every batch; the state
    // must carry exactly ONE null-key row however many epochs arrive
    val batches = Seq(Seq("1", "x", "2"), Seq("2", "x", "3"),
      Seq("x", "4", "1"))
    val ms = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("nullk").toString
    val q = graft.stream.StreamCuration.startTrendSink(
      ms.toDF().toDF("d"), "d", ckpt, (_, _) => ())
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    val st = spark.read.parquet(
      new java.io.File(ckpt + "/graft-monitor-state").listFiles()
        .filter(_.getName.startsWith("e=")).map(_.toString).max)
    val nullRows = st.filter(col("p").isNull).collect()
    assert(nullRows.length == 1,
      s"null key duplicated: ${nullRows.mkString(",")}")
    assert(nullRows(0).getLong(1) == 3L,
      s"null-key count should be 3: ${nullRows(0)}")
  }

}

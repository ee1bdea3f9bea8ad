package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT + codegen + parquet-footer caches, standard
    // steady-state benchmarking practice
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // the JSON ingest path compiles an outsized amount of generated code
    // (25-field parse + normalizer); warm it on a TINY topic so whichever
    // of q28/q46 runs first measures work, not one-time JIT
    try {
      val tiny = spark.read.format("flight_events")
        .option("rows", 2000L).option("partitions", cpus).load()
      graft.stream.FlightStream.pipeline(tiny.select(org.apache.spark.sql
          .functions.col("json")),
        org.apache.spark.sql.functions.lit(1700000000L + 1999L * 60L)
          .cast("timestamp")).count()
    } catch { case _: Throwable => }

    // This host's memory reclaim adds multi-second stalls at random, and
    // a stall window can poison EVERY back-to-back repeat of one query
    // (round-4 record: 3-4x inflation surviving best-of-3). Two defenses:
    //  1. converge-within-pass: repeat until the two fastest samples
    //     agree within 25% (min 2, max SPARK_GRAFT_BENCH_REPEAT=6 runs)
    //     instead of a blind fixed count — scattered stalls buy extra
    //     clean samples, steady queries still stop at 2-3;
    //  2. a time-separated second pass over the whole suite — a stall is
    //     a point event, so a sample taken a full suite later is
    //     decorrelated; the reported value is the min across both
    //     passes (plus one confirm run when pass 2 improves the min by
    //     >25%, i.e. pass 1 was entirely inside a stall window).
    // Failures report -1 immediately (deterministic, no retry value).
    val maxRep = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "6").toInt.max(2)
    // local-iteration filter, same contract as Verify's: unset = all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    // JOB COUNT is a first-class bench signal (VERDICT r13 #3): the
    // residual latency class is many-tiny-jobs chains (the former q155
    // greedy loop, the k-fold serve shelf), where wall ≈ jobs × per-job
    // scheduler latency — ~100 ms+/job on a real cluster, so a 40-job
    // query costs 4+ s there regardless of data volume. Per query the
    // record keeps the MIN jobs over clean samples; queries above
    // `jobsFlag` are named in the parsed line the way `bimodal` is.
    val jobsFlag =
      sys.env.getOrElse("SPARK_GRAFT_JOBS_FLAG", "25").toInt
    val listener = new RunListener
    spark.sparkContext.addSparkListener(listener)

    // two fastest samples within 25% of each other = a stable minimum
    def converged(ts: Seq[Double]): Boolean = ts.size >= 2 && {
      val s = ts.sorted; s(1) <= s(0) * 1.25
    }

    // per-query MIN job count over clean samples
    val jobsRec = scala.collection.mutable.Map[String, Int]()
    def timed(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      // drop persisted intermediates between runs: queries that
      // persist() (q46) would otherwise cache-hit the previous run and
      // the min would time a cache read, not the query; and drop the
      // artifacts this query owns, so each sample builds them (a reader
      // that runs before an artifact's owner builds it once)
      spark.catalog.clearCache()
      Artifacts.dropOwnedBy(name)
      listener.reset()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val (t, j) = ((System.nanoTime() - t0) / 1e9, listener.jobs.size)
        jobsRec.updateWith(name)(o => Some(o.fold(j)(math.min(_, j))))
        t
      } catch { case _: Throwable => -1.0 }
    }

    val bench = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val pass1 = bench.map { case (name, fn) =>
      var ts = Vector(timed(name, fn))
      if (ts.head >= 0) {
        while (!converged(ts) && ts.size < maxRep) ts :+= timed(name, fn)
      }
      name -> ts
    }
    // per query: ALL clean samples (pass 1 + time-separated pass 2)
    // plus the p50 basis. The min is the stall-resistant headline; the
    // p50 makes noise vs regression readable round-over-round without
    // a re-run. When pass 2 exposed pass 1 as stall-poisoned, the
    // poisoned samples must not enter the median — otherwise the p50
    // column reports the stall as steady-state and a later clean round
    // reads as a phantom recovery.
    def p50Of(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    var samples: Map[String, (Vector[Double], Vector[Double])] =
      bench.map { case (name, fn) =>
        val ts1 = pass1(name)
        if (ts1.exists(_ < 0))
          name -> ((Vector(-1.0), Vector(-1.0)))
        else {
          val m1 = ts1.min
          val t2 = timed(name, fn)
          val extra =
            if (t2 < 0) Vector.empty[Double]
            else if (t2 < m1 / 1.25) { // pass 1 was stall-poisoned
              val t3 = timed(name, fn)
              if (t3 < 0) Vector(t2) else Vector(t2, t3)
            } else Vector(t2)
          val basis =
            if (t2 >= 0 && t2 < m1 / 1.25) extra else ts1 ++ extra
          name -> ((ts1 ++ extra, basis))
        }
      }
    // RESCUE pass (the bench defends itself against noisy windows,
    // VERDICT r11 #1): any query whose recorded spread still exceeds
    // 1.5× (p50/min > 1.5 — a stall survived both passes) gets up to
    // two more time-separated samples IN THIS PROCESS before the
    // record is written; the extra samples join both the min and the
    // p50 basis. A genuinely slow query converges (p50 ≈ min) and is
    // left alone; only stall-shaped spread triggers the re-run.
    val suspects = samples.collect {
      case (n, (all, basis))
          if all.head >= 0 && all.min > 0 &&
            p50Of(basis) / all.min > 1.5 => n
    }.toVector
    for (name <- suspects) {
      val fn = bench(name)
      val extra = Vector(timed(name, fn), timed(name, fn)).filter(_ >= 0)
      if (extra.nonEmpty) {
        val (all, basis) = samples(name)
        samples = samples.updated(name, (all ++ extra, basis ++ extra))
      }
    }
    val results = samples.map { case (name, (all, basis)) =>
      if (all.exists(_ < 0) && all.min < 0) name -> ((-1.0, -1.0))
      else name -> ((all.min, p50Of(basis)))
    }
    // BIMODALITY names itself (VERDICT r12 #2): a query whose p50/min
    // still exceeds 2 AFTER the rescue pass is not host noise — point
    // stalls were given four time-separated chances to wash out — it
    // is a plan that executes two different ways run to run (the q331
    // AQE-coalesce class). The min-of-samples headline is RIGHT for
    // stall noise and WRONG for these: the min records the lucky mode.
    // Surfacing the list in the parsed line means the round-over-round
    // read cannot silently score a bimodal query at its rare fast mode.
    // The 1-second absolute-gap floor keeps sub-second queries out: a
    // genuine plan mode costs SECONDS (q331's was min 2.45/p50 8.90),
    // while a 0.3 s query doubles on scheduler jitter alone in any
    // noisy window (q51 at drift 1.31 — probed steady, no modes).
    val bimodal = results.collect {
      case (n, (v, p)) if v > 0 && p / v > 2.0 && p - v > 1.0 => n
    }.toVector.sorted
    def r3(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val p50s = results.map { case (k, (_, p)) => s"\"" + k + "\":" + r3(p) }
      .mkString("{", ",", "}")
    // both totals, named: total_min (sum of per-query min-of-samples —
    // the stall-resistant number; == "value" for continuity) and
    // total_p50 (sum of per-query p50s — the window-quality number).
    // total_p50/total_min >> 1 means the WINDOW was noisy, not the
    // queries: the round-over-round read no longer needs prose.
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val totalP50 = if (results.nonEmpty) results.values.map(_._2).sum else 0.0
    // host-drift indicator: the median over queries of p50/min. ~1.0 =
    // quiet host (medians sit on the mins); >>1 = memory-reclaim stalls
    // inflated repeat samples — read regressions against THIS, not prose
    val ratios = results.values.collect {
      case (v, p) if v > 0 && p > 0 => p / v
    }.toVector.sorted
    val driftMedian =
      if (ratios.isEmpty) 1.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0
    val bim = bimodal.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the many-tiny-jobs flag: queries whose steady-state job count
    // exceeds the threshold — each is a named scale hazard (wall on a
    // real cluster ≈ jobs × ~100 ms) to justify or pay down
    val jobsHi = jobsRec.toVector.collect {
      case (n, j) if j > jobsFlag => n
    }.sorted
    val jh = jobsHi.map("\"" + _ + "\"").mkString("[", ",", "]")
    val jm = jobsRec.toVector.sortBy(_._1)
      .map { case (k, j) => s"\"" + k + "\":" + j }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":${r3(total)},"total_p50":${r3(totalP50)},"queries":$qs,"p50":$p50s,"jobs":$jm,"p50_min_ratio_median":${r3(driftMedian)},"bimodal":$bim,"jobs_hi":$jh,"sf":"$sfDir"}"""
    // The driver artifact tail-truncates long stdout (BENCH_r06 lost its
    // head 38 timings) and its last-line parse must land on a COMPLETE
    // JSON object — so the per-query detail is ALWAYS durable in a file,
    // and additionally printed as the penultimate stdout line (never the
    // last; see below). A SPARK_GRAFT_ONLY-filtered run must NOT clobber
    // the full-suite record: partial runs land in BENCH_PARTIAL.json
    // unless an output path is given explicitly.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse(
      if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    // Stop Spark BEFORE the final print: spark.stop() can emit log lines
    // and must not follow the line the driver's tail parse reads.
    spark.stop()
    // Two stdout JSON lines, printed as the program's very last act
    // (VERDICT r14 #4 — give the driver per-query visibility):
    //  1. penultimate: the COMPLETE record (per-query min/p50/jobs maps,
    //     same bytes as the file artifact). If the driver's capture
    //     truncates, it truncates at the HEAD of the stream (the
    //     BENCH_r06 failure mode), so the compact last line survives
    //     whole either way and the per-query map is available whenever
    //     the capture is big enough.
    //  2. last: the <200-byte summary the driver's tail parse reads —
    //     this line must stay a complete JSON object and must stay
    //     LAST. sbt's "[success] Total time" epilogue is suppressed via
    //     showSuccess := false in build.sbt so this line IS the last
    //     stdout line of the bench step.
    println(full)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"total_min":${r3(total)},"total_p50":${r3(totalP50)},"p50_min_ratio_median":${r3(driftMedian)},"bimodal":$bim,"jobs_hi":$jh,"sf":"$sfDir"}""")
    System.out.flush()
  }
}

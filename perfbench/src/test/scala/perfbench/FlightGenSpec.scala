package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The load generator's contract: seeded determinism, the stated reject mix,
  * and payloads the ingest path can parse the way the checks expect. */
class FlightGenSpec extends AnyFunSuite {

  private def bytes(seed: Long, n: Int): Array[Byte] =
    new FlightGen(seed, 300).take(n).map(_.json).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("the same seed gives the same bytes; another seed does not") {
    assert(java.util.Arrays.equals(bytes(7, 5000), bytes(7, 5000)))
    assert(!java.util.Arrays.equals(bytes(7, 5000), bytes(8, 5000)))
  }

  test("each reject reason is exactly its stated share of every block") {
    val n = FlightGen.BlockSize * 500
    val evs = new FlightGen(42, 300).take(n)
    FlightGen.Reasons.foreach { r =>
      assert(evs.count(_.reason == r) == (n * FlightGen.rejectShare(r)).round,
        s"reason $r")
    }
    assert(evs.count(_.keep) == n - FlightGen.Reasons.size * n / FlightGen.BlockSize)
    evs.grouped(FlightGen.BlockSize).foreach { b =>
      assert(b.flatMap(e => Option(e.reason)).sorted.toSeq == FlightGen.Reasons.sorted)
    }
  }

  test("flights emit several snapshots with increasing ingest times") {
    val kept = new FlightGen(3, 50).take(20000).filter(_.keep)
    val byKey = kept.groupBy(_.key)
    assert(byKey.values.map(_.length).sum.toDouble / byKey.size > 2.5)
    byKey.values.foreach { s =>
      assert(s.map(_.ingestMicros).toSeq == s.map(_.ingestMicros).sorted.toSeq)
    }
    // across flights, arrival order is not ingest order
    val ingest = kept.map(_.ingestMicros)
    assert(ingest.sliding(2).count { case Array(a, b) => b < a } > kept.length / 10)
  }

  test("both dimension insert paths are exercised: IATA and ICAO-only rows") {
    val json = new FlightGen(5, 300).take(2000).filter(_.keep).map(_.json)
    assert(json.exists(_.contains("\"airline\":{\"iata\":null")))
    assert(json.exists(_.contains("\"airline\":{\"iata\":\"")))
    assert(json.exists(_.contains("\"airport\":\"Airport 4\",\"iata\":null")))
  }

  test("the ingest path rejects exactly the generated reasons and keeps the rest") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val evs = new FlightGen(11, 300).take(FlightGen.BlockSize * 100)
      val raw = evs.map(_.json).toSeq.toDF("json")
      val parsed = graft.stream.FlightStream.parse(raw)
      val reasons = graft.stream.FlightStream.quarantine(parsed, Streams.nowLit)
        .groupBy("reject_reason").count().as[(String, Long)].collect().toMap
      assert(reasons == evs.groupBy(_.reason).collect {
        case (r, es) if r != null => r -> es.length.toLong
      })
      val staged = graft.stream.FlightStream.pipeline(raw, Streams.nowLit)
        .select(col("flight_key"), col("status"), unix_micros(col("ingest_time")),
          unix_micros(col("dep_scheduled"))).collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.get(2)}|${r.get(3)}")
      assert(staged.sorted.toSeq == evs.filter(_.keep).map(_.stagingLine).sorted.toSeq)
    } finally spark.stop()
  }
}

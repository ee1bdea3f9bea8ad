package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.Flags

/** The reference's whole warehouse load cycle
  * (/root/reference/apps/loader/load_warehouse.py:308-329: nine SQL
  * statements, one transaction, one cutoff) as a single pure function
  * over DataFrames: staging slice → dim upserts (IATA path + ICAO-only
  * path, disjoint by F5) → route insert-if-absent → fact latest-wins
  * merge → staging purge.
  *
  * Differences from the reference, by design (SURVEY §7.4):
  * - surrogate keys are deterministic hashes of the row's natural key
  *   ([[graft.expr.Flags.surrogateId]]) instead of stateful IDENTITY;
  * - "transaction" = the caller swaps in the returned Warehouse
  *   atomically (compute-all-then-swap);
  * - the cutoff is an explicit parameter, taken once per cycle
  *   (load_warehouse.py:318-319) — also what makes cycles deterministic.
  *
  * Scale notes: every stage is one shuffle on its key with map-side
  * partial aggregation (latestPerKey is max_by), dims broadcast in the
  * fact-resolution joins, and the staging slice is computed once and
  * reused by every stage (strictly safer than the reference's
  * READ-COMMITTED re-reads — SURVEY §7.4(5)).
  */
object LoadCycle {

  /** All warehouse state; treat as immutable, swap wholesale per cycle.
    * `curated` is [[curatedView]] stored with this version, when a
    * committed version holds one ([[graft.stream.WarehouseSink]]); it
    * must then be exactly the join over these four tables. [[run]]
    * returns a version without one. */
  case class Warehouse(dimAirline: DataFrame, dimAirport: DataFrame,
      dimRoute: DataFrame, fact: DataFrame, staging: DataFrame,
      curated: Option[DataFrame] = None)

  /** Stable surrogate id: IATA identifies the row when present at insert,
    * otherwise ICAO (the reference's two insert paths,
    * load_warehouse.py:32-79) — so the id never changes when an ICAO-only
    * update later enriches an IATA row. */
  private def dimId(kind: String, iata: Column, icao: Column): Column =
    Flags.surrogateId(lit(kind),
      coalesce(concat(lit("i:"), iata), concat(lit("c:"), icao)))

  /** Empty dims/fact matching `staging`'s column types (first-cycle
    * bootstrap). Columns are in the order [[run]] returns them (a dim
    * upsert puts its last key, `icao`, first), so these schemas are the
    * ones every version's tables are written with. */
  def emptyWarehouse(staging: DataFrame): Warehouse = {
    val never = lit(false)
    val s = staging.filter(never)
    Warehouse(
      dimAirline = s.select(col("airline_icao").as("icao"),
        col("airline_iata").as("iata"), col("airline_name")),
      dimAirport = s.select(col("dep_airport_icao").as("icao"),
        col("dep_airport_iata").as("iata"), col("dep_airport").as("airport_name")),
      dimRoute = s.select(Flags.surrogateId(col("flight_key")).as("dep_airport_id"),
        Flags.surrogateId(col("flight_key")).as("arr_airport_id")),
      fact = factShape(s.withColumn("airline_id", lit(null).cast("long"))
        .withColumn("route_id", lit(null).cast("long")),
        lit(null).cast("timestamp")),
      staging = staging)
  }

  private val TimelineCols = Seq("flight_date", "status", "flight_number",
    "flight_iata", "flight_icao", "dep_airport_iata", "dep_airport_icao",
    "dep_terminal", "dep_gate", "dep_scheduled", "dep_estimated",
    "dep_actual", "dep_delay_min", "arr_airport_iata", "arr_airport_icao",
    "arr_terminal", "arr_gate", "arr_scheduled", "arr_estimated",
    "arr_actual", "arr_delay_min")

  /** The fact's columns, in the order [[Merge.factMerge]] returns them. */
  private def factShape(latest: DataFrame, lastUpdated: Column): DataFrame =
    latest.select(Seq(col("flight_key")) ++ TimelineCols.map(col) ++ Seq(
      lastUpdated.as("last_updated"), col("airline_id"), col("route_id"),
      col("ingest_time")): _*)

  /** One load cycle; returns the next warehouse version.
    *
    * `materialize` is applied to each dim right after its upsert. The
    * fact branch consumes every dim more than once (dim_airport alone
    * feeds route discovery plus dep/arr resolution of the latest rows) —
    * left lazy, each use re-runs the dim's whole dedup+merge sub-DAG and
    * the composed plan grows multiplicatively. Dims are broadcast-sized
    * by construction, so `_.persist()` (or a write-then-read swap, as
    * [[graft.stream.WarehouseSink]] does per version) is the intended
    * argument; the default keeps the function pure/lazy. */
  def run(wh: Warehouse, cutoff: Column,
      materialize: DataFrame => DataFrame = identity): Warehouse = {
    val slice = wh.staging.filter(col("ingest_time") <= cutoff)

    // ---- dim_airline (U1 IATA path, then U2 ICAO-only path; F5 split)
    val airlineSrc = slice.select(col("airline_iata").as("iata"),
      col("airline_icao").as("icao"), col("airline_name"), col("ingest_time"))
    val dimAirline = materialize(
      upsertDim(wh.dimAirline, airlineSrc, Seq("airline_name")))

    // ---- dim_airport: candidates from both ends of every flight
    val depSrc = slice.select(col("dep_airport_iata").as("iata"),
      col("dep_airport_icao").as("icao"), col("dep_airport").as("airport_name"),
      col("ingest_time"))
    val arrSrc = slice.select(col("arr_airport_iata").as("iata"),
      col("arr_airport_icao").as("icao"), col("arr_airport").as("airport_name"),
      col("ingest_time"))
    val dimAirport = materialize(
      upsertDim(wh.dimAirport, depSrc.unionByName(arrSrc),
        Seq("airport_name")))

    // ---- dim_route (J1 resolve both ends, D3 distinct, U3 insert-if-absent)
    // distinct the airport-code combos BEFORE resolving: route discovery
    // only needs each (dep, arr) code pair once, so the four dim joins
    // run over |distinct combos| rows (bounded by airports², with
    // map-side-combined distinct), not every staging row
    val rawPairs = slice.select(
      col("dep_airport_iata"), col("dep_airport_icao"),
      col("arr_airport_iata"), col("arr_airport_icao")).distinct()
    val withIds = resolveAirports(rawPairs, dimAirport)
    val newPairs = withIds
      .select(col("dep_airport_id"), col("arr_airport_id"))
      .filter(col("dep_airport_id").isNotNull && col("arr_airport_id").isNotNull)
      .distinct()
    val dimRoute = materialize(Merge.insertIfAbsent(wh.dimRoute, newPairs,
      Seq("dep_airport_id", "arr_airport_id")))

    // ---- fact (D2 latest per key, J2/J3 resolve ids, U4 merge)
    val factSrc = slice.filter(col("flight_key").isNotNull)
    val latest = Dedup.latestPerKeyTotal(factSrc,
      Seq("flight_key"), Seq("ingest_time"))
    val aResolved = Star.altKeyLookup(latest,
      dimAirline.select(col("iata"), col("icao"),
        dimId("airline", col("iata"), col("icao")).as("airline_id")),
      ("airline_iata", "iata"), ("airline_icao", "icao"),
      Seq(("airline_id", "airline_id")))
    val rResolved = resolveAirports(aResolved, dimAirport)
      .join(broadcast(dimRoute.select(col("dep_airport_id"), col("arr_airport_id"),
        Flags.surrogateId(lit("route"), col("dep_airport_id"),
          col("arr_airport_id")).as("route_id"))),
        Seq("dep_airport_id", "arr_airport_id"), "left")
    val incoming = factShape(rResolved, cutoff.cast("timestamp"))
    val fact = Merge.factMerge(wh.fact, incoming, Seq("flight_key"),
      overwriteCols = TimelineCols :+ "last_updated",
      coalesceCols = Seq("airline_id", "route_id"),
      greatestCols = Seq("ingest_time"))

    // ---- staging purge (U5)
    Warehouse(dimAirline, dimAirport, dimRoute, fact,
      Merge.purge(wh.staging, "ingest_time", cutoff))
  }

  /** The two-path dim upsert: latest-per-IATA upsert keyed `iata`, then
    * latest-per-ICAO upsert (IATA-NULL slice only) keyed `icao` — the
    * F5-disjoint rewrite of ON CONFLICT + the NULL-unique workaround
    * (load_warehouse.py:32-79). NULL join keys never match (asserted by
    * MergeSpec), so the existing ICAO-only rows are untouched by path 1
    * and vice versa. */
  /** latestPerKey's contract needs a deterministic TOTAL order; staging
    * has no unique row id (equal ingest_times are common — every
    * unparsable ingest_ts in a batch gets the same `now` fallback), so
    * ties break on the full remaining payload, lexicographically —
    * [[Dedup.latestPerKeyTotal]]'s packed form (one struct through the
    * shuffle, not payload + full-payload ordering twice). */
  private def upsertDim(dim: DataFrame, src: DataFrame,
      dataCols: Seq[String]): DataFrame = {
    val cols = Seq("iata", "icao") ++ dataCols
    val srcIata = src.filter(col("iata").isNotNull)
    val byIata = Dedup.latestPerKeyTotal(srcIata,
      Seq("iata"), Seq("ingest_time")).select(cols.map(col): _*)
    val srcIcao = src.filter(col("iata").isNull && col("icao").isNotNull)
    val byIcao = Dedup.latestPerKeyTotal(srcIcao,
      Seq("icao"), Seq("ingest_time")).select(cols.map(col): _*)
    val afterIata = Merge.upsertCoalesce(dim, byIata, Seq("iata"))
    Merge.upsertCoalesce(afterIata, byIcao, Seq("icao"))
  }

  /** J1: resolve dep/arr airport surrogate ids — IATA lookup first,
    * ICAO lookup only when the IATA key is absent (two broadcast
    * equi-joins per end + coalesce; never an OR-join). */
  private def resolveAirports(df: DataFrame, dimAirport: DataFrame): DataFrame = {
    val dim = dimAirport.select(col("iata"), col("icao"),
      dimId("airport", col("iata"), col("icao")).as("airport_id"))
    val dep = Star.altKeyLookup(df, dim,
      ("dep_airport_iata", "iata"), ("dep_airport_icao", "icao"),
      Seq(("airport_id", "dep_airport_id")))
    Star.altKeyLookup(dep, dim,
      ("arr_airport_iata", "iata"), ("arr_airport_icao", "icao"),
      Seq(("airport_id", "arr_airport_id")))
  }

  /** J4: the curated denormalized view
    * (/root/reference/db/01_views.sql:44-83) — fact left-joined to
    * airline, route, and airport twice; broadcast dims. A version that
    * stores the view serves it; for any other this join is computed
    * (`wh.copy(curated = None)` forces the join). */
  def curatedView(wh: Warehouse): DataFrame = wh.curated.getOrElse {
    val airline = wh.dimAirline.select(
      dimId("airline", col("iata"), col("icao")).as("a_id"),
      col("iata").as("airline_iata_code"), col("airline_name"))
    val route = wh.dimRoute.select(
      Flags.surrogateId(lit("route"), col("dep_airport_id"),
        col("arr_airport_id")).as("r_id"),
      col("dep_airport_id").as("r_dep_id"), col("arr_airport_id").as("r_arr_id"))
    val airport = wh.dimAirport.select(
      dimId("airport", col("iata"), col("icao")).as("ap_id"),
      col("iata").as("ap_iata"), col("airport_name"))
    val dep = airport.select(col("ap_id").as("dep_ap_id"),
      col("ap_iata").as("dep_code"), col("airport_name").as("dep_airport_name"))
    val arr = airport.select(col("ap_id").as("arr_ap_id"),
      col("ap_iata").as("arr_code"), col("airport_name").as("arr_airport_name"))
    Star.denormalize(wh.fact, Seq(
      (airline, col("airline_id") === col("a_id")),
      (route, col("route_id") === col("r_id")),
      (dep, col("r_dep_id") === col("dep_ap_id")),
      (arr, col("r_arr_id") === col("arr_ap_id"))))
      .drop("a_id", "r_id", "r_dep_id", "r_arr_id", "dep_ap_id", "arr_ap_id")
  }
}

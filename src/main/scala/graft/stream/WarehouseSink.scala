package graft.stream

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ops.LoadCycle
import graft.ops.LoadCycle.Warehouse

/** Continuous warehouse maintenance: the reference's 60-second loader
  * loop (/root/reference/apps/loader/load_warehouse.py:331-346) as a
  * streaming sink — each micro-batch of staged rows runs one load cycle
  * against the current warehouse version.
  *
  * Two properties the reference delegates to Postgres, done Spark-side:
  * - **Transactionality (U6)**: compute-all-then-swap. Each cycle's
  *   dims/fact, and the curated view over them, are WRITTEN to a fresh
  *   versioned directory and re-read before the version pointer moves —
  *   readers see either version N or N+1, never a mix (SURVEY §7.4(5)).
  * - **Bounded lineage**: materializing per cycle also cuts the logical
  *   plan chain — without it, cycle N's plan nests all N−1 predecessors.
  *
  * Exactly-once: the checkpoint replays unacknowledged batches; replayed
  * rows are re-merged idempotently (latest-per-key, ST4) — asserted by
  * LoadCycleSpec's replay test.
  */
class WarehouseSink(spark: SparkSession, baseDir: String) {

  private val current = new AtomicReference[Warehouse]
  private var version = 0L

  def warehouse: Warehouse = current.get()

  private def fs() = new org.apache.hadoop.fs.Path(baseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A table of a version, read with the schema it was written with:
    * a read that infers the schema runs a job for the parquet footer. */
  private def read(dir: String, name: String, schema: StructType) =
    spark.read.schema(schema).parquet(s"$dir/$name")

  /** Writes version N: the four tables, then the curated view over the
    * re-read tables as a fifth, `curated`, so every read of version N
    * serves one scan instead of four joins. */
  private def materialize(wh: Warehouse): Warehouse = {
    version += 1
    val dir = s"$baseDir/v$version"
    def swap(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      read(dir, name, df.schema)
    }
    val next = Warehouse(
      swap(wh.dimAirline, "dim_airline"),
      swap(wh.dimAirport, "dim_airport"),
      swap(wh.dimRoute, "dim_route"),
      swap(wh.fact, "fact"),
      wh.staging)
    val curated = swap(LoadCycle.curatedView(next), "curated")
    // commit marker LAST: a version is recoverable only once all five
    // tables are fully written — a crash mid-materialize leaves an
    // uncommitted directory that recovery skips (and the next cycle's
    // version counter moves past, so it is never half-read)
    fs().create(new org.apache.hadoop.fs.Path(s"$dir/_COMMITTED"), true).close()
    next.copy(curated = Some(curated))
  }

  /** Latest COMMITTED version under `baseDir`, or 0 if none exist.
    * Partially-written versions (no `_COMMITTED` marker — the crash
    * window of [[materialize]]) are ignored for state recovery; the
    * version counter still advances past them so they are never
    * overwritten while a reader might hold them. */
  private def latestPersistedVersion(): (Long, Long) = {
    val path = new org.apache.hadoop.fs.Path(baseDir)
    val f = fs()
    if (!f.exists(path)) (0L, 0L)
    else {
      val versions = f.listStatus(path).iterator.map(_.getPath.getName)
        .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }.toSeq
      val committed = versions.filter(v =>
        f.exists(new org.apache.hadoop.fs.Path(s"$baseDir/v$v/_COMMITTED")))
      (committed.foldLeft(0L)(math.max), versions.foldLeft(0L)(math.max))
    }
  }

  /** Retention vacuum — the third lakehouse maintenance primitive next
    * to compaction ([[graft.ops.Layout.compactionBins]]) and clustering
    * ([[graft.ops.Layout.clusterByZ]]): delete all but the newest
    * `keep` COMMITTED versions. The newest `keep` are always retained
    * (readers may hold any of them); uncommitted (torn) directories
    * older than the newest committed version are dead by construction —
    * no reader ever saw them — and are swept too. Returns the deleted
    * version numbers. */
  def vacuum(keep: Int = 2): Seq[Long] = {
    require(keep >= 1, s"vacuum: keep=$keep must be >= 1")
    val f = fs()
    val path = new org.apache.hadoop.fs.Path(baseDir)
    if (!f.exists(path)) return Seq.empty
    val versions = f.listStatus(path).iterator.map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }.toSeq
    def committed(v: Long) =
      f.exists(new org.apache.hadoop.fs.Path(s"$baseDir/v$v/_COMMITTED"))
    val live = versions.filter(committed).sorted.takeRight(keep).toSet
    val newestCommitted = if (live.isEmpty) 0L else live.max
    val dead = versions.filterNot(live).filter(v =>
      committed(v) || v < newestCommitted).sorted
    dead.foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"$baseDir/v$v"), true)
    }
    dead
  }

  /** Start the loader: `staged` is the staging-projection stream
    * ([[FlightStream.pipeline]] output shape).
    *
    * Restart recovery: warehouse state must survive the JVM, or the
    * checkpoint (which skips already-committed batches) and the
    * process-local `current` disagree — the warehouse would silently
    * bootstrap empty and re-number versions over directories earlier
    * readers may still hold. Recover both from the newest `$baseDir/vN`
    * before consuming any batch. */
  def start(staged: DataFrame, checkpointDir: String): StreamingQuery = {
    val (recovered, newest) = latestPersistedVersion()
    if (current.get() == null) version = math.max(recovered, newest)
    // the declared shape of every table: the bootstrap warehouse, and the
    // schemas a recovered version is read with
    val shape = LoadCycle.emptyWarehouse(staged.sparkSession
      .createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        staged.schema))
    if (recovered > 0L && current.get() == null) {
      val dir = s"$baseDir/v$recovered"
      val wh = Warehouse(
        read(dir, "dim_airline", shape.dimAirline.schema),
        read(dir, "dim_airport", shape.dimAirport.schema),
        read(dir, "dim_route", shape.dimRoute.schema),
        read(dir, "fact", shape.fact.schema),
        shape.staging)
      // a version committed before the view was stored has none: it
      // serves the join. The view's schema is analysis only, no job.
      val curated =
        if (fs().exists(new org.apache.hadoop.fs.Path(s"$dir/curated")))
          Some(read(dir, "curated", LoadCycle.curatedView(wh).schema))
        else None
      current.compareAndSet(null, wh.copy(curated = curated))
    }
    current.compareAndSet(null, shape)
    Sinks.start(staged, checkpointDir) { (microBatch, _) =>
      // the cutoff and every LoadCycle branch read the batch: run the
      // source and the parse once. localCheckpoint, not persist(): the
      // branches then plan over a LogicalRDD instead of the whole
      // parse subtree (the qWarehouseCycle idiom)
      val batch = microBatch.localCheckpoint(true)
      // data-derived cutoff: everything in this batch loads this cycle
      val cutoff = batch.agg(max(col("ingest_time"))).first().getTimestamp(0)
      // dims are multi-consumer within the cycle: persist for its
      // duration, release once the version swap re-reads from parquet
      val cached = scala.collection.mutable.Buffer.empty[DataFrame]
      val next = LoadCycle.run(
        current.get().copy(staging = batch), lit(cutoff),
        materialize = { df => cached += df.persist(); df })
      current.set(materialize(next)) // atomic version swap
      cached.foreach(_.unpersist(blocking = false))
    }
  }
}

package graft.boatrace

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.warehouse.SnapshotTable

/** Streaming archive ingest — the reference's daily-cron re-run
  * (/root/reference/main.py:283-284 deletes the SQLite DB and rebuilds
  * the whole history to add one day) re-expressed as what it actually
  * is: a file-arrival stream. New `.lzh` archives dropped into a
  * watched directory are decoded (graft.sources.Lha, executor-side),
  * parsed (KbParser) and appended to the snapshot-table warehouse —
  * O(new archives) work per day instead of O(history), with the
  * reference's idempotence cache (SURVEY §2.1 S2) subsumed by two
  * stronger mechanisms:
  *
  *   - the file-stream CHECKPOINT remembers which archives were read
  *     (an archive is never parsed twice across restarts), and
  *   - every table commits its epoch through the one exactly-once
  *     rule, SnapshotTable.commitEpoch, so a retried foreachBatch
  *     epoch skips the tables it already committed.
  *
  * The race table cannot be built from a single batch: its join needs
  * the K file (env/result) AND the B file (schedule) of a date, and
  * nothing guarantees they arrive in the same micro-batch. So the base
  * tables append per batch, and the denormalized race table is
  * INCREMENTALLY REBUILT for only the dates the batch touched — read
  * back from the just-committed snapshots with a date-partition-pruned
  * scan, joined, and upserted by (レースID, 選手登番). A date whose B
  * file arrives a batch later simply gets its race rows completed
  * then. Work per epoch is O(batch + touched dates), never O(history).
  *
  * Scale: parse runs as a map over executor-distributed archive bytes
  * (BoatracePipeline.decodeParse, as in the batch build); the only driver
  * materialization is the touched DATE list (2 archives/date/day — a
  * daily feed is a handful of strings). At 100 TB of history the
  * per-epoch cost is unchanged: the snapshot scans below are pruned to
  * the touched dates by the `date` column the tables are stored with.
  */
object StreamingIngest {

  /** Start the ingest stream over `lzhDir`. Caller owns the returned
    * query (processAllAvailable/stop). Restarting with the same
    * checkpoint resumes exactly where the last run left off.
    *
    * `streamId` names this writer's epoch ledger
    * (SnapshotTable.ledger): give each writer, and each checkpoint
    * generation, its own id (see SnapshotTable.EpochLedger). */
  def start(spark: SparkSession, lzhDir: String, warehouseDir: String,
      checkpointDir: String, glob: String = "*.lzh",
      streamId: String = ""): StreamingQuery = {
    // streaming file sources require an explicit schema; binaryFile's
    // is fixed (path, modificationTime, length, content)
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", glob)
      .load(lzhDir)
      .select("path", "content")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, warehouseDir, batchId, streamId)
      }
      .start()
  }

  /** One epoch: decode+parse the new archives, append the four base
    * tables, rebuild the race table for the touched dates. Public so
    * the spec can drive it directly and so a batch backfill can reuse
    * the exact streaming code path. */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, batchId: Long,
      streamId: String = ""): Unit = {
    import spark.implicits._
    val ledger = SnapshotTable.ledger(streamId)
    val parsed = batch.select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        BoatracePipeline.decodeParse(path, bytes)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the touched-date list is tiny by construction (a feed batch is
      // a few archives); it drives partition pruning below
      val dates = parsed.map(_.date).distinct().collect().sorted
      if (dates.nonEmpty) {
        // a table this batch has no rows for (a K-only batch parses
        // zero schedules) commits nothing
        for ((t, df) <- BoatracePipeline.datedTables(spark, parsed))
          SnapshotTable.commitEpoch(spark, s"$warehouseDir/$t", ledger,
            batchId, df)
        rebuildRaceDates(spark, warehouseDir, dates, ledger, batchId)
      }
    } finally parsed.unpersist()
  }

  /** Rebuild the denormalized race rows for `dates` from the committed
    * base snapshots and upsert them — the incremental form of
    * BoatracePipeline.raceTable. */
  private def rebuildRaceDates(spark: SparkSession, warehouseDir: String,
      dates: Seq[String], ledger: SnapshotTable.EpochLedger,
      batchId: Long): Unit = {
    // a join side that has never committed (e.g. no B file has arrived
    // yet, so no schedule table exists) means no race row can form for
    // ANY date — nothing to rebuild this epoch; the dates complete
    // when that side's first archives land. The join can also be
    // empty for the touched dates; either way the epoch commits no
    // race rows.
    def part(t: String): Option[DataFrame] =
      SnapshotTable.readIfCommitted(spark, s"$warehouseDir/$t")
        .map(_.filter(col("date")
            .isInCollection(dates.map(java.sql.Date.valueOf)))
          .drop("date"))
    def race: DataFrame = (for {
      env <- part("env"); result <- part("result"); sched <- part("schedule")
    } yield BoatracePipeline.typedRace(
      BoatracePipeline.raceTable(env, result, sched)))
      .getOrElse(spark.emptyDataFrame)
    SnapshotTable.commitEpoch(spark, s"$warehouseDir/race", ledger, batchId,
      race, Seq("レースID", "選手登番"))
    ()
  }

  /** Read a warehouse table's CURRENT snapshot. */
  def table(spark: SparkSession, warehouseDir: String,
      name: String): DataFrame =
    SnapshotTable.read(spark, s"$warehouseDir/$name")
}

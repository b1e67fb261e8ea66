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
  *   - every table commit carries the epoch id in the SAME atomic
  *     pointer swap as the data (SnapshotTable commit meta), so a
  *     retried foreachBatch epoch skips tables it already committed —
  *     exactly-once appends, not at-least-once. The skip reads the
  *     durable per-version ledger newest-first
  *     (SnapshotTable.newestLedgerId — one control read in the
  *     steady state), so it holds even when an interleaved meta-less
  *     commit (an operator's compact) moves the pointer meta off the
  *     epoch id.
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
    * `streamId` namespaces this stream's ledger lines
    * (`<id>:batch=<n>` vs the default `batch=<n>`) — the same
    * per-writer namespacing the composed graph index uses (`ins:` /
    * `del:`), and the identity-rotation lever the exactly-once
    * contract needs: epoch ids are PER CHECKPOINT, so a second
    * stream writing this warehouse, or a stream restarted on a fresh
    * checkpoint over existing tables, re-counts from 0 and would
    * collide with the old ledger (its epochs silently skipped). Give
    * each writer — and each checkpoint GENERATION — its own id, the
    * `txnAppId` discipline of idempotent streaming sinks. */
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
    // per-writer ledger namespace (see start): ids are monotone only
    // WITHIN a stream generation, so the prefix scopes the skip
    val prefix =
      if (streamId.isEmpty) "batch=" else s"$streamId:batch="
    val ledger = Some(prefix + batchId)
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
        for ((t, df) <- BoatracePipeline.datedTables(spark, parsed)) {
          val dir = s"$warehouseDir/$t"
          // exactly-once against the per-version LEDGER, not just the
          // CURRENT pointer (round 20, the rule every streaming sink
          // follows): a pointer-equality check re-appends when an
          // interleaved meta-less commit (an operator's compact)
          // moves the pointer meta off the epoch id between a partial
          // apply and its crash-retry. Epoch ids are monotone, so the
          // newest `batch=` line decides at one control read.
          // An EMPTY table is not appended at all (a K-only batch
          // parses zero schedules): a first commit with zero data
          // files would make the snapshot unreadable, and skipping a
          // no-op loses nothing under retry.
          if (!SnapshotTable.newestLedgerId(dir, prefix)
              .exists(_ >= batchId) && !df.isEmpty)
            SnapshotTable.append(spark, df, dir, ledger)
        }
        rebuildRaceDates(spark, warehouseDir, dates, ledger, batchId,
          prefix)
      }
    } finally parsed.unpersist()
  }

  /** Rebuild the denormalized race rows for `dates` from the committed
    * base snapshots and upsert them — the incremental form of
    * BoatracePipeline.raceTable. */
  private def rebuildRaceDates(spark: SparkSession, warehouseDir: String,
      dates: Seq[String], ledger: Option[String], batchId: Long,
      prefix: String): Unit = {
    val raceDir = s"$warehouseDir/race"
    // same bounded-ledger skip as the base tables — re-running the
    // keyed upsert would be harmless (idempotent by key) but is a
    // full rebuild of the touched dates for nothing
    if (SnapshotTable.newestLedgerId(raceDir, prefix)
        .exists(_ >= batchId)) return
    // a join side that has never committed (e.g. no B file has arrived
    // yet, so no schedule table exists) means no race row can form for
    // ANY date — nothing to rebuild this epoch; the dates complete
    // when that side's first archives land
    def part(t: String): Option[DataFrame] =
      scala.util.Try(SnapshotTable.read(spark, s"$warehouseDir/$t")).toOption
        .map(_.filter(col("date")
            .isInCollection(dates.map(java.sql.Date.valueOf)))
          .drop("date"))
    val sides = for {
      env <- part("env"); result <- part("result"); sched <- part("schedule")
    } yield (env, result, sched)
    sides.foreach { case (env, result, sched) =>
      val race = BoatracePipeline.typedRace(
        BoatracePipeline.raceTable(env, result, sched))
      // All three sides committed, but the JOIN can still be empty for
      // the touched dates (e.g. the schedule table exists from earlier
      // dates yet has no rows for THIS batch's dates). Committing an
      // empty frame as the table's FIRST version would write a
      // zero-file manifest that SnapshotTable.read rejects for every
      // reader until a later non-empty rebuild — mirror the base-table
      // !isEmpty guard: skipping a no-op loses nothing under retry.
      val hasState =
        scala.util.Try(SnapshotTable.read(spark, raceDir)).isSuccess
      if (!race.isEmpty) {
        if (!hasState) SnapshotTable.overwrite(spark, race, raceDir, ledger)
        else SnapshotTable.upsert(spark, race, raceDir,
          Seq("レースID", "選手登番"), ledger)
      }
    }
  }

  /** Read a warehouse table's CURRENT snapshot. */
  def table(spark: SparkSession, warehouseDir: String,
      name: String): DataFrame =
    SnapshotTable.read(spark, s"$warehouseDir/$name")
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.warehouse.SnapshotTable

/** Online corpus ingest with LSH dedup AT THE GATE — the streaming
  * form of the d02/d11 operators and the shape a production
  * training-data intake actually runs: documents arrive continuously;
  * each micro-batch is deduped against itself and against everything
  * already accepted BEFORE it is appended, so the corpus is
  * near-dup-free at every point in time instead of being re-deduped
  * from scratch per crawl (the reference-style rebuild is O(corpus)
  * per day; this is O(batch)).
  *
  * State = two snapshot tables under `corpusDir`:
  *   - `corpus`: the accepted (doc_id, text) rows;
  *   - `sigs`: their MinHash signatures + shingle sets — the
  *     maintained LSH INDEX, so arriving batches never re-shingle the
  *     corpus (the index grows by exactly the accepted rows).
  *
  * Declared batch semantics (deterministic, one join each):
  *   - a doc is dropped if it confirmed-duplicates (Jaccard >= 0.5
  *     after LSH-band candidate generation, the exact d02 pipeline) a
  *     SMALLER-doc_id document in the same batch, or ANY document
  *     already accepted into the corpus;
  *   - both checks are conservative: a doc whose within-batch
  *     duplicate partner was itself dropped still drops — this can
  *     only over-drop near-dups, never leak one, so the invariant
  *     "the accepted corpus contains no confirmed near-dup pair"
  *     holds at every commit (pinned in the spec).
  *
  * Exactly-once: both tables commit through the one epoch rule,
  * SnapshotTable.commitEpoch, so a retried foreachBatch epoch skips
  * the tables it already committed (pinned in the spec).
  *
  * Scale: the batch side is a day's arrivals (small); the band join
  * against the corpus index shuffles on the short band key — per-epoch
  * cost is O(batch + matching bands), never O(corpus). The index rows
  * carry the shingle sets needed by the confirm join, so confirmation
  * ships only the candidate pairs' sets.
  */
object StreamingDedup {

  private val Bands = 4 // 4 bands x 2 rows over the 8 minhashes (= d02)

  /** Watch `docsDir` for parquet files of (doc_id, text) and ingest.
    *
    * `streamId` names this writer's epoch ledger
    * (SnapshotTable.ledger): give each writer, and each checkpoint
    * generation, its own id (see SnapshotTable.EpochLedger). */
  def start(spark: SparkSession, docsDir: String, corpusDir: String,
      checkpointDir: String, streamId: String = ""): StreamingQuery = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, corpusDir, batchId, streamId)
      }
      .start()
  }

  /** LSH band keys of a signature table (doc_id, sig). */
  private def bandsOf(sig: DataFrame): DataFrame = sig
    .select(col("doc_id"),
      explode(sequence(lit(0), lit(Bands - 1))).as("b"), col("sig"))
    .select(col("doc_id"), col("b"),
      concat(element_at(col("sig"), col("b") * 2 + 1).cast("string"),
        lit(":"),
        element_at(col("sig"), col("b") * 2 + 2).cast("string")).as("key"))

  private def jaccard(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** One epoch: dedup `batch` within itself and against the corpus,
    * append survivors + their index rows. Public so the spec and a
    * batch backfill drive the exact streaming code path. */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
      corpusDir: String, batchId: Long, streamId: String = ""): Unit = {
    val corpusTab = s"$corpusDir/corpus"
    val sigsTab = s"$corpusDir/sigs"
    if (batch.isEmpty) return
    // persisted for the epoch only and released before returning —
    // every consumer (both appends) materializes inside this epoch, so
    // unlike the query-layer builders no registry handoff is needed
    val bs = graft.functions.TextKernels
      .minhashSignatures(spark, batch.select("doc_id", "text"), 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val bBands = bandsOf(bs)
    // within-batch: confirmed dup of a smaller doc_id
    val a = bBands.select(col("b").as("ab"), col("key").as("ak"),
      col("doc_id").as("doc_a"))
    val c = bBands.select(col("b").as("cb"), col("key").as("ck"),
      col("doc_id").as("doc_b"))
    val selfCand = a.join(c, col("ab") === col("cb") &&
        col("ak") === col("ck") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val selfDrop = selfCand
      .join(bs.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(bs.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .filter(jaccard(col("sa"), col("sb")) >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    // vs corpus: confirmed dup of ANY accepted doc (via the index)
    val corpusDrop = SnapshotTable.readIfCommitted(spark, sigsTab) match {
      case None => selfDrop.limit(0)
      case Some(cs) =>
        val cBands = bandsOf(cs)
          .select(col("b").as("cb"), col("key").as("ck"),
            col("doc_id").as("old_id"))
        bBands.join(cBands,
            col("b") === col("cb") && col("key") === col("ck"))
          .select(col("doc_id"), col("old_id")).distinct()
          .join(bs.select(col("doc_id"), col("s").as("sn")), "doc_id")
          .join(cs.select(col("doc_id").as("old_id"), col("s").as("so")),
            "old_id")
          .filter(jaccard(col("sn"), col("so")) >= 0.5)
          .select("doc_id").distinct()
    }
    val dropIds = selfDrop.union(corpusDrop).distinct()
    val kept = batch.join(dropIds, Seq("doc_id"), "left_anti")
    val keptSigs = bs.join(dropIds, Seq("doc_id"), "left_anti")
    val ledger = SnapshotTable.ledger(streamId)
    SnapshotTable.commitEpoch(spark, corpusTab, ledger, batchId,
      kept.select("doc_id", "text"))
    SnapshotTable.commitEpoch(spark, sigsTab, ledger, batchId,
      keptSigs.select("doc_id", "s", "sig"))
    } finally bs.unpersist()
  }

  /** The accepted corpus as of CURRENT. */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    SnapshotTable.read(spark, s"$corpusDir/corpus")

  /** Out-of-band maintenance: compact each state table's CURRENT rows
    * into one file and vacuum expired versions — the small-file
    * problem is THE operational cost of a streaming table (every
    * epoch appends its own files; after thousands of epochs each read
    * pays per-file open overhead). Row-identical by construction, and
    * the epoch ledger is PRESERVED through the compaction commit so a
    * concurrently-retried epoch still recognizes itself as applied.
    * Run between epochs (any snapshot reader keeps its version; only
    * vacuum invalidates readers older than `keepVersions`). */
  def maintain(spark: SparkSession, corpusDir: String,
      keepVersions: Int = 2): Unit =
    Seq("corpus", "sigs").foreach { t =>
      val dir = s"$corpusDir/$t"
      if (SnapshotTable.currentVersionOf(dir).isDefined) {
        SnapshotTable.compact(spark, dir,
          meta = SnapshotTable.currentMeta(dir))
        SnapshotTable.vacuum(dir, keepVersions)
      }
    }
}

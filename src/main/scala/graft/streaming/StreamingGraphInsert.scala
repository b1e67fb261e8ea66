package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.warehouse.SnapshotTable

/** Online graph-index MAINTENANCE — the streaming form of v21/v22
  * and the shape a production vector store actually runs: new
  * vectors arrive continuously; each micro-batch beam-walks the
  * committed BASE graph for its k=3 edges (the HNSW insert rule,
  * the exact v21 machinery via `beamWalkCore`) and appends them to
  * the maintained edge table, so the index covers every committed
  * vector at every point in time and NOTHING ever pays a Σcell²
  * rebuild.
  *
  * Correctness hinge (what makes micro-batching exact, not
  * approximate): v21's insert rule never links insert→insert — every
  * edge targets a BASE node, and the walk consults only the base
  * graph and base centroids, which no insert mutates. Per-batch
  * processing is therefore ORDER-INDEPENDENT: the union of per-epoch
  * edge sets equals the one-shot batch output under ANY partitioning
  * of the arrivals. StreamingGraphInsertSpec pins stream ≡ batch
  * row-for-row against v21's oracle-checked output.
  *
  * Exactly-once: each epoch commits under SnapshotTable.InsertLedger
  * (see SnapshotTable.EpochLedger), checked once before the walk so a
  * re-delivered epoch skips it. The walk's edges are non-empty by
  * construction, so the append needs no emptiness check.
  *
  * Composition: `indexDir/edges` is the insert-edge table of
  * [[LifecycleIndex]] — a concurrent delete stream on the same
  * indexDir appends tombstones to its OWN table and readers resolve
  * prune+repair(base ∪ these edges, tombstones) at read time, so the
  * two verbs compose on one live index (round-14; v27's batch rule).
  *
  * Scale: per-epoch cost is O(batch · walk) — the bounded serving
  * contract — plus one append of |batch|·3 edge rows. The base
  * graph and centroid table are read from committed snapshots; the
  * epoch never scans the corpus beyond the walk's pushed-filter
  * probes.
  */
object StreamingGraphInsert {

  /** Watch `vecsDir` for parquet files of (vec_id, embedding, label)
    * and maintain the edge table at `indexDir/edges`. `d` is the
    * corpus dir holding the committed base (insert-free) vectors +
    * graph. */
  def start(spark: SparkSession, vecsDir: String, d: String,
      indexDir: String, checkpointDir: String): StreamingQuery = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.readStream.schema(schema).parquet(vecsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        insertEpoch(spark, batch, d, indexDir, batchId)
      }
      .start()
  }

  /** Per-epoch coordinator budget: the walk's state is
    * O(batch · (seeds + H·B·k)) on the driver; a production intake
    * sizes maxFilesPerTrigger to hold this. */
  val EpochCap = 4096

  /** Fold the index once this many insert epochs have committed
    * since the last fold (round 14): an insert-only stream never
    * crosses the delete side's tombstone-count trigger, so without
    * this its edges table accumulates one append commit per epoch
    * forever — the classic streaming-sink small-files failure, plus
    * an ever-longer manifest every read resolves. The fold bakes the
    * accumulated insert edges into the base (a pure compaction when
    * no tombstones exist) and restarts the append log empty. */
  val FoldEveryEpochs = 64

  /** One epoch: walk each arriving vector against the base graph,
    * append (vec_id, neighbor_id, cos_sim, rank) edges. Public so
    * the spec and a batch backfill drive the exact streaming code
    * path.
    *
    * The EpochCap bound is enforced DISTRIBUTED-SIDE, before any
    * driver materialization: `limit(cap+1).count()` scans at most
    * cap+1 rows and collects one long, so a misconfigured intake
    * (maxFilesPerTrigger too high) fails loudly without first OOMing
    * the driver on an unbounded collect. (Round 12 relied on
    * beamWalkCore's require, which fired only AFTER the full batch
    * was driver-resident.) */
  def insertEpoch(spark: SparkSession, batch: DataFrame, d: String,
      indexDir: String, batchId: Long,
      foldEvery: Int = FoldEveryEpochs): Unit = {
    import spark.implicits._
    val tab = LifecycleIndex.edgesTab(indexDir)
    val ledger = SnapshotTable.InsertLedger
    if (ledger.applied(tab, batchId)) return
    // round-14 advice: refuse to compose against a base a delete-only
    // auto-fold INFERRED from the full corpus — this walk targets the
    // insert-free graph, and baking its edges onto the wrong base
    // would silently diverge from v27's rule (fail loudly instead;
    // bootstrap() cures the index)
    LifecycleIndex.requireInsertCompatibleBase(indexDir)
    // the pre-check count stays a SEPARATE job (a round-20 one-job
    // merge was reverted): the spec-pinned contract is that an
    // over-budget epoch fails BEFORE any row is quantized or
    // materialized driver-side — a merged collect necessarily
    // evaluates the quantize transform on the rows it scans.
    val n = batch.limit(EpochCap + 1).count()
    if (n == 0) return
    require(n <= EpochCap,
      s"streaming insert epoch exceeds the $EpochCap-vector coordinator " +
      "budget — size maxFilesPerTrigger so each micro-batch fits")
    val qrows = batch
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("r"))
      .withColumn("nn",
        aggregate(transform(col("r"), x => x * x), lit(0L),
          (acc, v) => acc + v))
      .select("vec_id", "r", "nn")
      .as[(Long, Array[Long], Long)].collect()
    val edges = graft.operators.SimilarityQueries
      .streamInsertEdges(spark, d, qrows)
    // coalesce(1): the walk's output is a driver-local relation that
    // otherwise fans its O(batch·k) rows across defaultParallelism
    // write tasks — ~20 tiny data files per epoch append (round 21),
    // inflating every delta-materialize file diff/byte listing and
    // the serving read's file count. One bounded epoch = one file.
    SnapshotTable.append(spark, edges.coalesce(1), tab,
      Some(ledger.line(batchId)))
    // AUTO-FOLD (round 14): symmetric with the delete stream's
    // tombstone-count trigger. Epochs since the last fold = ledger
    // entries after the last `folded-…` marker (the fold stamps one
    // on this table — see LifecycleIndex.foldTombstones); serial
    // with insert epochs by construction here, and a racing DELETE
    // epoch makes the fold's pinned commits throw — caught and
    // retried at the next trigger, the epoch itself already durable.
    // newest-first lazy walk, bounded by epochs-since-last-fold (≤
    // foldEvery by this very trigger) instead of O(table age)
    val sinceFold = SnapshotTable.newestMetas(tab)
      .takeWhile(!_.startsWith("folded-")).length
    if (sinceFold >= foldEvery) {
      try LifecycleIndex.foldTombstones(spark, d, indexDir)
      catch {
        case e: SnapshotTable.CommitConflictException =>
          System.err.println(s"[stream-insert] auto-fold deferred " +
            s"(concurrent commit on the index): ${e.getMessage}")
      }
    }
    ()
  }
}

package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}

/** The STREAMING-SERVING entry (round 15 — round-14 verdict 2): the
  * one user-facing verb the whole lifecycle machinery exists for,
  * LifecycleIndex.search, as an oracled CORRECTNESS row of its own.
  * Every other verb (insert epoch, delete epoch, fold, read-resolve)
  * already passes through oracle-checked entries; the serving path
  * was verified only by spec (row-identical to v27 on the drained
  * state, StreamingLifecycleSpec) — this entry puts the SAME claim
  * under the driver's DuckDB hash-compare.
  */
object ServingQueries {

  val all: Seq[QueryDef] = Seq(

    // END-TO-END STREAMING SERVE — bootstrap a fresh index, drive the
    // REAL epoch verbs (StreamingGraphInsert/Delete.insertEpoch/
    // deleteEpoch — the exact foreachBatch bodies) over v27's fixture
    // sets split into 3 micro-batches each, interleaved
    // ins0,del0,ins1,del1,ins2,del2, then serve the standard query
    // set through LifecycleIndex.search. The drained index state is a
    // pure function of the (insert set, delete set) — the composed
    // contract — so the oracle is v27's composed DuckDB statement
    // (base graph → insert walk → union → prune → repair → search in
    // one statement), generated with the knobs THIS search recorded.
    // Each run builds its own throwaway index dir: the stamped cost
    // is the honest end-to-end lifecycle bill (bootstrap commit +
    // 6 delta epochs + cold serving materialization + walk), the
    // number a platform pays per index state, not per query — warm
    // per-query cost is measured separately (SCALE_STREAM
    // search_warm: flat, zero index writes).
    QueryDef(
      "v28_streaming_serve",
      SimilarityQueries.lifecycleSearchSql(
        LifecycleIndex.searchKnobs.get())) { (s, d) =>
      val idx = Files.createTempDirectory("graft-v28-idx-").toString
      try {
        LifecycleIndex.bootstrap(s, idx,
          SimilarityQueries.insertFreeBaseGraph(s, d))
        val emb = Tables.embeddings(s, d)
        val ins = emb.filter(SimilarityQueries.v21BatchFilter)
          .select("vec_id", "embedding", "label")
        val del = emb.filter(SimilarityQueries.v23DeleteFilter)
          .select("vec_id")
        // 3 deterministic micro-batches per stream (splitting is
        // correctness-neutral by the order-independence contract —
        // it exists to exercise real multi-epoch ledgers)
        (0 until 3).foreach { i =>
          StreamingGraphInsert.insertEpoch(s,
            ins.filter(pmod(col("vec_id"), lit(3)) === i), d, idx, i.toLong)
          StreamingGraphDelete.deleteEpoch(s,
            del.filter(pmod(col("vec_id"), lit(3)) === i), d, idx, i.toLong)
        }
        val queries = emb
          .filter(col("vec_id") < SimilarityQueries.Q &&
            !SimilarityQueries.v23DeleteFilter)
          .select("vec_id", "embedding")
        LifecycleIndex.search(s, d, idx, queries)
      } finally {
        // with the directory: everything the process holds for it
        // (its persisted serving corpus would otherwise ride into
        // unrelated bench queries' measurements until the next sweep),
        // and the resident STREAM corpus or walk graph its insert
        // epochs held: keyed by the dataset dir, which stays, so no
        // sweep drops them, and a later run would silently serve from
        // memory (an identical persisted plan, or the held graph),
        // breaking the full-computation contract. Only those entries
        // go — releasing the dataset dir would also drop the stage
        // snapshots later queries reuse. (An application also hosting
        // a live insert stream on d refills them next epoch.)
        graft.Resident.release(idx)
        val dk = graft.Resident.key(s, d)
        SimilarityQueries.streamCorpora.remove(dk)
        SimilarityQueries.streamWalks.remove(dk)
        deleteRec(idx)
      }
      // the returned frame is driver-local (the walk collects its
      // bounded state), so the index files are droppable BEFORE the
      // caller evaluates it — without the cleanup every bench sweep
      // left a full throwaway index (base + serving graph) in /tmp
    },
  )

  private def deleteRec(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}

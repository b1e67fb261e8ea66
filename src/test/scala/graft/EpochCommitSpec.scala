package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.boatrace.{BoatraceCorpus, StreamingIngest}
import graft.streaming.{LifecycleIndex, StreamingDedup, StreamingGraphDelete,
  StreamingGraphInsert}
import graft.warehouse.{CommitBackends, MaterializedAgg, SnapshotTable}

/** The exactly-once epoch rule, driven through all five streaming
  * sinks from one table. For each sink: a re-delivered epoch at or
  * below the newest applied id commits nothing; an empty batch commits
  * nothing; a meta-less compact between a partial apply and the retry
  * does not apply the epoch twice; and a manifest fault (transient or
  * vanished) on the sink's table probe fails the epoch with its tables
  * and ledger unchanged, so the retry applies it. Faults come from
  * FaultBackend. The ingest sink runs over the generated
  * BoatraceCorpus. */
class EpochCommitSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  /** One sink over a fresh root dir. `run(epoch, payload)` applies one
    * epoch (payload < 0: an empty batch; different payloads carry
    * different rows). `tables` are its state tables, `prefix` its
    * ledger prefix, `probe` the table whose read the epoch's commit
    * depends on, `guarded` the tables a failed probe must leave
    * unchanged, and `partial`, when set, a table whose commit can fail
    * after `tables.head` committed (a partial apply). */
  final case class Sink(tables: Seq[String], prefix: String, probe: String,
      guarded: Seq[String], partial: Option[String],
      run: (Long, Int) => Unit)

  private def insertBatch(p: Int): DataFrame = {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    if (p < 0) vecs.limit(0)
    else vecs.filter(col("vec_id").isin(89L * (p % 3), 89L * (p % 3 + 3)))
  }

  private def docText(p: Int, i: Int): String = (0 until 12).map(j =>
    java.util.UUID.nameUUIDFromBytes(s"$p/$i/$j".getBytes("UTF-8"))
      .toString.take(8)).mkString(" ")

  private val sinks: Seq[(String, String => Sink)] = Seq(
    "MaterializedAgg.refresh" -> { root =>
      val dir = s"$root/agg"
      def batch(p: Int) = (if (p < 0) Nil
        else Seq((s"k${p % 3}", 1.0 + p), ("k9", 0.25))).toDF("k", "v")
      Sink(Seq(dir), "batch=", dir, Seq(dir), None, (e, p) => {
        MaterializedAgg.refresh(spark, dir, batch(p), Seq("k"), "v", e); ()
      })
    },
    "StreamingIngest.ingestBatch" -> { root =>
      val wh = s"$root/wh"
      def batch(p: Int) = (if (p < 0) Nil else {
        val d = BoatraceCorpus.days(p % 2)
        Seq(s"in/${d.kName}" -> d.kBytes, s"in/${d.bName}" -> d.bBytes)
      }).toDF("path", "content")
      val race = s"$wh/race"
      Sink(Seq("env", "result", "odds", "schedule", "race").map(t => s"$wh/$t"),
        "s1:batch=", race, Seq(race), Some(race),
        (e, p) => StreamingIngest.ingestBatch(spark, batch(p), wh, e, "s1"))
    },
    "StreamingDedup.ingestBatch" -> { root =>
      val dir = s"$root/dedup"
      def batch(p: Int) = (if (p < 0) Nil else (0 until 3).map(i =>
        (100L * (p + 1) + i, docText(p, i)))).toDF("doc_id", "text")
      val (corpus, sigs) = (s"$dir/corpus", s"$dir/sigs")
      Sink(Seq(corpus, sigs), "batch=", sigs, Seq(corpus, sigs), Some(sigs),
        (e, p) => StreamingDedup.ingestBatch(spark, batch(p), dir, e))
    },
    "StreamingGraphInsert.insertEpoch" -> { root =>
      val idx = s"$root/idx"
      val edges = LifecycleIndex.edgesTab(idx)
      Sink(Seq(edges), "ins:batch=", edges, Seq(edges), None, (e, p) => {
        StreamingGraphInsert.insertEpoch(spark, insertBatch(p), sf, idx, e)
        PersistRegistry.release()
      })
    },
    "StreamingGraphDelete.deleteEpoch" -> { root =>
      val idx = s"$root/idx"
      def batch(p: Int) =
        (if (p < 0) Nil else Seq(100L + p, 200L + p)).toDF("vec_id")
      val (retired, deleted) =
        (LifecycleIndex.retiredTab(idx), LifecycleIndex.delTab(idx))
      Sink(Seq(retired, deleted), "del:batch=", retired, Seq(retired, deleted),
        Some(deleted), (e, p) => StreamingGraphDelete.deleteEpoch(spark,
          batch(p), sf, idx, e, foldAt = Long.MaxValue))
    })

  private def withSink(make: String => Sink)(body: Sink => Unit): Unit = {
    val root = Files.createTempDirectory("graft-epoch-").toString
    CommitBackends.register(root, new FaultBackend(CommitBackends.localFs))
    try body(make(root))
    finally {
      FaultBackend.disarm()
      CommitBackends.unregister(root)
    }
  }

  private def rows(dir: String): Seq[String] =
    SnapshotTable.currentVersionOf(dir).map(_ => SnapshotTable.read(spark, dir)
      .collect().map(_.toString).toSeq.sorted).getOrElse(Nil)

  /** Version, every committed meta, and the rows of each table. */
  private def state(dirs: Seq[String]) = dirs.map(d =>
    (SnapshotTable.currentVersionOf(d), SnapshotTable.committedMetas(d),
      rows(d)))

  for ((name, make) <- sinks) {
    test(s"$name: an epoch at or below the newest applied id commits " +
        "nothing") {
      withSink(make) { s =>
        s.run(0, 0)
        s.run(1, 1)
        val before = state(s.tables)
        s.run(1, 2)
        s.run(0, 2)
        assert(state(s.tables) === before)
      }
    }

    test(s"$name: an empty batch commits nothing") {
      withSink(make) { s =>
        s.run(0, 0)
        val before = state(s.tables)
        s.run(1, -1)
        assert(state(s.tables) === before)
      }
    }

    test(s"$name: a meta-less compact between a partial apply and the " +
        "retry does not apply the epoch twice") {
      withSink(make) { s =>
        val first = s.tables.head
        s.run(0, 0)
        s.partial match {
          case Some(t) =>
            FaultBackend.arm("putIfAbsent", s"$t/_versions/")
            intercept[java.io.IOException](s.run(1, 1))
            FaultBackend.disarm()
            assert(FaultBackend.hits.get() > 0, "injection must engage")
            assert(!SnapshotTable.newestLedgerId(t, s.prefix).contains(1L))
          case None => s.run(1, 1)
        }
        val applied = rows(first)
        SnapshotTable.compact(spark, first)
        assert(SnapshotTable.currentMeta(first).isEmpty)
        s.run(1, 1)
        assert(rows(first) === applied, "the epoch applied twice")
        s.tables.foreach(t =>
          assert(SnapshotTable.newestLedgerId(t, s.prefix) === Some(1L), t))
      }
    }

    for (vanish <- Seq(false, true))
      test(s"$name: a ${if (vanish) "vanished" else "transient"} manifest " +
          "read on the table probe fails the epoch; tables and ledger " +
          "stay unchanged and the retry applies it") {
        withSink(make) { s =>
          s.run(0, 0)
          val before = state(s.guarded)
          val v = SnapshotTable.currentVersionOf(s.probe).get
          FaultBackend.arm("readIfExists",
            f"${s.probe}/_versions/v$v%05d.manifest", vanish = vanish)
          try intercept[java.io.IOException](s.run(1, 1))
          finally FaultBackend.disarm()
          assert(FaultBackend.hits.get() > 0, "injection must engage")
          assert(state(s.guarded) === before)
          s.run(1, 1)
          assert(SnapshotTable.newestLedgerId(s.probe, s.prefix) === Some(1L))
        }
      }
  }
}

package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.PersistRegistry
import graft.streaming.{LifecycleIndex, StreamingGraphDelete,
  StreamingGraphInsert}

/** The seeded inputs of one serve epoch. */
final case class EpochInputs(
    inserts: Seq[(Long, Array[Float])],
    deletes: Seq[Long],
    queries: Seq[(Long, Array[Float])])

/** Seeded generator of serve epochs over a corpus. Each epoch inserts
  * about 1/89 of the corpus as new ids (perturbed copies of corpus
  * vectors), deletes about 1/97 of it from the ids still live, and
  * searches a fresh set of random unit query vectors. */
final class ServeInputs(seed: Long, corpus: Seq[(Long, Array[Float])],
    nQueries: Int = 32) {
  private val rnd = new scala.util.Random(seed)
  private val dim = corpus.head._2.length
  // ids the engine's insert-free base graph leaves out (SimilarityQueries
  // .v21BatchFilter): they are never part of the searched base
  private val baseIds = corpus.map(_._1).filter(_ % 89 != 0)
  private val deleted = mutable.Set.empty[Long]
  private var epoch = 0

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Query vectors for the set-up search; drawn before any epoch. */
  def warmUpQueries(): Seq[(Long, Array[Float])] = queries()

  private def queries(): Seq[(Long, Array[Float])] =
    (0 until nQueries).map(q =>
      (q.toLong, unit(Array.fill(dim)(rnd.nextGaussian()))))

  def next(): EpochInputs = {
    val e = epoch
    epoch += 1
    val nIns = math.max(5, corpus.size / 89)
    val nDel = math.max(5, corpus.size / 97)
    val inserts = (0 until nIns).map { j =>
      val (_, v) = corpus(rnd.nextInt(corpus.size))
      (ServeInputs.InsertIdBase + e * 100000L + j,
        unit(v.map(x => x + 0.05 * rnd.nextGaussian())))
    }
    val live = baseIds.filterNot(deleted)
    val deletes = rnd.shuffle(live).take(nDel).sorted
    deleted ++= deletes
    EpochInputs(inserts, deletes, queries())
  }
}

object ServeInputs {
  /** Inserted ids start here, above every corpus id. */
  val InsertIdBase: Long = 2000000000L
}

/** The serve-lifecycle workload: bootstrap an index over the corpus and
  * search it once, then a closed loop of epochs — insert, search,
  * search again, delete, search, fold the tombstones — until the time
  * is spent. */
object Serve {
  private def vecFrame(spark: SparkSession,
      rows: Seq[(Long, Array[Float])], label: Boolean): DataFrame = {
    import spark.implicits._
    if (label) rows.map { case (i, v) => (i, v, 0) }
      .toDF("vec_id", "embedding", "label")
    else rows.toDF("vec_id", "embedding")
  }

  private def idFrame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("vec_id")
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val d = h.args.data
    val idx = Paths.get(h.args.out, "index").toString
    h.setUp()
    val corpus = {
      import spark.implicits._
      graft.sources.Tables.embeddings(spark, d)
        .select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
    }
    val inputs = new ServeInputs(h.args.seed, corpus)
    LifecycleIndex.bootstrap(spark, idx,
      graft.operators.SimilarityQueries.insertFreeBaseGraph(spark, d))
    // the index's first search materializes its serving snapshot and
    // centroid table; it belongs to set-up, like the bootstrap
    LifecycleIndex.search(spark, d, idx,
      vecFrame(spark, inputs.warmUpQueries(), label = false))
      .write.format("noop").mode("overwrite").save()
    PersistRegistry.release()

    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val writes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // the engine serves its whole corpus table minus deleted ids, plus
    // streamed inserts
    val live = mutable.LinkedHashMap.empty[Long, Array[Float]] ++= corpus
    var hits = 0
    var insertedHits = 0
    var expected = 0
    var searches = 0
    var changedSearches = 0
    var fullSearches = 0
    var cachePeak = 0L
    val ctl0 = LifecycleIndex.controlPlaneReadsFor(idx)
    val retries0 = LifecycleIndex.searchRetriesFor(idx)

    // One timed lifecycle call. Write volume into the index directory is
    // measured only when tracing (it walks the directory).
    def op(kind: String)(body: => Unit): Boolean = {
      h.attempted += 1
      val before = if (h.args.trace) Harness.dirBytes(idx) else 0L
      val t0 = System.nanoTime()
      val ok = try { h.tracer.span(kind)(body); true }
      catch { case e: Throwable => h.fail(kind, e); false }
      if (ok) lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      h.notePersisted()
      PersistRegistry.release()
      if (h.args.trace) writes(kind) += Harness.dirBytes(idx) - before
      ok
    }

    def search(kind: String, ep: EpochInputs, afterChange: Boolean): Unit = {
      var out: DataFrame = null
      val ok = op(kind) {
        out = h.tracer.span("build")(LifecycleIndex.search(spark, d, idx,
          vecFrame(spark, ep.queries, label = false)))
        h.tracer.span("execute")(
          out.write.format("noop").mode("overwrite").save())
      }
      if (ok) {
        searches += 1
        if (afterChange) {
          changedSearches += 1
          if (LifecycleIndex.lastServeModeFor(idx) == "full") fullSearches += 1
        }
        LifecycleIndex.lastSearchPhasesFor(idx).foreach { case (p, s) =>
          phases(p) += s }
        if (h.args.trace) cachePeak = math.max(cachePeak,
          LifecycleIndex.corpusCacheResidentBytes.values.sum)
        // output check, outside the timed call
        val rows = out.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val got = rows.groupMap(_._1)(_._2)
        val bad = ep.queries.map(_._1).filter(q =>
          got.get(q).forall(ns => ns.length != 3 ||
            ns.exists(n => !live.contains(n))))
        if (bad.nonEmpty)
          h.failures += kind -> (s"${bad.size} of ${ep.queries.size} " +
            "queries without 3 live neighbours, e.g. query " +
            s"${bad.head}: ${got.get(bad.head).map(_.mkString(",")).orNull}")
        insertedHits += rows.count(_._2 >= ServeInputs.InsertIdBase)
        for ((q, v) <- ep.queries) {
          expected += 3
          hits += exactTop3(v).count(got.getOrElse(q, Array.empty[Long]).contains)
        }
      }
    }

    def exactTop3(q: Array[Float]): Seq[Long] =
      live.toSeq.map { case (i, v) =>
        var s = 0.0
        var k = 0
        while (k < v.length) { s += v(k) * q(k); k += 1 }
        (-s, i)
      }.sorted.take(3).map(_._2)

    var epochs = 0
    h.startWindow()
    while (epochs == 0 || h.elapsedS < h.args.seconds) {
      val ep = inputs.next()
      h.traced(s"epoch-$epochs") {
        if (op("insert")(StreamingGraphInsert.insertEpoch(spark,
            vecFrame(spark, ep.inserts, label = true), d, idx, epochs)))
          live ++= ep.inserts
        search("search_after_insert", ep, afterChange = true)
        search("search_warm", ep, afterChange = false)
        if (op("delete")(StreamingGraphDelete.deleteEpoch(spark,
            idFrame(spark, ep.deletes), d, idx, epochs)))
          live --= ep.deletes
        search("search_after_delete", ep, afterChange = true)
        op("fold")(LifecycleIndex.foldTombstones(spark, d, idx))
      }
      epochs += 1
    }
    val wall = h.endWindow(epochs)
    val all = lat.values.flatten.toSeq
    h.metrics("op_p50_ms") = Stats.median(all)
    h.detail("op_samples") = all.size.toString
    for ((k, xs) <- lat)
      h.detail(s"${k}_p50_ms") = Json.num(Stats.median(xs.toSeq))
    h.detail("recall_at_3") = Json.num(hits.toDouble / math.max(1, expected))
    h.detail("neighbours_inserted") = insertedHits.toString
    h.layerMetrics(wall)
    if (h.args.trace) {
      val serve = Seq(
        "serve.materialize_s" -> phases("serve_materialize"),
        "serve.mat_commit_s" -> phases("mat_commit"),
        "serve.full_ratio" -> fullSearches.toDouble / math.max(1, changedSearches),
        "serve.walk_hops_s" -> phases("walk_hops"),
        "serve.walk_seeds_s" -> phases("walk_sizing_seeds"),
        "serve.centroid_s" -> (phases("centroid_cache") + phases("walk_centroids")),
        "serve.corpus_cache_mb" -> cachePeak / 1e6,
        "warehouse.ctl_reads_per_search" ->
          (LifecycleIndex.controlPlaneReadsFor(idx) - ctl0).toDouble /
            math.max(1, searches),
        "warehouse.retries" ->
          (LifecycleIndex.searchRetriesFor(idx) - retries0).toDouble,
        "warehouse.insert_write_kb" -> writes("insert") / 1e3,
        "warehouse.delete_write_kb" -> writes("delete") / 1e3,
        "warehouse.fold_write_kb" -> writes("fold") / 1e3,
        "warehouse.search_write_kb" -> Seq("search_after_insert",
          "search_warm", "search_after_delete").map(writes).sum / 1e3,
        "warehouse.index_mb" -> Harness.dirBytes(idx) / 1e6)
      serve.foreach { case (k, v) => h.detail(k) = Json.num(v) }
    }
  }
}

package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{PersistRegistry, SparkEntry}

/** The sql-suite and kernel-suite workloads. A run takes the suite's
  * slice number `seed mod k` and runs its queries once, cold, in name
  * order, one client thread, each query built by its `SparkEntry.queries`
  * function and forced through the noop sink. A slice is about ten
  * seconds of cold work, so one pass spans the run's time; a second
  * pass would be warm and measure something else. Wall and latency are
  * scaled from the slice to the whole suite by the queries' reference
  * costs, so every slice estimates the same quantities. */
object Suites {

  def run(h: Harness): Unit = {
    val engine = SparkEntry.queries
    val membership = Membership.load(h.args.suites)
    val problems = membership.check(engine.keySet)
    if (problems.nonEmpty)
      throw new IllegalStateException(
        "query membership is not a partition: " + problems.mkString("; "))
    val suite = membership.suites(h.args.workload)
    val k = suite.slices
    val sliceNo = Math.floorMod(h.args.seed, k.toLong).toInt
    val names = suite.slice(sliceNo)
    val refs = suite.queries.values.map(_._2.toDouble).toSeq
    val toSuite = refs.sum / names.map(suite.ref).sum
    val d = h.args.data
    val spark = h.spark

    h.setUp()

    val latMs = mutable.ArrayBuffer.empty[Double]
    val relLat = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, Double]
    val failedNames = mutable.LinkedHashSet.empty[String]
    h.startWindow()
    for (name <- names) {
      h.attempted += 1
      h.traced(name) {
        val t0 = System.nanoTime()
        try {
          val df = h.span("build")(engine(name)(spark, d))
          h.span("execute")(
            df.write.format("noop").mode("overwrite").save())
          val ms = (System.nanoTime() - t0) / 1e6
          latMs += ms
          relLat += ms / suite.ref(name)
          perQuery(name) = ms
        } catch {
          case e: Throwable =>
            failedNames += name
            h.fail(name, e)
        }
        h.notePersisted()
      }
      h.span("release")(PersistRegistry.release())
    }
    val wall = h.endWindow(1)
    h.detail("slice") = s"\"$sliceNo of $k\""
    h.detail("slice_wall_s") = Json.num(h.metrics("wall_s"))
    h.detail("slice_op_p50_ms") = Json.num(Stats.median(latMs.toSeq))
    h.detail("op_samples") = latMs.size.toString
    h.metrics("wall_s") *= toSuite
    h.metrics("op_p50_ms") =
      Stats.median(relLat.toSeq) * Stats.median(refs)
    h.detail("query_ms") = Json.obj(perQuery.toSeq.map { case (k, v) =>
      k -> Json.num(v) })
    h.layerMetrics(wall)

    // Output check, outside the measured window: each query runs once
    // more and its result is written for the oracle comparison.
    val results = Paths.get(h.args.out, "results")
    Files.createDirectories(results)
    for (name <- names if !failedNames(name)) {
      try engine(name)(spark, d).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(name).toString)
      catch { case e: Throwable => h.fail(name, e) }
      PersistRegistry.release()
    }
    val token = graft.operators.BoatraceQueries.OutDirToken
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) }
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.str(v.replace(token, results.toString)) }))
    h.detail("queries") = Json.arr(names.map(Json.str))
  }
}

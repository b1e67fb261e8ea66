package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityQueries

/** Child-JVM driver for the CROSS-PROCESS serving-vs-vacuum spec
  * (LifecycleCrossProcessSpec, round-17 verdict 1): a second
  * SparkSession in its own process repeatedly ADVANCES one shared
  * index's state (alternating insert/delete epochs) and, by searching
  * each new state, MATERIALIZES it into the serving table and VACUUMS
  * the previous serving versions (keepVersions=2, grace 0 so the
  * sweep lands immediately) — while the PARENT process loops
  * `LifecycleIndex.search`. This is the deployment shape round 16
  * landed only in-process through the midSearchTestHook seam: a
  * maintainer process turning over serving state under a live server.
  *
  * The state-advance schedule is a pure function of (corpus, k) and
  * lives HERE so the parent's replica replays byte-identical epochs:
  * advance k applies insert wave k/2 (k even) or delete wave k/2
  * (k odd), waves being deterministic modular slices of the v21/v23
  * batch filters.
  *
  * Usage: ServeVacuumContender <corpusDir> <indexDir> <nAdvances>
  */
object ServeVacuumContender {

  /** The k-th state advance — shared by the child and the parent's
    * quiescent replica. */
  def advance(spark: SparkSession, d: String, indexDir: String,
      k: Int): Unit = {
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val wave = (k / 2).toLong
    if (k % 2 == 0) {
      val batch = emb.filter(SimilarityQueries.v21BatchFilter &&
          pmod(col("vec_id"), lit(3)) === lit(wave))
        .select("vec_id", "embedding", "label")
      StreamingGraphInsert.insertEpoch(spark, batch, d, indexDir, wave)
    } else {
      val batch = emb.filter(SimilarityQueries.v23DeleteFilter &&
          pmod(col("vec_id"), lit(3)) === lit(wave))
        .select("vec_id")
      StreamingGraphDelete.deleteEpoch(spark, batch, d, indexDir, wave)
    }
    ()
  }

  /** The query set both processes search with. */
  def queries(spark: SparkSession, d: String): DataFrame =
    spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") < 20 && pmod(col("vec_id"), lit(97)) =!= 0)
      .select("vec_id", "embedding")

  def main(args: Array[String]): Unit = {
    val (d, idx, n) = (args(0), args(1), args(2).toInt)
    val spark = graft.Session.local(4)
    // land each sweep immediately: the spec's whole point is the
    // vacuum racing the parent's in-flight walk
    spark.conf.set("spark.graft.serving.vacuumGraceMs", "0")
    spark.sparkContext.setLogLevel("ERROR")
    for (k <- 0 until n) {
      advance(spark, d, idx, k)
      // searching the new state materializes it into serving/ and
      // vacuums the older versions — the maintainer's serving turnover
      LifecycleIndex.search(spark, d, idx, queries(spark, d)).count()
      println(s"SVADVANCE k=$k")
      Thread.sleep(250)
    }
    println(s"SVCONTENDER advances=$n")
    spark.stop()
  }
}

package graft

// Diagnostic main (round 19): dumps the exact control-plane read
// PATHS of each serving mode (cold / warm / delta / post-fold full /
// steady-state delta) via CommitBackends.readProbe, so a read-budget
// regression can be attributed to the specific GET that appeared —
// the tool that drove the 33→15-read delta-serve trim. Run:
//   sbt "Test/runMain graft.ReadTraceProbe"
// (Round19Spec pins the budget inequality in CI; this prints the why.)
object ReadTraceProbe {
  import org.apache.spark.sql.functions._
  import graft.operators.SimilarityQueries
  import graft.streaming.{LifecycleIndex, StreamingGraphInsert, StreamingGraphDelete}
  import graft.warehouse.CommitBackends

  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val searchQueries = emb
      .filter(col("vec_id") < 20 && pmod(col("vec_id"), lit(97)) =!= 0)
      .select("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-readtrace-").toString
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))

    def traced(tag: String)(body: => Unit): Unit = {
      val buf = scala.collection.mutable.Buffer.empty[String]
      CommitBackends.readProbe = p => buf.synchronized { buf += p; () }
      try body finally CommitBackends.readProbe = null
      println(s"== $tag: ${buf.size} reads " +
        s"(mode=${LifecycleIndex.lastServeModeFor(idx)})")
      buf.foreach(p => println("   " + p.stripPrefix(idx)))
    }

    traced("cold") {
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    }
    traced("warm") {
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    }
    def insBatch(ep: Int) = emb
      .filter(SimilarityQueries.v21BatchFilter &&
        pmod(col("vec_id"), lit(2)) === ep % 2)
      .select("vec_id", "embedding", "label")
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, idx, 0L)
    traced("delta") {
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    }
    StreamingGraphDelete.deleteEpoch(spark,
      emb.filter(SimilarityQueries.v23DeleteFilter).select("vec_id"),
      sf, idx, 0L)
    LifecycleIndex.foldTombstones(spark, sf, idx)
    traced("post_fold_full") {
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    }
    StreamingGraphInsert.insertEpoch(spark, insBatch(1), sf, idx, 1L)
    traced("delta2") {
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    }
    LifecycleIndex.releaseIndexCaches(spark, idx)
    spark.stop()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Empty-corpus robustness: at production scale pipelines constantly
  * meet empty dates, empty partitions, and filters that match nothing.
  * Every testdata-driven query must plan and execute over a 0-row
  * corpus (correct schemas, no data) without throwing — an operator
  * that crashes on empty input is a paged on-call engineer. A NULL
  * text is the row-level form of the same case: an empty doc.
  */
class EmptyInputSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emptyDir: String = {
    val d = java.nio.file.Files.createTempDirectory("sf_empty")
    // raw schemas (events keeps whatever ts storage the fixture uses;
    // the loader's dtype-branching normalization runs on read as usual)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Tables.names)
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .write.parquet(s"$d/$t.parquet")
    d.toString
  }

  test("every testdata query executes over a 0-row corpus") {
    // the corpus queries read the boatrace corpus and ignore the sf dir
    val failures = SparkEntry.defs
      .filterNot(q => graft.operators.BoatraceQueries.names(q.name))
      .flatMap { q =>
        val r = try { q.run(spark, emptyDir).count(); None }
        catch { case e: Throwable => Some(q.name -> e.toString.take(200)) }
        PersistRegistry.release()
        r
      }
    assert(failures.isEmpty,
      failures.map { case (n, e) => s"$n: $e" }.mkString("\n"))
  }

  test("gram8Counts: a NULL-text doc contributes no grams") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val nullDoc = docs.agg((max(col("doc_id")) + 1).as("doc_id"))
      .withColumn("text", lit(null).cast("string"))
    val kernel = graft.functions.TextKernels.gram8Counts _
    val want = kernel(spark, docs).collect().toSet
    assert(want.nonEmpty)
    assert(kernel(spark, docs.unionByName(nullDoc)).collect().toSet === want)
  }

  test("minhashSignatures: a NULL-text doc gives no signature and the " +
      "same d02 rows as the docs alone") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val nullDoc = docs.agg((max(col("doc_id")) + 1).as("doc_id"))
      .withColumn("text", lit(null).cast("string"))
    val withNull = docs.unionByName(nullDoc, allowMissingColumns = true)
    val sigs = graft.functions.TextKernels.minhashSignatures(spark, _, 8)
    assert(sigs(withNull).count() === sigs(docs).count())
    val dir = java.nio.file.Files.createTempDirectory("sf_nulltext")
    withNull.write.parquet(s"$dir/documents.parquet")
    val d02 = SparkEntry.queries("d02_minhash_lsh")
    val want = d02(spark, sf).collect().toSeq
    PersistRegistry.release()
    val got = d02(spark, dir.toString).collect().toSeq
    PersistRegistry.release()
    assert(got === want)
  }
}

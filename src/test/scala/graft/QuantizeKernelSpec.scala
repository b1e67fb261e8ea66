package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins VectorKernels.quantize (the round-20 map-only kernel behind
  * DedupQueries.quantized) to the original expression form
  * `CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)` — the
  * engine-wide quantization rule every similarity/dedup oracle's
  * exactness argument rests on. Two checks: row-for-row equality over
  * the real sf0.001 embeddings, and a literal battery aimed at the
  * rounding seams (half-way ties both signs, values whose float→double
  * widening puts them just off the tie, zero, and sign flips).
  */
class QuantizeKernelSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def exprForm(emb: org.apache.spark.sql.DataFrame) = emb
    .select(col("vec_id"), col("label"),
      transform(col("embedding"),
        x => round(x.cast("double") * 10000).cast("long")).as("r"))
    .withColumn("nn",
      aggregate(transform(col("r"), x => x * x), lit(0L),
        (acc, v) => acc + v))

  test("kernel == expression form over the sf0.001 embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val kern = graft.functions.VectorKernels.quantize(spark, emb)
    val expr = exprForm(emb)
    assert(kern.count() === expr.count())
    val diff = kern.as("k").join(expr.as("e"), Seq("vec_id"))
      .filter(col("k.label") =!= col("e.label") ||
        col("k.nn") =!= col("e.nn") || col("k.r") =!= col("e.r"))
      .count()
    assert(diff === 0L,
      "kernel quantization diverged from the expression form")
  }

  test("kernel == expression form on rounding-seam literals") {
    import spark.implicits._
    // *10000 lands these on or next to .5 ties in both signs; the
    // float literals that LOOK like exact ties (0.00005f) widen to
    // doubles slightly off the tie — exactly the seam where a naive
    // math.round / rint reimplementation diverges from Spark's
    // BigDecimal.valueOf(d).setScale(0, HALF_UP) path.
    val seam = Array(0.00005f, -0.00005f, 0.00015f, -0.00015f,
      0.00025f, -0.00025f, 1.00005f, -1.00005f, 0.0f, -0.0f,
      0.99995f, -0.99995f, 1.2345678f, -1.2345678f,
      Float.MinPositiveValue, -Float.MinPositiveValue)
    val emb = Seq((1L, 0, seam)).toDF("vec_id", "label", "embedding")
    val kern = graft.functions.VectorKernels.quantize(spark, emb)
      .select("r", "nn").collect()(0)
    val expr = exprForm(emb).select("r", "nn").collect()(0)
    assert(kern.getSeq[Long](0) === expr.getSeq[Long](0),
      "per-element quantization diverged on seam literals")
    assert(kern.getLong(1) === expr.getLong(1))
  }
}

package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class NfcNormalizeSpec extends AnyFunSuite {
  import TestSpark.spark

  // the SQL name is installed by graft.Session, which built TestSpark
  test("nfc_norm composes decomposed sequences (SQL surface)") {
    // inputs decomposed (e+U+0301, u+U+0308); expected precomposed
    val r = spark.sql(
      "SELECT nfc_norm('café'), length(nfc_norm('über'))").collect()
    assert(r.head.getString(0) === "café")
    assert(r.head.getInt(1) === 4)
  }

  test("nfc_norm matches java.text.Normalizer on adversarial strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // decomposed, precomposed, stacked combining marks, Hangul jamo
    // (NFC composes syllables), plain ASCII, empty
    val cases = Seq("café", "café", "ä́b",
      "각", "plain ascii", "", "ééé")
    val got = cases.toDF("s")
      .select(NfcNormalize.col(col("s"))).as[String].collect()
    val want = cases.map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq === want)
  }

  test("nfc_norm stays inside whole-stage codegen on parquet input") {
    import org.apache.spark.sql.functions.col
    val df = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), NfcNormalize.col(col("text")).as("t"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen stage marker in:\n$plan")
  }

  test("already-normalized input returns the identical string") {
    val r = spark.sql("SELECT nfc_norm('abc') = 'abc', nfc_norm(NULL)").collect()
    assert(r.head.getBoolean(0))
    assert(r.head.isNullAt(1))
  }

  test("non-string input is rejected at analysis") {
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT nfc_norm(42)").collect())
  }
}

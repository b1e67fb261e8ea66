package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic star schema
  * (`/root/testdata/sf*` — see TESTDATA.md / FIXTURES.md §B).
  *
  * Design notes for scale: every loader is a plain parquet scan, so
  * Catalyst predicate pushdown / column pruning applies to whatever is
  * stacked on top. At 100 TB the same call works against a
  * directory of many files (possibly partitioned); nothing here assumes
  * a single file. Callers that need a table repeatedly within one
  * query should rely on Spark's plan-level scan reuse rather than
  * caching eagerly here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Normalize an events frame's `ts` to TimestampType (micros)
    * regardless of how the fixture stores it. Historical fixtures used
    * parquet TIMESTAMP(NANOS) — readable only as raw longs under the
    * legacy conf, truncated here to micros (the same truncation DuckDB
    * applies, so oracle comparisons stay exact). Current fixtures store
    * TIMESTAMP(MICROS), which loads as TimestampType directly and must
    * pass through untouched: `ts div 1000` on a timestamp column is a
    * type error. Branching on the LOADED dtype keeps both generations
    * of fixture working. Works on batch and streaming frames alike.
    *
    * The micros fixture carries isAdjustedToUTC=false, so Spark loads it
    * as TIMESTAMP_NTZ — cast to TimestampType (every consumer expects
    * it; `unix_micros` and window ranges reject NTZ). The session
    * timezone is pinned UTC throughout the engine, so the cast
    * reinterprets the same wall-clock digits as the same instant the
    * nanos-epoch fixture produced — value-identical across generations.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame = {
    // harmless when ts is already micros: the conf only changes how
    // TIMESTAMP(NANOS) columns load
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views so `spark.sql` works (R4-R8 of
    * SURVEY §2.4 — the read_db.py query surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}

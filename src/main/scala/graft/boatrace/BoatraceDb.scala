package graft.boatrace

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's interactive query surface (read_db.py:10-38) as a
  * thin facade over the Parquet warehouse: a user of the reference can
  * run every query they run today against these entry points.
  *
  * read_db.py queries by raceId prefix because its schema never
  * decomposed the date; the warehouse carries a real `date` partition
  * column, so the prefix forms compile to partition pruning instead of
  * full scans (asserted in BoatracePipelineSpec).
  */
object BoatraceDb {

  /** Build (or rebuild) the warehouse from extracted TXT files or raw
    * LZH archives (each file's extension decides) and register the
    * five tables as views. */
  def open(spark: SparkSession, srcDir: String, warehouseDir: String): Unit = {
    val parsed = BoatracePipeline.parseDir(spark, srcDir)
    try BoatracePipeline.writeWarehouse(spark, parsed, warehouseDir)
    finally parsed.unpersist()
  }

  /** read_db.py:19 — `SELECT * FROM race WHERE レースID LIKE 'date%'`. */
  def racesOn(spark: SparkSession, date: String): DataFrame =
    spark.table("race").filter(col("date") === to_date(lit(date)))

  /** read_db.py:22-27 — the OR-of-prefixes form, as partition IN. */
  def racesIn(spark: SparkSession, dates: Seq[String]): DataFrame =
    spark.table("race")
      .filter(col("date").isin(dates.map(d => java.sql.Date.valueOf(d)): _*))

  /** read_db.py:36 — arbitrary SQL against the registered tables. */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)

  /** read_db.py:38 — `race.columns`. */
  def columnsOf(spark: SparkSession, table: String): Seq[String] =
    spark.table(table).columns.toSeq
}

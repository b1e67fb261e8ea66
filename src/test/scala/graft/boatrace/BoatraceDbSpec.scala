package graft.boatrace

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The read_db.py user surface: every exemplar query from the
  * reference's interactive layer, runnable against the warehouse. */
class BoatraceDbSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val wh = {
    val dir = java.nio.file.Files.createTempDirectory("boatrace_db").toString
    BoatraceDb.open(spark, "/root/reference/txt", dir)
    dir
  }

  test("racesOn = the LIKE-prefix query (read_db.py:19)") {
    wh
    val viaApi = BoatraceDb.racesOn(spark, "2020-08-28").count()
    val viaSql = BoatraceDb.sql(spark,
      "SELECT * FROM race WHERE `レースID` LIKE '2020-08-28%'").count()
    assert(viaApi === viaSql)
    assert(viaApi > 0)
  }

  test("racesIn = the OR-of-prefixes query (read_db.py:22-27)") {
    wh
    val dates = Seq("2020-08-01", "2020-08-15", "2020-08-28")
    val viaApi = BoatraceDb.racesIn(spark, dates).count()
    val viaSql = BoatraceDb.sql(spark,
      """SELECT * FROM race WHERE `レースID` LIKE '2020-08-01%'
        |   OR `レースID` LIKE '2020-08-15%'
        |   OR `レースID` LIKE '2020-08-28%'""".stripMargin).count()
    assert(viaApi === viaSql)
    assert(viaApi > 0)
  }

  test("columnsOf race lists the reference's 21 columns + partitions") {
    wh
    val cols = BoatraceDb.columnsOf(spark, "race")
    assert(cols.contains("レースID") && cols.contains("選手登番")
      && cols.contains("展示") && cols.contains("date"))
    assert(cols.size >= 21)
  }

  test("capstone: full-2020 warehouse from raw archives, queried end-to-end") {
    // the complete reference workflow at 12x its corpus: all 732 LZH
    // archives -> decode -> parse -> join -> partitioned warehouse ->
    // interactive queries
    val dir = java.nio.file.Files.createTempDirectory("boatrace_year").toString
    BoatraceDb.open(spark, "/root/reference/lzh", dir)
    val race = spark.table("race")
    val total = race.count()
    assert(total > 300000, s"full-year race rows: $total")
    // date-pruned query touches one partition
    val day = BoatraceDb.racesOn(spark, "2020-08-01")
    assert(day.count() === 854) // the verified golden row count
    // the per-player aggregate the downstream model consumes
    val players = race.groupBy("選手登番")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("starts"))
    assert(players.count() > 1500)
    // restore the August txt warehouse for any later suite
    BoatraceDb.open(spark, "/root/reference/txt",
      java.nio.file.Files.createTempDirectory("boatrace_aug").toString)
  }

  test("warehouse from LZH source serves the same query surface") {
    val dir = java.nio.file.Files.createTempDirectory("boatrace_db_lzh").toString
    // small slice: one date's K+B archives
    val tmp = java.nio.file.Files.createTempDirectory("lzh_slice")
    for (f <- Seq("K2020-08-28.lzh", "B2020-08-28.lzh"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/reference/lzh/$f"), tmp.resolve(f))
    BoatraceDb.open(spark, tmp.toString, dir)
    assert(BoatraceDb.racesOn(spark, "2020-08-28").count() > 0)
    // rebuild the txt warehouse for other tests (views were replaced)
    BoatraceDb.open(spark, "/root/reference/txt",
      java.nio.file.Files.createTempDirectory("boatrace_db2").toString)
  }
}

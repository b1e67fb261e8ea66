package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkException
import org.apache.spark.sql.types.LongType

import graft.{FaultFs, TestSpark}

/** Parquet.read keeps each file set's inferred schema and hands it to
  * Spark on later reads; these pin that the kept schema is never a
  * stale one and that every error stays Spark's own. */
class ParquetSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def partFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted

  test("a table directory rewritten in place with a different schema " +
      "reads the new schema") {
    val dir = tmp("graft-pq-rewrite-") + "/t"
    Seq(1L, 2L).toDF("a").write.parquet(dir)
    assert(Parquet.read(spark, dir).schema.fieldNames.toSeq === Seq("a"))
    assert(Parquet.read(spark, dir).as[Long].collect().sorted === Array(1L, 2L))
    Seq(("x", 3)).toDF("b", "c").write.mode("overwrite").parquet(dir)
    val df = Parquet.read(spark, dir)
    assert(df.schema === spark.read.parquet(dir).schema)
    assert(df.as[(String, Int)].collect() === Array(("x", 3)))
  }

  test("events loads with the right ts type under both nanosAsLong " +
      "values") {
    // a TIMESTAMP(NANOS) column, the older fixture generation's storage
    val dir = tmp("graft-pq-nanos-")
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def ts(load: => org.apache.spark.sql.DataFrame) =
      Try(load.schema("ts").dataType).toEither.left.map(_.getClass)
    try {
      for (nanosAsLong <- Seq("true", "false", "true", "false");
           d <- Seq(dir, sf)) {
        spark.conf.set(key, nanosAsLong)
        assert(ts(Tables.load(spark, d, "events")) ===
          ts(spark.read.parquet(s"$d/events.parquet")),
          s"$d under nanosAsLong=$nanosAsLong")
      }
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "events").schema("ts").dataType ===
        LongType)
    } finally spark.conf.set(key, "true")
  }

  test("the schema LRU stays at its bound after more distinct file " +
      "sets than it holds") {
    val dir = tmp("graft-pq-lru-") + "/t"
    spark.range(0, Parquet.MaxEntries + 6, 1, Parquet.MaxEntries + 6)
      .write.parquet(dir)
    val files = partFiles(dir)
    assert(files.size > Parquet.MaxEntries)
    files.foreach(f => Parquet.read(spark, f))
    assert(Parquet.cachedSchemas === Parquet.MaxEntries)
    // the most recent file sets are still kept and still read right
    assert(Parquet.read(spark, files.last).count() === 1)
  }

  test("a file vacuumed after its schema was kept raises the same " +
      "errors as a plain read") {
    val dir = tmp("graft-pq-vacuum-") + "/t"
    spark.range(0, 100, 1, 2).write.parquet(dir)
    val files = partFiles(dir)
    Parquet.read(spark, files: _*).count() // keeps the schema
    val kept = Parquet.read(spark, files: _*)
    val plain = spark.read.parquet(files: _*)
    Files.delete(Paths.get(files.head))
    // a scan planned before the file vanished: Spark's typed condition
    def condition(df: org.apache.spark.sql.DataFrame) =
      intercept[SparkException](df.collect()).getCondition
    assert(condition(kept) === "FAILED_READ_FILE.FILE_NOT_EXIST")
    assert(condition(kept) === condition(plain))
    // a read after it vanished: the same analysis error as Spark's own
    def resolveError(read: => Any) = Try(read).failed.get
    val a = resolveError(Parquet.read(spark, files: _*))
    val b = resolveError(spark.read.parquet(files: _*))
    assert(a.getClass === b.getClass)
    assert(a.getMessage === b.getMessage)
  }

  test("a listing fault falls back to Spark's own read") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val dir = "faultfs:" + tmp("graft-pq-fault-") + "/t"
    Seq(5L, 6L).toDF("x").write.parquet(dir)
    FaultFs.arm("listFiles", "/t", notFound = false)
    try {
      assert(Parquet.read(spark, dir).as[Long].collect().sorted ===
        Array(5L, 6L))
      assert(FaultFs.hits.get() > 0, "the fault must actually fire")
    } finally FaultFs.disarm()
  }
}

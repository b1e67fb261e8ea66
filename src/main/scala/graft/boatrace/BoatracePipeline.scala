package graft.boatrace

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Parquet

/** Spark-native form of the reference's per-date ETL
  * (/root/reference/main.py:240-267), re-architected for distributed
  * execution (SURVEY §3.1-3.3):
  *
  *  - the driver-side date loop becomes ONE job over all files
  *    (`binaryFile` source → per-file `flatMap` parse on executors);
  *  - the 4 separate parse passes become one pass (KbParser) whose
  *    parsed form is persisted once and fanned out to the four tables;
  *  - the SQLite append sink becomes date-partitioned Parquet
  *    (partition pruning replaces the reference's
  *    `レースID LIKE '2020-09-28%'` prefix scans, read_db.py:19-27);
  *  - the quadratic race-table accumulation quirk (main.py:257-263 —
  *    day k appended n-k+1 times) is deliberately FIXED: the join runs
  *    once over the full span; goldens prove the per-date content
  *    matches the reference's CSV path.
  *
  * Scale notes: files are ~150 KB each, so at 100 TB there are ~10⁹
  * small units — the binaryFile source handles many-files listing via
  * the driver, and `spark.sql.files.maxPartitionBytes` packs multiple
  * small files into one task. Parsing is CPU-light and embarrassingly
  * parallel; the only shuffle in the whole pipeline is the race-table
  * join, which co-partitions on レースID. env is ~1 row/race and
  * per-date tiny; at full scale the join broadcasts env and shuffles
  * result⋈schedule on the composite key.
  */
object BoatracePipeline {

  /** One parsed file (date derived from the official file name). */
  final case class ParsedFile(
      date: String,
      results: Seq[ResultRow],
      envs: Seq[EnvRow],
      odds: Seq[OddsRow],
      schedules: Seq[ScheduleRow])

  /** Distributed parse of a directory of official K/B TXT files. The
    * returned dataset is persisted (parse once, consume four times);
    * call `unpersist()` on it when the four tables have been written.
    */
  def parseDir(spark: SparkSession, txtDir: String): Dataset[ParsedFile] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.TXT")
      .load(txtDir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      // binaryFile packs many small files into one input split
      // (maxPartitionBytes), which would serialize the whole parse
      // into a single task; spread files across the cluster first.
      .repartition(spark.sparkContext.defaultParallelism)
      .map { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val date = KbParser.dateFromFileName(name)
        val t = KbParser.parseBytes(date, bytes)
        ParsedFile(date, t.results, t.envs, t.odds, t.schedules)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Same as parseDir but starting from the raw downloaded `.lzh`
    * archives (SURVEY §2.1 S3): decompress (graft.sources.Lha, a pure
    * JVM lh5 decoder) and parse inside one executor-side flatMap —
    * archive bytes never touch the driver. `pathGlobFilter` selects
    * e.g. "[KB]2020-08-*.lzh". */
  def parseLzhDir(spark: SparkSession, lzhDir: String,
      glob: String = "*.lzh"): Dataset[ParsedFile] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(lzhDir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { case (_, bytes) =>
        graft.sources.Lha.extract(bytes).map { e =>
          val date = KbParser.dateFromFileName(e.name)
          // archives carry CRLF; the parser's verified form is LF
          val t = KbParser.parseBytes(date, graft.sources.Lha.normalizeNewlines(e.data))
          ParsedFile(date, t.results, t.envs, t.odds, t.schedules)
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  // ---- The four relational tables (reference schemas, Japanese
  // column names from main.py:104-108). String-typed parity layer.

  def resultDf(spark: SparkSession, parsed: Dataset[ParsedFile]): DataFrame = {
    import spark.implicits._
    parsed.flatMap(_.results).toDF("レースID", "順位", "選手登番", "展示")
  }

  def envDf(spark: SparkSession, parsed: Dataset[ParsedFile]): DataFrame = {
    import spark.implicits._
    parsed.flatMap(_.envs)
      .toDF("レースID", "天候", "風向", "風速", "波高", "会場")
  }

  def oddsDf(spark: SparkSession, parsed: Dataset[ParsedFile]): DataFrame = {
    import spark.implicits._
    parsed.flatMap(_.odds).toDF("レースID", "単勝", "複勝1", "複勝2", "2連単",
      "2連複", "拡連複12", "拡連複13", "拡連複23", "3連単", "3連複")
  }

  def scheduleDf(spark: SparkSession, parsed: Dataset[ParsedFile]): DataFrame = {
    import spark.implicits._
    parsed.flatMap(_.schedules).toDF("レースID", "艇番", "選手登番", "名前",
      "年齢", "支部", "体重", "階級", "全国勝率", "全国2率", "当地勝率",
      "当地2率", "モーター2率", "ボート2率")
  }

  /** The denormalized race table: env ⋈ result on レースID, then
    * ⋈ schedule on (レースID, 選手登番) — inner semantics throughout
    * (main.py:262; venues missing from the B file and non-finishers
    * drop out, which the goldens confirm). env is one row per race, so
    * it is broadcast; the composite-key join shuffles both sides on
    * the same key.
    */
  def raceTable(env: DataFrame, result: DataFrame, schedule: DataFrame): DataFrame =
    broadcast(env)
      .join(result, Seq("レースID"), "inner")
      .join(schedule, Seq("レースID", "選手登番"), "inner")
      // Reference column order env→result→schedule with join keys first
      // (pandas merge key placement).
      .select("レースID", "天候", "風向", "風速", "波高", "会場", "順位",
        "選手登番", "展示", "艇番", "名前", "年齢", "支部", "体重", "階級",
        "全国勝率", "全国2率", "当地勝率", "当地2率", "モーター2率", "ボート2率")

  /** Typed + decomposed view of the race table (SURVEY §1.4 Spark
    * mapping): proper numeric types and a `date` column split out of
    * レースID so the warehouse can partition by it (enabling pruning
    * for the reference's LIKE-prefix query pattern).
    */
  def typedRace(race: DataFrame): DataFrame =
    race
      .withColumn("date", to_date(substring(col("レースID"), 1, 10)))
      .withColumn("race_no",
        regexp_extract(col("レースID"), "(\\d+)R$", 1).cast("int"))
      .withColumn("順位", col("順位").cast("int"))
      .withColumn("展示", col("展示").cast("double"))
      .withColumn("風速", col("風速").cast("int"))
      .withColumn("波高", col("波高").cast("int"))
      .withColumn("艇番", col("艇番").cast("int"))
      .withColumn("年齢", col("年齢").cast("int"))
      .withColumn("体重", col("体重").cast("int"))
      .withColumn("全国勝率", col("全国勝率").cast("double"))
      .withColumn("全国2率", col("全国2率").cast("double"))
      .withColumn("当地勝率", col("当地勝率").cast("double"))
      .withColumn("当地2率", col("当地2率").cast("double"))
      .withColumn("モーター2率", col("モーター2率").cast("double"))
      .withColumn("ボート2率", col("ボート2率").cast("double"))

  /** End-to-end: parse txtDir, write the five tables as
    * date-partitioned Parquet under warehouseDir, register temp views
    * (the read_db.py query surface), and return the typed race table.
    */
  def buildWarehouse(spark: SparkSession, txtDir: String,
      warehouseDir: String): DataFrame = {
    val parsed = parseDir(spark, txtDir)
    try writeWarehouse(spark, parsed, warehouseDir)
    finally parsed.unpersist()
    spark.table("race")
  }

  /** Write the five tables of an already-parsed corpus as
    * date-partitioned Parquet and register them as views. */
  def writeWarehouse(spark: SparkSession, parsed: Dataset[ParsedFile],
      warehouseDir: String): Unit = {
    val env = envDf(spark, parsed)
    val result = resultDf(spark, parsed)
    val odds = oddsDf(spark, parsed)
    val schedule = scheduleDf(spark, parsed)
    val race = typedRace(raceTable(env, result, schedule))

    def withDate(df: DataFrame): DataFrame =
      df.withColumn("date", to_date(substring(col("レースID"), 1, 10)))

    Seq("env" -> withDate(env), "result" -> withDate(result),
      "odds" -> withDate(odds), "schedule" -> withDate(schedule),
      "race" -> race).foreach { case (name, df) =>
      df.write.mode("overwrite").partitionBy("date")
        .parquet(s"$warehouseDir/$name")
      Parquet.read(spark, s"$warehouseDir/$name").createOrReplaceTempView(name)
    }
  }
}

package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one parquet reader. Spark infers a parquet schema with
  * a job of its own, which at this suite's scale costs several times
  * the scan it precedes, and most file sets are read many times
  * unchanged. So the first read of a file set infers its schema as
  * usual and later reads hand that schema to Spark.
  *
  * The key is every file's (path, length, mtime) through the Hadoop
  * FileSystem API plus the session confs that change how parquet types
  * load, so a file set rewritten in place, or read under another
  * `nanosAsLong`, infers afresh. When listing fails (a missing or
  * vacuumed file, a glob) the read goes to Spark unchanged, so every
  * error is Spark's own.
  */
object Parquet {

  /** File sets whose schema is kept, least recently read evicted. */
  private[graft] val MaxEntries = 64

  private val TypeConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema", "spark.sql.caseSensitive")

  private val schemas =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > MaxEntries
    }

  private[graft] def cachedSchemas: Int = schemas.synchronized(schemas.size)

  def read(spark: SparkSession, paths: String*): DataFrame = {
    val key = try Some(fileSetKey(spark, paths))
      catch { case _: java.io.IOException => None }
    key.flatMap(k => schemas.synchronized(Option(schemas.get(k)))) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None =>
        val df = spark.read.parquet(paths: _*)
        key.foreach(k => schemas.synchronized(schemas.put(k, df.schema)))
        df
    }
  }

  /** "relative path|length|mtime" of every file under `path` (the
    * file itself when `path` is one), sorted. */
  private[graft] def fileStats(conf: Configuration, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.makeQualified(p).toString.stripSuffix("/")
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { f =>
      val rel = f.getPath.toString.stripPrefix(root).stripPrefix("/")
      s"$rel|${f.getLen}|${f.getModificationTime}"
    }.toSeq.sorted
  }

  /** SHA-256 over the type confs and every file under `paths`. */
  private def fileSetKey(spark: SparkSession, paths: Seq[String]): String = {
    val conf = spark.sessionState.newHadoopConf()
    val confs = TypeConfs.map(c => c + "=" + spark.conf.getOption(c).getOrElse(""))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (confs ++ paths.flatMap(p => p +: fileStats(conf, p)))
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

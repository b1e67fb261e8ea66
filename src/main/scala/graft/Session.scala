package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test harness run
  * the configuration graft.Bench measures. */
object Session {

  /** SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session (or the running one, reconfigured where
    * Spark allows) with the engine's extensions installed. */
  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // wide plans (m06's 256-bit fingerprint select is >600 fields)
      // otherwise emit a recurring "Truncated the string representation
      // of a plan" WARN into every run's output
      .config("spark.sql.debug.maxToStringFields", "2000")
      // whole-stage-codegen compile cache: the default 100 entries
      // thrash under the suite's ~174 distinct queries × several
      // codegen units each, so every sweep would recompile every stage
      // (janino is tens of ms per unit, inside each query's wall). The
      // entries are compiled classes: driver-memory-bounded and
      // independent of data size.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // a TIMESTAMP(NANOS) parquet column loads as bigint instead of
      // erroring, so both known generations of the events fixture are
      // readable; Tables.normalizeEventsTs branches on the loaded dtype
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Opt-in cross-session snapshot reuse (off by default, so a run
    // measures every query's full computation): when
    // SPARK_GRAFT_SNAPSHOT_WAREHOUSE names a directory, StageSnapshots
    // commits stage tables (IVF index, PQ codebook, dup pairs/clusters)
    // through the warehouse ledger, and a later session pointing at the
    // same directory adopts any committed snapshot whose data
    // fingerprint matches instead of rebuilding. Defining queries still
    // recompute by contract; only consumers adopt.
    sys.env.get("SPARK_GRAFT_SNAPSHOT_WAREHOUSE").filter(_.nonEmpty)
      .foreach(w => spark.conf.set("spark.graft.snapshotWarehouse", w))
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the setup steps, the
  * closed-loop clock, tracing and the result record. */
final class Harness(val args: Args) {
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val tracer = new Tracer(args.trace)
  val layers: Option[LayerListener] =
    if (args.trace) Some(new LayerListener) else None
  val loadBefore: Double = Harness.loadAvg()
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, String]
  /** (operation, reason) for every operation that threw or failed its
    * output check. */
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0

  /** The session graft.Bench builds, with scratch space kept inside the
    * benchmark's output directory. */
  lazy val spark: SparkSession = {
    val local = Files.createDirectories(Paths.get(args.out, "spark-local"))
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "2000")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir",
        Paths.get(args.out, "spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    layers.foreach { l =>
      s.sparkContext.addSparkListener(l)
      s.listenerManager.register(l)
    }
    s
  }

  /** graft.Bench's set-up on the benchmark's inputs: the fixture
    * fingerprint (md5 over every table's name, loaded schema and row
    * count) and the warm-up run of the engine's flagship query. */
  def setUp(): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (t <- graft.sources.Tables.names) {
      val df = graft.sources.Tables.load(spark, args.data, t)
      md.update(s"$t|${df.schema.catalogString}|${df.count()}"
        .getBytes("UTF-8"))
    }
    detail("fixture_fp") = Json.str(md.digest().map("%02x".format(_)).mkString)
    graft.SparkEntry.queries("q07_multijoin_agg")(spark, args.data).count()
  }

  private var windowStartNs = 0L
  private var windowStartMs = 0L
  private var windowEndMs = 0L
  private var windowStartFs = 0L
  private var compileNs = 0L
  private var compiles = 0L
  private var persistPeak = 0L

  /** Marks the first measured operation; everything before it is set-up. */
  def startWindow(): Unit = {
    metrics("setup_s") =
      (System.currentTimeMillis() - jvmStartMs) / 1e3
    windowStartFs = Harness.fsBytesRead()
    compileNs = -Harness.compileNs()
    compiles = -Harness.compiles()
    windowStartMs = System.currentTimeMillis()
    windowStartNs = System.nanoTime()
  }

  def elapsedS: Double = (System.nanoTime() - windowStartNs) / 1e9

  /** Ends the measured window after `passes` passes of the workload's
    * loop. */
  def endWindow(passes: Int): Double = {
    val wall = elapsedS
    windowEndMs = System.currentTimeMillis()
    metrics("wall_s") = wall / passes
    detail("rss_peak_mb") = Json.num(Harness.vmHwmMb())
    // what the run retains once its garbage is gone: a leak or a cache
    // that outlives its use grows this, GC timing does not
    System.gc()
    metrics("heap_live_mb") = java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    detail("passes") = passes.toString
    compileNs += Harness.compileNs()
    compiles += Harness.compiles()
    if (args.trace) {
      metrics("sources.fs_read_mb") =
        (Harness.fsBytesRead() - windowStartFs) / 1e6
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    }
    wall
  }

  /** Runs `body` as one root span of a new trace whose Spark jobs carry
    * the trace's job group. */
  def traced[T](name: String)(body: => T): T =
    if (!args.trace) body
    else {
      val id = tracer.newTrace()
      spark.sparkContext.setJobGroup(s"pb-$id", name)
      try tracer.span(name)(body)
      finally spark.sparkContext.clearJobGroup()
    }

  /** A span in the current trace (same job group). */
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Per-layer metrics every workload shares, from the listeners, the
    * spans and the codegen counters, each limited to the measured
    * window. */
  def layerMetrics(wall: Double): Unit = layers.foreach { l =>
    val spans = tracer.spans
    val groups = spans.map(s => s"pb-${s.trace}").distinct
    val a = l.groups(groups)
    for (p <- Seq("analysis", "optimization", "planning"))
      metrics(s"catalyst.${p}_s") =
        l.phaseSeconds(p, windowStartMs, windowEndMs)
    metrics("codegen.compile_s") = compileNs / 1e9
    metrics("codegen.compiles") = compiles.toDouble
    metrics("spark.jobs") = a.jobs.toDouble
    metrics("spark.stages") = a.stages.toDouble
    metrics("spark.tasks") = a.tasks.toDouble
    // wall of each root span not covered by any of its trace's tasks
    val roots = spans.filter(_.parent == 0)
    val byTrace = roots.groupBy(_.trace)
    val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    metrics("spark.driver_idle_s") = byTrace.map { case (t, rs) =>
      val tasks = l.groups(Seq(s"pb-$t")).taskSpans
        .map { case (s, e) => (s * 1000000L - nanoOffset,
          e * 1000000L - nanoOffset) }
      rs.map { r =>
        r.durNs - Spans.unionNs(tasks.toSeq.map { case (s, e) =>
          (math.max(s, r.startNs), math.min(e, r.endNs)) })
      }.sum
    }.sum / 1e9
    metrics("operators.build_s") =
      spans.filter(_.name == "build").map(_.durNs).sum / 1e9
    metrics("operators.persist_peak_mb") = persistPeak / 1e6
    metrics("exec.task_s") = a.runMs / 1e3
    metrics("exec.cpu_s") = a.cpuNs / 1e9
    metrics("exec.gc_s") = a.gcMs / 1e3
    metrics("exec.slot_util") = a.runMs / 1e3 / (wall * args.cores)
    detail("exec.spill_mb") = Json.num(a.spill / 1e6)
    metrics("shuffle.write_mb") = a.shuffleWrite / 1e6
    metrics("shuffle.read_mb") = a.shuffleRead / 1e6
    detail("shuffle.fetch_wait_s") = Json.num(a.fetchWaitMs / 1e3)
    metrics("sources.input_mb") = a.input / 1e6
    metrics("trace.span_coverage") =
      Spans.unionNs(roots.map(r => (r.startNs, r.endNs))) / 1e9 / wall
    Harness.writeSpans(Paths.get(args.out, "spans.jsonl"), spans)
  }

  /** When tracing, samples the bytes of cached blocks (memory and disk)
    * for the peak; call after an operation, before its release. */
  def notePersisted(): Unit = if (args.trace) persistPeak = math.max(
    persistPeak,
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)

  def fail(op: String, e: Throwable): Unit =
    failures += op -> Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Writes result.json: metrics, failures and the run's environment. */
  def writeResult(): Unit = {
    val env = Seq(
      "master" -> Json.str(spark.sparkContext.master),
      "local_n" -> args.cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "seed" -> args.seed.toString,
      "load_before" -> Json.num(loadBefore),
      "load_after" -> Json.num(Harness.loadAvg()))
    val body = Seq(
      "workload" -> Json.str(args.workload),
      "trace" -> args.trace.toString,
      "attempted" -> attempted.toString,
      "failures" -> Json.arr(failures.toSeq.map { case (o, r) =>
        Json.obj(Seq("op" -> Json.str(o), "reason" -> Json.str(r))) }),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) =>
        k -> Json.num(v) }),
      "detail" -> Json.obj(detail.toSeq),
      "env" -> Json.obj(env))
    Files.writeString(Paths.get(args.out, "result.json"), Json.obj(body))
  }
}

object Harness {
  def compileNs(): Long = org.apache.spark.sql.catalyst.expressions.codegen
    .CodeGenerator.compileTime

  def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Bytes read through Hadoop's local file system by this JVM. */
  def fsBytesRead(): Long = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")
    if (s == null) 0L
    else Option(s.getLong("bytesRead")).map(_.toLong).getOrElse(0L)
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(q => Files.isRegularFile(q)).mapToLong(Files.size).sum
      finally s.close()
    }
  }

  def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val self = Spans.selfTimes(spans)
    Files.write(p, spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "trace" -> s.trace.toString, "name" -> Json.str(s.name),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "self_ns" -> self(s.id).toString))).asJava)
  }
}

/** Minimal JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

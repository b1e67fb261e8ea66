package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the engine's shared mechanisms single: one session factory
  * (graft.Session), one metrics listener (graft.Ledger), no settle
  * sleeps in the measuring harnesses, one parquet reader
  * (graft.sources.Parquet), one decode+parse step for the boatrace
  * files (BoatracePipeline.decodeParse), one registry for per-dir
  * process state (graft.Resident), one exactly-once epoch rule
  * (SnapshotTable) and a fixed set of session keys.
  * Reads `src/main` and `src/test` from the project directory
  * the tests run in. */
class StructureSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Path under `dir` -> source text of its Scala files. */
  private def scalaFiles(dir: Path): Map[String, String] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => dir.relativize(p).toString -> Files.readString(p))
      .toMap
    finally s.close()
  }

  /** Path under `src/main/scala` -> source text. */
  private lazy val sources: Map[String, String] = scalaFiles(root)

  private def offenders(allowed: Set[String])(hit: String => Boolean) =
    sources.collect { case (p, s) if !allowed(p) && hit(s) => p }
      .toSeq.sorted

  test("addSparkListener appears only in graft.Ledger") {
    val hasLedger = sources.contains("graft/Ledger.scala")
    assert(hasLedger, "graft/Ledger.scala is missing")
    assert(offenders(Set("graft/Ledger.scala"))(_.contains("addSparkListener"))
      === Nil)
  }

  test("no Thread.sleep in Bench, ScaleCheck, Tool or " +
      "StreamMaintenanceScale") {
    val harnesses = Seq("Bench.scala", "ScaleCheck.scala", "Tool.scala",
      "streaming/StreamMaintenanceScale.scala").map("graft/" + _)
    assert(harnesses.filter(h => sources(h).contains("Thread.sleep")) === Nil)
  }

  test("only graft/Session.scala calls the SparkSession builder, " +
      "across src/main and src/test") {
    val builder = """SparkSession\s*\.builder""".r
    val all = sources.map { case (p, s) => s"src/main/scala/$p" -> s } ++
      scalaFiles(Paths.get("src/test/scala"))
        .map { case (p, s) => s"src/test/scala/$p" -> s }
    assert(all.collect { case (p, s) if builder.findFirstIn(s).nonEmpty => p }
      .toSeq.sorted === Seq("src/main/scala/graft/Session.scala"))
  }

  test(".read.parquet( appears only in graft.sources.Parquet") {
    val read = """\.read\s*\.parquet\(""".r
    assert(offenders(Set("graft/sources/Parquet.scala"))(
      s => read.findFirstIn(s).nonEmpty) === Nil)
  }

  test("Lha.extract and KbParser.parseBytes are called once each, in " +
      "BoatracePipeline.decodeParse's file") {
    for (call <- Seq("Lha.extract(", "KbParser.parseBytes(")) {
      val sites = sources.toSeq.sorted.flatMap { case (p, s) =>
        Seq.fill(s.split(java.util.regex.Pattern.quote(call), -1).length - 1)(p)
      }
      assert(sites === Seq("graft/boatrace/BoatracePipeline.scala"), call)
    }
  }

  test("no format(\"boatrace\") reader and no DataSourceRegister service file") {
    val fmt = """format\(\s*"boatrace"\s*\)""".r
    assert(offenders(Set.empty)(s => fmt.findFirstIn(s).nonEmpty) === Nil)
    assert(!Files.exists(Paths.get("src/main/resources/META-INF/services/" +
      "org.apache.spark.sql.sources.DataSourceRegister")))
  }

  test("src/main reads exactly seven spark.graft.* session keys, and " +
      "commit backends are chosen only by registered dir prefix") {
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val keys = sources.values
      .flatMap(s => key.findAllMatchIn(s).map(_.group(1))).toSet
    assert(keys === Set("snapshotWarehouse", "boatraceBaseDir",
      "serving.corpusCacheMax", "serving.corpusCacheMaxMb",
      "serving.vacuumGraceMs", "serving.deltaMaxBytes",
      "d18.saltPairThreshold").map("spark.graft." + _))
    assert(offenders(Set.empty)(_.contains("registerNamed")) === Nil)
  }

  test("object-level maps in src/main live only in graft.Resident and " +
      "a named allowlist of process-wide state") {
    // a member `val`/`var` of a top-level object or class whose value
    // is a mutable map; a cache kept per dir belongs in a Resident kind
    val field = ("(?m)^  (?:private(?:\\[\\w+\\])? |protected )?(?:lazy )?" +
      "va[lr] (\\w+)\\b[^=\\n]*=\\s*(?:new\\s+)?(?:[\\w.]|\\s)*?" +
      "(?:ConcurrentHashMap|mutable\\.(?:Map|HashMap|LinkedHashMap)|" +
      "TrieMap|LinkedHashMap)").r
    val allowed = Set(
      // the backend registry, the counting-wrapper cache, the sim
      // store, and the per-table-dir read counters (dropped through
      // Resident.release)
      "graft/warehouse/CommitBackend.scala" -> "overrides",
      "graft/warehouse/CommitBackend.scala" -> "countedWrappers",
      "graft/warehouse/CommitBackend.scala" -> "store",
      "graft/warehouse/CommitBackend.scala" -> "perDirReads",
      // the per-table-dir trim floors (dropped through Resident.release)
      "graft/warehouse/SnapshotTable.scala" -> "trimFloors",
      // the parquet schema LRU
      "graft/sources/Parquet.scala" -> "schemas",
      // temp dirs this JVM made, swept at exit
      "graft/operators/StageSnapshots.scala" -> "ownedTmp")
    val found = sources.toSeq.flatMap { case (p, s) =>
      field.findAllMatchIn(s).map(m => p -> m.group(1))
    }.filterNot { case (p, _) =>
      p == "graft/Resident.scala" || p == "graft/Ledger.scala"
    }
    assert(found.filterNot(allowed).sorted === Nil)
  }

  test("epoch ledger lines are spelled and read only in " +
      "warehouse/SnapshotTable.scala") {
    assert(offenders(Set("graft/warehouse/SnapshotTable.scala"))(s =>
      s.contains("newestLedgerId(") || s.contains("batch=")) === Nil)
  }

  test("no Try(SnapshotTable.read ...) probe for table existence: a " +
      "failed read is not a missing table") {
    val probe = """Try\((?:graft\.warehouse\.)?SnapshotTable\.read""".r
    assert(offenders(Set.empty)(s => probe.findFirstIn(s).nonEmpty) === Nil)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the engine's shared mechanisms single: one metrics listener
  * (graft.Ledger), no settle sleeps in the measuring harnesses, and one
  * parquet reader (graft.sources.Parquet). Reads `src/main/scala` from
  * the project directory the tests run in. */
class StructureSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Path under `src/main/scala` -> source text. */
  private lazy val sources: Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
      .toMap
    finally s.close()
  }

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

  test(".read.parquet( appears only in graft.sources.Parquet") {
    val read = """\.read\s*\.parquet\(""".r
    assert(offenders(Set("graft/sources/Parquet.scala"))(
      s => read.findFirstIn(s).nonEmpty) === Nil)
  }
}

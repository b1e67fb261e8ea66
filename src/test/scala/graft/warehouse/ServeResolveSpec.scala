package graft.warehouse

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Round-19 primitives at the UNIT level (the serving layer's uses
  * are pinned end-to-end in Round19Spec; these tests pin the generic
  * contracts so a non-serving caller can rely on them):
  *
  *   - [[SnapshotTable.serveResolve]]: the CURRENT pointer's inline
  *     meta resolves a match in one control read; `noMatchBelow`
  *     stops a miss immediately; the fallback scan still matches
  *     below CURRENT and still stops at the first missing manifest
  *     (the retained-suffix contract); `acceptMeta`
  *     generalizes equality to prefix matching.
  *   - [[SnapshotTable.appendFromKnown]]: eliding the parent-manifest
  *     read does NOT weaken the stale-parent contract — a stale
  *     append still throws with nothing clobbered, now from the
  *     pinned CAS itself.
  *   - [[SnapshotTable.vacuumPinned]]: sweeps correctly from
  *     caller-held state (no CURRENT read), and the bounded manifest
  *     trim self-heals a crashed sweep's hole within its tolerance.
  */
class ServeResolveSpec extends AnyFunSuite {
  import graft.TestSpark._
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private def readsDuring(body: => Unit): Long = {
    val s = CommitBackends.controlPlaneReads.get()
    body
    CommitBackends.controlPlaneReads.get() - s
  }

  test("serveResolve: a CURRENT match resolves in exactly TWO control " +
      "reads (pointer line + matched manifest) because the pointer " +
      "carries the commit meta inline; the returned manifest equals " +
      "dataFiles") {
    val tab = tmp("graft-sresolve-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab, Some("mA"))
    var r: SnapshotTable.ServeResolve = null
    val n = readsDuring { r = SnapshotTable.serveResolve(tab, "mA") }
    assert(n === 2, s"warm resolve must be 2 reads, was $n")
    assert(r.cur === Some(0) && r.curMeta === Some("mA") &&
      r.matched === Some(0))
    assert(r.manifests(0) === SnapshotTable.dataFiles(tab, 0))
  }

  test("serveResolve: noMatchBelow stops a state-change miss after " +
      "ONE read; without it the scan walks the retained suffix and " +
      "still finds an older match (versionWithMeta parity), stopping " +
      "at the first vacuumed manifest") {
    val tab = tmp("graft-sresolve-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab, Some("m0"))
    SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab, Some("m1"))
    SnapshotTable.overwrite(spark, Seq(3L).toDF("x"), tab, Some("m2"))
    // target NEWER than anything committed + a predicate that knows
    // it: one read, no scan
    val always = (_: String, _: String) => true
    var r: SnapshotTable.ServeResolve = null
    val fast = readsDuring {
      r = SnapshotTable.serveResolve(tab, "m9", always)
    }
    assert(fast === 1 && r.matched.isEmpty && r.cur === Some(2))
    // no predicate: the scan walks down and matches v0
    r = SnapshotTable.serveResolve(tab, "m0")
    assert(r.matched === Some(0))
    assert(r.manifests(0) === SnapshotTable.dataFiles(tab, 0))
    // vacuum the oldest manifests; the scan must stop at the hole
    // rather than match below it (retained-suffix contract)
    SnapshotTable.vacuum(tab, keepVersions = 2)
    assert(SnapshotTable.serveResolve(tab, "m0").matched.isEmpty,
      "a vacuumed version must never resolve")
    assert(SnapshotTable.serveResolve(tab, "m1").matched === Some(1))
  }

  test("serveResolve: acceptMeta generalizes the match (prefix " +
      "acceptance — the serving layer's suffixed metas)") {
    val tab = tmp("graft-sresolve-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab,
      Some("tag|sym1|e3@0011223344556677"))
    val r = SnapshotTable.serveResolve(tab, "tag|sym1",
      acceptMeta = m => m == "tag|sym1" || m.startsWith("tag|sym1|"))
    assert(r.matched === Some(0))
    assert(SnapshotTable.serveResolve(tab, "tag|sym1").matched.isEmpty,
      "exact-equality default must not match the suffixed meta")
  }

  test("appendFromKnown: a STALE parent still fails loudly with " +
      "nothing clobbered — the contract moved to the pinned CAS, " +
      "not dropped with the manifest read") {
    val tab = tmp("graft-afk-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab) // v0
    val v0Files = SnapshotTable.dataFiles(tab, 0)
    val (v1, v1Files) = SnapshotTable.appendFromKnown(spark,
      Seq(2L).toDF("x"), tab, expectedCurrent = 0, v0Files, Some("d1"))
    assert(v1 === 1 && v0Files.toSet.subsetOf(v1Files.toSet))
    assert(v1Files === SnapshotTable.dataFiles(tab, 1),
      "the returned list must equal the committed manifest")
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // the table moves on; an append still derived from v1 is stale
    SnapshotTable.overwrite(spark, Seq(9L).toDF("x"), tab) // v2
    intercept[IllegalStateException] {
      SnapshotTable.appendFromKnown(spark, Seq(3L).toDF("x"), tab,
        expectedCurrent = 1, v1Files, Some("stale"))
    }
    assert(SnapshotTable.currentVersionOf(tab) === Some(2))
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSeq === Seq(9L),
      "the stale append must publish nothing")
  }

  test("an interleaved commit landing between a base-dependent " +
      "verb's derivation and its claim fails LOUDLY (pinned CAS) " +
      "instead of silently erasing the interleaved rows — upsert " +
      "and append (round-19 review: the unpinned form re-read " +
      "CURRENT inside commit and published over the interleave)") {
    val tab = tmp("graft-r19-derive-") + "/t"
    SnapshotTable.overwrite(spark,
      Seq((1L, 10L)).toDF("k", "v"), tab)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotTable.preClaimTestHook = Some { (d, _) =>
      if (d == tab && fired.compareAndSet(false, true)) {
        SnapshotTable.append(spark,
          Seq((2L, 20L)).toDF("k", "v"), tab, Some("interleaved"))
        ()
      }
    }
    try {
      intercept[IllegalStateException] {
        SnapshotTable.upsert(spark,
          Seq((1L, 11L)).toDF("k", "v"), tab, Seq("k"))
      }
      assert(fired.get())
      // the interleaved commit's rows survive; the stale upsert
      // published nothing (before the round-19 pin, the upsert's
      // fresh-slot commit silently erased row (2, 20))
      assert(SnapshotTable.read(spark, tab).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 10L), (2L, 20L)))
      // same window for append
      fired.set(false)
      intercept[IllegalStateException] {
        SnapshotTable.append(spark,
          Seq((3L, 30L)).toDF("k", "v"), tab, Some("late"))
      }
      assert(!SnapshotTable.committedMetas(tab).contains("late"))
    } finally SnapshotTable.preClaimTestHook = None
  }

  test("vacuumPinned sweeps from caller-held state with ZERO control " +
      "reads when every keep manifest is supplied, and the bounded " +
      "manifest trim heals a crashed sweep's hole within tolerance") {
    val tab = tmp("graft-vpin-") + "/t"
    (0 to 4).foreach(i =>
      SnapshotTable.overwrite(spark, Seq(i.toLong).toDF("x"), tab))
    val known = (3 to 4)
      .map(v => v -> SnapshotTable.dataFiles(tab, v)).toMap
    var deleted = 0
    val n = readsDuring {
      deleted = SnapshotTable.vacuumPinned(tab, cur = 4,
        keepVersions = 2, knownManifests = known)
    }
    assert(n === 0, s"a fully-supplied pinned sweep must issue no " +
      s"control reads, issued $n")
    assert(deleted > 0)
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSet === Set(4L))
    (0 to 2).foreach(v =>
      assert(SnapshotTable.manifestDigestOf(tab, v).isEmpty,
        s"manifest v$v must be trimmed"))
    // crash-hole heal: reconstruct a hole (manifests 0..1 restored
    // would need the bytes — instead simulate a FUTURE hole: commit
    // more versions, delete the middle manifest by sweeping, then
    // verify a later sweep's downward walk still clears the rest)
    (5 to 8).foreach(i =>
      SnapshotTable.overwrite(spark, Seq(i.toLong).toDF("x"), tab))
    SnapshotTable.vacuum(tab, keepVersions = 2) // trims 5,6 (+ tolerance)
    SnapshotTable.overwrite(spark, Seq(9L).toDF("x"), tab)
    SnapshotTable.vacuum(tab, keepVersions = 2)
    (0 to 7).foreach(v =>
      assert(SnapshotTable.manifestDigestOf(tab, v).isEmpty,
        s"manifest v$v must be gone after repeated bounded sweeps"))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Parquet

/** Pipeline-stage snapshots: intermediate TABLES shared between query
  * stages (the dedup chain's confirmed pairs → clusters; the ANN
  * searches' result sets the recall job measures), materialized once
  * per (session, data dir) as immutable parquet under the JVM temp
  * dir — the production shape: the stage that DEFINES a table
  * computes and writes it; downstream stages read it. Re-running pair
  * generation / the propagation fixpoint / four ANN searches inside
  * each consumer paid the heaviest jobs 2-4× per session. A parquet
  * snapshot — not a `persist()` — survives the harnesses'
  * PersistRegistry.release() between queries and pins no executor
  * storage; its lineage on reuse is one scan of a small result table.
  * Keyed by applicationId so a fresh session never reads a stale
  * snapshot.
  *
  * Honest-measurement contract: a DEFINING query ALWAYS recomputes
  * and overwrites its snapshot (its bench number is the real
  * computation + materialization cost); consumers are
  * compute-if-absent, so their numbers are the incremental work they
  * actually add.
  *
  * CROSS-SESSION persistence (the 100 TB deployment shape — index
  * build cost ≫ query cost, so a restarted session must reuse the
  * IVF index / PQ codebook rather than retrain): when the session
  * conf `spark.graft.snapshotWarehouse` names a directory, snapshots
  * are committed through the warehouse layer's SnapshotTable
  * (manifest + atomic CURRENT pointer — readers never see a
  * half-written index) instead of JVM-temp parquet, with the commit
  * meta carrying a FINGERPRINT of the input data dir (every file's
  * relative path, size, mtime). A fresh session finding a committed
  * snapshot whose fingerprint matches its input reuses it with zero
  * recompute; a changed corpus mismatches and rebuilds — staleness
  * is structurally impossible, not a convention. Without the conf,
  * behavior is unchanged (session-scoped temp snapshots keyed by
  * applicationId).
  *
  * SINGLE-WRITER CONSTRAINT (warehouse mode): SnapshotTable commits
  * have no CAS on a local filesystem, so at most one session may be
  * COMMITTING to a given warehouse at a time — the deployment shape
  * is one builder session, many reader sessions (readers only adopt
  * committed versions and never contend). Two sessions that both
  * miss the fingerprint check and both build will serialize on the
  * manifest's CREATE_NEW claim (SnapshotTable.commit) — the loser
  * re-versions or fails loudly, never silently clobbers — but the
  * duplicate build work is not prevented; coordinate builders
  * externally if that cost matters.
  */
private[graft] object StageSnapshots {

  // snapshot path per (application, data dir, stage)
  private[graft] val snapshots =
    graft.Resident.kind[String]("stage snapshots", graft.Resident.dataDir)
  // paths this JVM created under java.io.tmpdir — the only ones the
  // shutdown sweep may delete (never warehouse-committed data files)
  private val ownedTmp = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()

  private def snapKey(s: SparkSession, d: String, what: String) =
    graft.Resident.key(s, d, what)

  private def warehouseRoot(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.snapshotWarehouse").filter(_.nonEmpty)

  private def md5hex(v: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Warehouse table dir for (what, d): the name carries the input
    * dir's hash so two corpora never share a snapshot table. */
  private def tableDir(root: String, d: String, what: String): String =
    s"$root/${what.replaceAll("[^A-Za-z0-9._-]", "_")}-${md5hex(d).take(8)}"

  /** Metadata-only fingerprint of the input data dir: md5 over every
    * file's (relative path, size, mtime), sorted. Cheap (no data
    * read), and any ingest/compaction/regeneration of the corpus
    * changes it — the staleness guard for cross-session reuse. The
    * listing goes through the Hadoop FileSystem (Parquet.fileStats),
    * so a scheme-addressed corpus (`s3a://…`) is seen too: a walk that
    * saw zero files there would give every store corpus the same empty
    * hash and adopt a stale index for a CHANGED corpus. */
  private[graft] def dataFingerprint(d: String): String = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(d)
    md5hex((if (p.getFileSystem(conf).exists(p)) Parquet.fileStats(conf, d)
      else Nil).mkString("\n"))
  }

  // input fingerprint per (application, data dir): stable for an
  // application's lifetime (the assumption the snapshot pointers make
  // about d too), and scoped to it like them, so a session restarted
  // in the same JVM fingerprints the corpus afresh — a changed corpus
  // must never adopt the old one's snapshot.
  private[graft] val fingerprints =
    graft.Resident.kind[String]("input fingerprints", graft.Resident.dataDir)

  /** None when the input walk fails (a transient store error, an
    * unregistered scheme): adoption is an OPTIMIZATION, so a
    * fingerprint that cannot be read must disable reuse for this
    * call — rebuild proceeds, nothing adopted, nothing stamped —
    * rather than fail the caller's whole snapshot()/materialize
    * (round-20 review: the Hadoop branch can throw where the old nio
    * walk returned an empty — and wrong — hash). Failures are not
    * cached (a null mapping result records nothing), so the next
    * call retries the walk. */
  private def fingerprintOf(s: SparkSession, d: String): Option[String] =
    Option(fingerprints.getOrElseUpdate(graft.Resident.key(s, d))(
      try dataFingerprint(d)
      catch {
        // UncheckedIOException too: the nio branch's Files.walk
        // iteration wraps a concurrent-delete NoSuchFileException in
        // it (round-20 review — it is a RuntimeException, so an
        // IOException-only catch let the local-FS transient escape)
        case e @ (_: java.io.IOException |
            _: java.io.UncheckedIOException) =>
          System.err.println(s"[stage-snapshots] input fingerprint " +
            s"unavailable for $d (${e.getMessage}) — snapshot " +
            "adoption disabled for this call, rebuilding")
          null
      }))

  /** Drop this JVM's session-scoped snapshot pointers (and cached
    * fingerprints). For tests and external table maintenance — the
    * next snapshot() call resolves through the warehouse exactly as a
    * freshly started session would. */
  private[graft] def invalidateSessionCache(): Unit = {
    snapshots.clear(); fingerprints.clear()
  }

  /** Recompute `build` and (over)write the `what` snapshot; returns
    * its path (a plain-parquet-readable directory). The write goes to
    * a fresh dir + atomic map update, so a concurrent reader of the
    * previous snapshot is never clobbered. In warehouse mode the
    * write is a SnapshotTable commit (fresh immutable data dir +
    * atomic CURRENT swap — the same never-clobber guarantee, now also
    * crash-safe) stamped with the input fingerprint; the returned
    * path is the commit's data directory. */
  def materialize(s: SparkSession, d: String, what: String)(
      build: => DataFrame): String = {
    val dir = warehouseRoot(s) match {
      case Some(root) =>
        val tdir = tableDir(root, d, what)
        val v = graft.warehouse.SnapshotTable.overwrite(s, build, tdir,
          fingerprintOf(s, d).map("fp=" + _))
        // all of one commit's files share a single uuid data dir —
        // readable as ordinary parquet, so the return contract holds
        val files = graft.warehouse.SnapshotTable.dataFiles(tdir, v)
        if (files.isEmpty)
          throw new IllegalStateException(
            s"snapshot '$what' committed v$v with ZERO data files " +
            s"(build produced an empty write) — cannot adopt a data " +
            s"directory from an empty manifest at $tdir")
        java.nio.file.Paths.get(files.head).getParent.toString
      case None =>
        val tmp = java.nio.file.Files
          .createTempDirectory(s"graft-$what-").toString
        ownedTmp.add(tmp)
        build.write.mode("overwrite").parquet(tmp)
        tmp
    }
    val prev = snapshots.put(snapKey(s, d, what), dir)
    // DEFER reclaim of the superseded snapshot to JVM exit: deleting
    // here would race a concurrent snapshot() caller that read the old
    // path from the map a moment ago and still holds a lazy plan over
    // it — its scan would hit FileNotFoundException, turning the
    // "lost race costs one duplicate materialization" guarantee into
    // wrongness. Orphans are bounded: one dir per (key, rerun) for the
    // JVM's life, each a small result table, swept at exit. Only
    // JVM-temp dirs this process created are swept — superseded
    // WAREHOUSE versions stay on disk serving old snapshots until an
    // explicit SnapshotTable.vacuum (the retention contract).
    prev.filter(p => p != dir && ownedTmp.contains(p)).foreach(deferDelete)
    dir
  }

  private val deferred = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    deferred.forEach { d =>
      val root = java.nio.file.Paths.get(d)
      scala.util.Try(java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p)))
      ()
    }))

  private def deferDelete(dir: String): Unit = { deferred.add(dir); () }

  /** Read-back of a fresh materialization — for DEFINING queries. */
  def define(s: SparkSession, d: String, what: String)(
      build: => DataFrame): DataFrame =
    Parquet.read(s, materialize(s, d, what)(build))

  /** Read the `what` snapshot, computing it first if absent — for
    * CONSUMING queries. No computeIfAbsent: the materializer itself
    * updates the map, and CHM forbids re-entrant modification inside
    * the mapping function. A lost race costs one duplicate
    * materialization, never wrongness.
    *
    * Warehouse mode adds a middle tier between "this session already
    * built it" and "build it now": a COMMITTED snapshot from a prior
    * session whose stamped fingerprint matches this session's input
    * is adopted with zero recompute — the restarted-session reuse a
    * real deployment needs (index build ≫ query cost). A fingerprint
    * mismatch (the corpus changed) falls through to a rebuild, which
    * commits the fresh version over the stale one. */
  def snapshot(s: SparkSession, d: String, what: String)(
      build: => DataFrame): DataFrame = {
    val path = snapshots.get(snapKey(s, d, what)).getOrElse {
      val committed = warehouseRoot(s).flatMap { root =>
        val tdir = tableDir(root, d, what)
        fingerprintOf(s, d).flatMap(fp =>
            graft.warehouse.SnapshotTable.currentMeta(tdir)
              .filter(_ == "fp=" + fp))
          .flatMap { _ =>
            // an empty-manifest commit (zero part files) cannot be
            // adopted — fall through to a rebuild instead of
            // throwing NoSuchElement from files.head
            graft.warehouse.SnapshotTable.dataFiles(tdir).headOption
              .map(f => java.nio.file.Paths.get(f).getParent.toString)
          }
      }
      committed match {
        case Some(p) => snapshots.put(snapKey(s, d, what), p); p
        case None => materialize(s, d, what)(build)
      }
    }
    Parquet.read(s, path)
  }
}

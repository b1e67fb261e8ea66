package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.PersistRegistry
import graft.operators.{SimilarityQueries, WalkAdjacency, WalkCorpus,
  WalkGraph}
import graft.sources.Parquet
import graft.warehouse.SnapshotTable

/** ONE live graph-ANN index maintained by BOTH streaming verbs
  * (round 14 — round 13's verdict headline: the insert and delete
  * streams previously kept private state shapes, and a delete epoch
  * republished the whole edge table from the pristine base, silently
  * wiping streamed inserts AND paying an O(|E|) write per epoch).
  *
  * Layout under `indexDir` (all SnapshotTable-versioned):
  * {{{
  *   base/      the committed base edge table (vec_id, neighbor_id):
  *              bootstrap()'d at index creation, replaced by
  *              foldTombstones — NEVER touched by an epoch. A folded
  *              base's commit meta carries the FOLD CUT
  *              `…@ins=<v>,del=<v>`: the exact delta-table versions
  *              whose content it folded (see foldCut)
  *   edges/     streamed INSERT edges, append-only, one append per
  *              insert epoch (SnapshotTable.InsertLedger),
  *              restarted empty by the fold
  *   deleted/   tombstone ids SINCE THE LAST FOLD (the repair
  *              delta), append-only, one append per delete epoch
  *              (SnapshotTable.DeleteLedger), restarted empty by
  *              the fold
  *   retired/   ALL ids ever deleted (the vector-level delete
  *              vector — see retiredTab), append-only, one append
  *              per delete epoch, never restarted
  *   serving/   the materialized maintained graph the search adopts,
  *              one version per index state, vacuumed to the last 2
  * }}}
  *
  * The delete-vector pattern: an epoch WRITES only its own delta —
  * O(|batch|·k) insert edges or O(|batch|) tombstones — and the
  * maintained graph is RESOLVED AT READ TIME as
  * {{{ maintained = prune+repair(base ∪ insert-edges, tombstones) }}}
  * (v23's oracle-checked rule via deleteRepairCore), then compacted
  * into a new base by a periodic fold. Nothing ever writes O(|E|)
  * per epoch; at a 1B-vector index a delete epoch commits kilobytes,
  * not a 3B-edge rewrite.
  *
  * Why read-time repair rather than publishing a per-epoch repair
  * delta: the repair rule is GLOBAL over (graph, tombstone set) —
  * a later insert epoch adds edges incident to already-deleted nodes,
  * which join the repair pair space. A published delta would go stale
  * the moment the OTHER stream commits; deriving at read time makes
  * the maintained graph a pure function of the three committed sets,
  * so the drained composed state is row-identical to v27's batch rule
  * (lifecycleMaintainedGraph) under ANY interleaving of the two
  * streams — spec-pinned, two different interleavings compared.
  * Readers pay O(|D_delta|·deg²) repair compute per read, bounded by
  * the fold policy (deletes fold at DefaultFoldAt tombstones), the
  * same way table-format readers apply delete vectors until a
  * compaction folds them into data files.
  *
  * THE FOLD CUT (round 14, second iteration — the first recovery
  * design had two review-caught flaws): a fold can die or lose its
  * CAS between committing the folded base and restarting the delta
  * tables. The folded base's meta records the exact delta versions
  * it consumed (`@ins=<v>,del=<v>`), and EVERY reader and every later
  * fold subtracts that folded prefix from the delta tables
  * (insertEdges/tombstones). Consequences, all spec-pinned:
  * epochs committed AFTER a half-completed fold are never lost (the
  * old recovery branch restarted the CURRENT delta tables — wiping
  * them), and a later fold over the half-folded state derives from
  * exactly the un-folded remainder instead of re-ranking the repair
  * top-3 over a subset pair space (which minted edges the healthy
  * rule never emitted). The cut versions must outlive any vacuum of
  * the delta tables while un-restarted — the fold window is short
  * and vacuum is out-of-band by contract.
  *
  * Base resolution (explicit first, inference as fallback): the
  * committed `base/` table if bootstrap() or a fold stamped one;
  * otherwise the insert-free corpus graph when insert epochs have
  * committed (their walk targeted it, so it is the only base under
  * which insert edges compose exactly — v27's rule); otherwise the
  * full-corpus graph (the delete-only case, v23's rule).
  */
object LifecycleIndex {

  def baseTab(indexDir: String): String = s"$indexDir/base"
  def edgesTab(indexDir: String): String = s"$indexDir/edges"
  def delTab(indexDir: String): String = s"$indexDir/deleted"

  /** The CUMULATIVE retired-id set — the index's vector-level delete
    * vector, distinct from `deleted/` (the repair DELTA the fold
    * restarts): the corpus parquet under `d` is immutable and shared,
    * so the index itself must remember which vectors are dead
    * forever, or a fold would resurrect them into the search's
    * centroid/seed corpus (spec-caught, round 14: post-fold searches
    * diverged because n was rebuilt from the unfiltered corpus). A
    * delete epoch appends here first; the fold never restarts it
    * (only compacts it to one distinct file). In a production
    * deployment the fold would instead push these into the vector
    * table's own delete vectors at compaction — with a read-only
    * corpus the index carries them. O(|D_total|) single-id rows.
    *
    * RE-INSERT SEMANTICS (round-15, previously unmodeled): a retired
    * id arriving in a later insert epoch is ACCEPTED at intake and
    * stays retired — DELETE-WINS SET SEMANTICS, the only rule
    * consistent with the index's order-independence contract: the
    * drained state is a pure function of (corpus, insert set, delete
    * set), so a cross-stream arrival-order rule (latest-wins) would
    * make two interleavings of the same epochs drain differently,
    * breaking the spec-pinned v27 equivalence (and the two streams
    * share no ordering a latest-wins rule could even be defined on).
    * The epoch's edges commit normally and are pruned at read time;
    * search never returns the id (spec-pinned). Genuine re-ingest is
    * an explicit OPERATOR action: [[unretire]] + a fresh insert
    * epoch. */
  def retiredTab(indexDir: String): String = s"$indexDir/retired"

  /** The search's materialized maintained graph (see [[search]]). */
  def servingTab(indexDir: String): String = s"$indexDir/serving"

  /** Fold when the cumulative tombstone count exceeds this (2 intake
    * epochs' worth): bounds every reader's repair pair space at
    * O(DefaultFoldAt · deg²) and the fold's own write at O(|E|)
    * amortized over the epochs between folds. */
  val DefaultFoldAt: Long = 2L * 4096

  // via SnapshotTable so the check is backend-agnostic (round 16 —
  // the control plane may live on an object store, not the local FS)
  private def committed(tab: String): Boolean =
    SnapshotTable.currentVersionOf(tab).isDefined

  /** Commit the index's base graph explicitly at creation time —
    * the production bootstrap (build index, then maintain). A
    * composed index SHOULD bootstrap: without it the base is
    * inferred from which stream committed first (safe at drain,
    * but a fold taken before the first insert epoch would bake the
    * wrong inference in). */
  def bootstrap(spark: SparkSession, indexDir: String,
      base: DataFrame): Unit = {
    // Refuse a re-base that would DROP folded insert epochs
    // (review-caught, the symmetric hazard to the tombstone reseed
    // below): edges a fold baked into the committed base live ONLY
    // there — the delta was restarted and the ins: ledger blocks
    // re-delivery forever — so replacing such a base silently loses
    // every pre-fold streamed insert. The retired/ reseed has no
    // insert-side analog (the index retains tombstone IDS forever,
    // but folded edges only inside the base), so this is a loud
    // contract, not a repair: supply a base that already includes
    // the streamed inserts, or start a fresh index. The inferred-base
    // cure path (delete-only, no insert epoch ever) passes.
    val foldedIns = SnapshotTable.currentVersionOf(baseTab(indexDir))
      .flatMap(v => foldCutAt(indexDir, Some(v))).exists {
        case (_, ci, _) => ci >= 0 && (0 to ci).exists(v =>
          SnapshotTable.metaOf(edgesTab(indexDir), v)
            .exists(SnapshotTable.InsertLedger.owns))
      }
    require(!foldedIns,
      s"re-basing index $indexDir would drop insert epochs already " +
      "FOLDED into the committed base (their edges live only there and " +
      "the epoch ledger blocks re-delivery) — supply a base that " +
      "already includes the streamed inserts, or start a fresh index")
    // RE-BASE coherence (round 15, review-caught): bootstrapping over
    // an EXISTING index (the inferred-base cure path, or an operator
    // re-basing a live index) replaces a base that may have FOLDED
    // earlier tombstones into it — and the new base meta carries no
    // fold cut, so the restarted (empty-ish) tombstone delta would no
    // longer prune them: re-basing would resurrect every folded
    // deletion's edges. Reseed the delta with the CUMULATIVE retired
    // set (prune is idempotent for ids the new base never mentions;
    // repair over their incident edges is exactly v23's rule over the
    // new base). A fresh index has no retired/ — no-op. The reseed
    // preserves the per-version epoch ledger, so pre-bootstrap epochs
    // still re-deliver as no-ops.
    //
    // ORDER (round-16, closing the round-15 advice crash window): the
    // reseed commits BEFORE the base overwrite. The two commits are
    // necessarily non-atomic (two tables), so the design makes EITHER
    // crash point consistent by construction: a crash after the
    // reseed leaves the OLD base with an over-complete tombstone
    // delta — retired/ is a superset of every un-folded tombstone
    // (delete epochs append there first) and pruning an id the old
    // base already folded out is a no-op, so the maintained graph is
    // unchanged; re-running bootstrap completes the re-base. The
    // REVERSE order (base first, the round-15 shape) left a crash
    // window where the new base's folded-deletion edges were live
    // with no tombstone listing them — exactly the resurrection the
    // reseed exists to prevent.
    if (committed(retiredTab(indexDir))) {
      SnapshotTable.overwrite(spark,
        SnapshotTable.read(spark, retiredTab(indexDir))
          .select("vec_id").distinct().repartition(1),
        delTab(indexDir), Some("bootstrap-reseed"))
      ()
    }
    SnapshotTable.overwrite(spark,
      base.select(col("vec_id"), col("neighbor_id")),
      baseTab(indexDir), Some("bootstrap"))
    ()
  }

  private val CutRe = "@ins=(-?\\d+),del=(-?\\d+)$".r

  /** The FOLD CUT recorded by the base version `vB`'s commit meta:
    * (the full marker string, ins cut version, del cut version) —
    * the delta-table versions whose content that base already folded
    * (−1 = the table did not exist at fold time). The marker string
    * is what the fold's delta RESTART commits carry as THEIR meta,
    * which is how a reader detects the restart landed (see
    * [[insertEdgesAt]]). None for a bootstrapped or inferred base. */
  private def foldCutAt(indexDir: String,
      vB: Option[Int]): Option[(String, Int, Int)] =
    vB.flatMap(v => SnapshotTable.metaOf(baseTab(indexDir), v))
      .flatMap(m => CutRe.findFirstMatchIn(m)
        .map(mm => (m, mm.group(1).toInt, mm.group(2).toInt)))

  private def projIns(df: DataFrame): DataFrame =
    df.select(col("query_id").as("vec_id"), col("neighbor_id"))

  private def projDel(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("del_id")).distinct()

  /** Streamed-insert edges BEYOND the base's fold cut, as
    * (vec_id, neighbor_id), pinned to edges-table version `vI`.
    *
    * The prefix subtraction is applied ONLY inside the fold's crash
    * window (round-14 verdict 4 / advice: the first cut paid an
    * `except` — a full scan + distinct-shuffle of the folded prefix —
    * on EVERY post-fold read forever, and pinned the pre-fold
    * manifest against vacuum). Detection is by the fold's own
    * protocol: the delta RESTART commits at version cut+1 carrying
    * the base's fold marker as its meta, so
    *   - restart landed (healthy post-fold index): the current delta
    *     holds only post-restart appends — read it directly;
    *   - pinned at the cut itself: the delta beyond the cut is empty
    *     by definition — no scan at all;
    *   - crash window (versions past the cut whose restart never
    *     committed): subtract the folded prefix, the exactness rule. */
  private def insertEdgesAt(spark: SparkSession, indexDir: String,
      vI: Option[Int], cut: Option[(String, Int, Int)]): Option[DataFrame] =
    deltaBeyondCut(spark, edgesTab(indexDir), vI,
      cut.map { case (m, ci, _) => (m, ci) }, projIns,
      s => { import s.implicits._
        Seq.empty[(Long, Long)].toDF("vec_id", "neighbor_id") })

  /** Tombstones BEYOND the base's fold cut as one `del_id` column,
    * pinned to delete-table version `vD` (see [[insertEdgesAt]]). */
  private def tombstonesAt(spark: SparkSession, indexDir: String,
      vD: Option[Int], cut: Option[(String, Int, Int)]): Option[DataFrame] =
    deltaBeyondCut(spark, delTab(indexDir), vD,
      cut.map { case (m, _, cd) => (m, cd) }, projDel,
      s => { import s.implicits._
        Seq.empty[Long].toDF("del_id") })

  private def deltaBeyondCut(spark: SparkSession, tab: String,
      vCur: Option[Int], cut: Option[(String, Int)],
      proj: DataFrame => DataFrame,
      empty: SparkSession => DataFrame): Option[DataFrame] =
    vCur.map { v =>
      cut match {
        case Some((_, c)) if c >= 0 && v == c =>
          // pinned AT the cut: nothing beyond it by definition — a
          // local empty frame, no control-plane reads at all
          // (round-19 read-budget trim: this path read the table's
          // manifest AND meta just to limit(0) the scan; the healthy
          // post-fold steady state hits it on every serve)
          empty(spark)
        case Some((marker, c)) if c >= 0 &&
            !SnapshotTable.metaOf(tab, c + 1).contains(marker) =>
          // crash window: the restart at cut+1 never committed (the
          // version either does not exist or is a post-abort epoch's
          // append) — subtract the folded prefix for exactness
          proj(SnapshotTable.read(spark, tab, v))
            .except(proj(SnapshotTable.read(spark, tab, c)))
        case Some((_, c)) if c >= 0 && v == c + 1 =>
          // the CURRENT version IS the landed restart (the guard
          // above read its meta and matched the marker): its content
          // is the fold protocol's 0-row commit — no manifest read,
          // no scan (round-19: the healthy just-folded steady state
          // paid both on every serve just to observe emptiness).
          // c >= 0 is LOAD-BEARING: a cut of -1 means the table had
          // no version at fold time and NO restart was committed —
          // v = 0 is then the first real epoch's rows, not a restart
          // (caught by LifecycleCrossProcessSpec's drained-equality).
          empty(spark)
        // no cut, or post-restart epochs appended: read directly
        case _ => proj(SnapshotTable.read(spark, tab, v))
      }
    }

  private def baseEdgesAt(spark: SparkSession, d: String,
      indexDir: String, vB: Option[Int],
      vI: Option[Int]): DataFrame =
    vB.map(v => SnapshotTable.read(spark, baseTab(indexDir), v)
        .select(col("vec_id"), col("neighbor_id")))
      .getOrElse(
        if (vI.isDefined) SimilarityQueries.insertFreeBaseGraph(spark, d)
        else SimilarityQueries.fullCorpusGraph(spark, d))

  /** CONSISTENT three-pointer capture (base, edges, deleted) for the
    * read-resolve verbs: the reads are sequential, and a fold's
    * base-FIRST multi-table commit can straddle them — old base +
    * post-fold restarted delta silently drops every pre-fold insert
    * (the round-19 torn-capture class, fixed for the serving path in
    * searchAttempt.materialize; these public verbs had the same
    * unguarded window). Re-reading the base LAST proves consistency:
    * base unchanged across the whole capture means no unseen restart
    * can be in the delta pointers (the crashed-fold fast path
    * re-restarts without a base bump, but there the captured base's
    * meta already carries the cut marker — consistent by the
    * restart-landed branch). A moved base just recaptures; three
    * straddles in a row means fold turnover outpaces reads — loud. */
  private def consistentCapture(indexDir: String)
      : (Option[Int], Option[Int], Option[Int]) = {
    var tries = 0
    while (tries < 3) {
      val vB = SnapshotTable.currentVersionOf(baseTab(indexDir))
      // shared test seam with the serving capture (always None
      // outside tests): lands a fold inside the straddle window
      midCaptureTestHook.foreach(h => h())
      val vI = SnapshotTable.currentVersionOf(edgesTab(indexDir))
      val vD = SnapshotTable.currentVersionOf(delTab(indexDir))
      if (SnapshotTable.currentVersionOf(baseTab(indexDir)) == vB)
        return (vB, vI, vD)
      tries += 1
    }
    throw new TornCaptureException(
      s"base of $indexDir kept advancing across 3 capture attempts " +
      "(fold turnover outpaces this reader)")
  }

  /** Committed streamed-insert edges beyond the fold cut, or None
    * when no insert epoch has committed. */
  def insertEdges(spark: SparkSession,
      indexDir: String): Option[DataFrame] = {
    val (vB, vI, _) = consistentCapture(indexDir)
    insertEdgesAt(spark, indexDir, vI, foldCutAt(indexDir, vB))
  }

  /** Committed tombstones beyond the fold cut (the repair delta) as
    * one `del_id` column, or None when no delete epoch committed. */
  def tombstones(spark: SparkSession,
      indexDir: String): Option[DataFrame] = {
    val (vB, _, vD) = consistentCapture(indexDir)
    tombstonesAt(spark, indexDir, vD, foldCutAt(indexDir, vB))
  }

  /** ALL ids ever retired from this index (see [[retiredTab]]), or
    * None when no delete epoch has committed. */
  def retiredIds(spark: SparkSession,
      indexDir: String): Option[DataFrame] =
    if (committed(retiredTab(indexDir)))
      Some(SnapshotTable.read(spark, retiredTab(indexDir))
        .select("vec_id").distinct())
    else None

  /** READ-TIME RESOLUTION: the maintained graph, derived from the
    * committed sets (see class doc). The prune is a distributed
    * filter; the repair is coordinator work over the tombstones'
    * neighbourhoods (SimilarityQueries.deleteRepairCore), so the call
    * collects O(|tombstones|·deg) rows, within fixed caps, before it
    * returns; a state past the caps repairs as a distributed plan. */
  def maintainedEdges(spark: SparkSession, d: String,
      indexDir: String): DataFrame = {
    val (vB, vI, vD) = consistentCapture(indexDir)
    maintainedAt(spark, d, indexDir, vB, vI, vD)
  }

  /** [[maintainedEdges]] with every table read PINNED to a version —
    * the serving path and the fold derive from a consistent snapshot
    * of the index regardless of concurrent epoch commits. */
  private def maintainedAt(spark: SparkSession, d: String,
      indexDir: String, vB: Option[Int], vI: Option[Int],
      vD: Option[Int],
      // the tombstones at vD when the caller has read them already
      readDel: Option[Option[DataFrame]] = None): DataFrame = {
    val cut = foldCutAt(indexDir, vB)
    maintainedFrom(spark, d, baseEdgesAt(spark, d, indexDir, vB, vI),
      insertEdgesAt(spark, indexDir, vI, cut),
      readDel.getOrElse(tombstonesAt(spark, indexDir, vD, cut)))
  }

  /** `del` collected once, under the repair's delete cap, and handed on
    * as a local frame the repair reads with no job; past the cap, `del`
    * itself (a truncated frame would repair the wrong set). */
  private def collectedTombstones(spark: SparkSession,
      del: DataFrame): DataFrame = {
    import spark.implicits._
    val cap = SimilarityQueries.RepairMaxDeletes
    val ids = del.select("del_id").limit(cap + 1).as[Option[Long]].collect()
    if (ids.length > cap) del else ids.toSeq.toDF("del_id")
  }

  /** The live graph (base plus inserts), pruned and repaired against
    * the tombstones when there are any. A folded index keeps a
    * committed-but-EMPTY tombstone delta; the repair's delete-set
    * collect finds it empty and returns the live graph untouched. */
  private def maintainedFrom(spark: SparkSession, d: String,
      base: DataFrame, ins: Option[DataFrame],
      del: Option[DataFrame]): DataFrame = {
    val live = ins.map(base.unionByName(_)).getOrElse(base)
    del.fold(live)(dl => SimilarityQueries.deleteRepairCore(spark, live, dl,
      graft.operators.DedupQueries.quantizedWhere(spark, d)))
  }

  /** Knobs (H, B) recorded by the last [[search]] walk —
    * observability, mirroring the batch ops' knob refs. */
  val searchKnobs =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** An index dir lives while any of its four tables has a committed
    * CURRENT, read through the SnapshotTable control plane — never a
    * local stat (an object-store index dir is no local directory, so a
    * stat would drop the live entry at every sweep and recompute the
    * corpus-sized centroid aggregation the cache exists to amortize). */
  private val indexLive: graft.Resident.Probe = (_, dir) =>
    Seq(baseTab(dir), edgesTab(dir), delTab(dir), retiredTab(dir))
      .exists(committed)

  // centroid coordinator table per served index: nlist rows
  // (require()-bounded in the walk), tagged with the RETIRED-STATE it
  // was computed at and replaced only when that advances — the table
  // depends solely on the dataset and the retired set, so insert/fold
  // advances reuse it (round-17 review: the verTag-keyed form
  // re-aggregated the corpus after every insert epoch for nothing).
  private[graft] val centroids = graft.Resident
    .kind[(String, Array[(Long, Array[Long])])]("serving centroids",
      indexLive)

  // the retired-filtered quantized corpus each served index walks,
  // PERSISTED once per retired-state and probed by every hop of every
  // search on that state (see searchAttempt); the tag is the
  // retired-table version@digest the entry was filtered at, replaced
  // (old blocks unpersisted) when a delete epoch advances it.
  private[graft] val servingCorpus =
    graft.Resident.corpusKind("serving corpus", indexLive)

  /** What a served index's walk holds on the driver under the
    * WalkGraph caps: the retired-filtered corpus (tagged, like the
    * persisted corpus, with the retired state it was filtered at) and
    * the adjacency of the last serving version walked, keyed by the
    * digest of that version's file list — never the version number
    * alone, so a dropped and recreated index never walks the dead
    * incarnation's graph. */
  private[graft] final case class ServingWalk(corpus: WalkCorpus,
      adj: Option[(String, WalkAdjacency)]) {
    def bytes: Long = corpus.bytes + adj.fold(0L)(_._2.bytes)
  }

  // one per served index; counted by the process's corpus bound
  private[graft] val servingWalks =
    graft.Resident.heldKind[ServingWalk]("serving walk graph", indexLive)

  /** Resident bytes per served index's held walk state — the
    * persisted corpus's cached blocks (memory + disk) past the walk
    * caps, the driver-held walk graph under them — keyed
    * `<appId>|<indexDir>`: the number the corpus bound should be sized
    * from (round-18 verdict 5: an entry count says nothing about
    * memory; the SCALE_STREAM stamps carry this per factor).
    * Unmaterialized entries report 0; nothing here forces a fill. */
  def corpusCacheResidentBytes: Map[String, Long] =
    (servingCorpus.entries.toSeq ++ servingWalks.entries.toSeq)
      .groupMapReduce { case (k, _) => s"${k.app}|${k.dir}" }(
        _._2.residentBytes)(_ + _)

  /** SERVE top-3 search over the LIVE index — the user-facing verb
    * the two maintenance streams exist for. The caller's query
    * vectors (vec_id, embedding) are quantized by the intake's exact
    * rule, and v20's budget-bounded beam walks the maintained graph
    * over the corpus minus ALL retired ids — so results can include
    * streamed inserts and can never include a deleted id.
    * Row-identical to v27's batch search on the drained state
    * (spec-pinned, StreamingLifecycleSpec).
    *
    * Consistency: all four table versions are captured ONCE up front
    * and every read is pinned to them, so a maintenance epoch
    * committing mid-search cannot tear the view (review-caught: the
    * unpinned form could return a just-retired id and poison the
    * per-version caches). A search serves the index state as of its
    * version capture — the streaming-read contract.
    *
    * Scale: the maintained graph is materialized into the index's
    * own `serving/` snapshot table keyed by the version tag —
    * repeated searches on an unchanged index adopt it, an epoch
    * commit invalidates it content-addressed, and a vacuum to the
    * last 2 versions bounds the disk footprint (the ONLY data-sized
    * serving cost, paid once per index state). The centroid
    * coordinator table is likewise computed once per state. The walk
    * itself is the committed Q-bounded coordinator contract with
    * bounded driver state under absolute caps, per-hop fetch past
    * them: under the WalkGraph caps (checked from parquet footer row
    * counts before anything is collected) the process holds the
    * walk's corpus once per retired state and its graph once per
    * serving version, and a warm search's walk runs no Spark job;
    * past a cap the corpus is persisted instead and every hop is one
    * pushed-filter probe. The query intake is bounded by a limit
    * BEFORE any driver materialization, the same discipline as the
    * insert epoch's. */
  def search(spark: SparkSession, d: String, indexDir: String,
      queries: DataFrame, maxQ: Int = 4096): DataFrame =
    searchWith(spark, d, indexDir, queries, maxQ, WalkGraph.DefaultCaps)

  /** [[search]] under the given walk caps (specs pass WalkGraph.PerHop
    * or small caps to compare the per-hop walk). */
  private[graft] def searchWith(spark: SparkSession, d: String,
      indexDir: String, queries: DataFrame, maxQ: Int,
      caps: WalkGraph.Caps): DataFrame =
    try searchAttempt(spark, d, indexDir, queries, maxQ, caps)
    catch {
      // RETRY-ONCE on the vacuum-contract residual (round-15 verdict
      // 4): a vacuum landing while THIS search's walk jobs are already
      // scanning its pinned files kills those jobs with a
      // missing-file failure — never a torn result, but previously a
      // loud crash the caller had to retry. keepVersions=2 means two
      // full newer-state materializations completed inside one walk,
      // so the retried attempt (a fresh version capture of the
      // then-current state) pays exactly a cache-miss cost and is
      // consistent by the same pinning argument as any first attempt.
      // The walk's result set is driver-built (beamWalkCore returns a
      // localized DataFrame), so every pinned-file read happens inside
      // the attempt — one retry covers the whole search. Guarded to
      // the missing-file cause shapes only: bound violations
      // (IllegalArgumentException) and real failures propagate, and a
      // second missing-file failure propagates too (two vacuums
      // racing two attempts means the caller's polling is slower than
      // the index's entire state turnover — page the operator).
      case e: Throwable
          if isMissingFileFailure(e) ||
            e.isInstanceOf[TornCaptureException] =>
        // observable retry (round-17 advice): log the swallowed first
        // failure so a deployment can see the race frequency, and
        // count it for the cross-process spec's no-torn-result check.
        // TornCaptureException (round-19) rides the same contract:
        // the version capture straddled a fold — a fresh capture is
        // consistent by the same pinning argument, and a second
        // straddle means fold turnover outpaces the serve (page the
        // operator, exactly like the double vacuum race).
        statsOf(spark, indexDir).retries.incrementAndGet()
        System.err.println("[lifecycle-search] " +
          (if (e.isInstanceOf[TornCaptureException])
            "version capture straddled a fold"
          else "pinned files vanished mid-walk (concurrent vacuum)") +
          " — retrying once with a fresh version capture: " +
          s"${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(200)}")
        searchAttempt(spark, d, indexDir, queries, maxQ, caps)
    }

  /** PER-INDEX observability (round-17 verdict 3): a process serving
    * many indexes — the deployment the corpus cache exists for —
    * cannot attribute retries or latency budgets with process-global
    * atomics. A few machine words per index, swept and released with
    * the index's caches. */
  private[graft] final class ServeStats {
    val retries = new java.util.concurrent.atomic.AtomicLong(0)
    // serveResolve early stops (round-19 advice 3): the verTagOlder
    // predicate stopped the resolve scan at CURRENT. One per
    // state-change miss is the designed behavior; a count far above
    // the index's state-change count means resolves are early-stopping
    // REPEATEDLY for one target — the cross-process stale/fresh
    // overwrite interleaving that skips a retained adoptable version
    // (spurious full rematerializes, never wrong results)
    val earlyStops = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var phases: Seq[(String, Double)] = Seq.empty
    @volatile var mode = ""
  }

  private[graft] val stats =
    graft.Resident.kind[ServeStats]("serving stats", indexLive)

  private def statsOf(spark: SparkSession, indexDir: String): ServeStats =
    stats.getOrElseUpdate(graft.Resident.key(spark, indexDir))(
      new ServeStats)

  private def statsFor(indexDir: String): Option[ServeStats] =
    graft.Resident.activeKey(indexDir).flatMap(stats.get)

  /** serveResolve early stops (verTagOlder fired at CURRENT) FOR
    * this index — see [[ServeStats]] for how to read it. */
  def resolveEarlyStopsFor(indexDir: String): Long =
    statsFor(indexDir).map(_.earlyStops.get()).getOrElse(0L)

  /** Serving-race retries [[search]] absorbed FOR this index — a
    * vacuum eating pinned files mid-walk OR a fold straddling the
    * version capture (round 19); the stderr mirror names which. */
  def searchRetriesFor(indexDir: String): Long =
    statsFor(indexDir).map(_.retries.get()).getOrElse(0L)

  /** Wall seconds per phase of this index's LAST [[search]] attempt
    * — the serving read-path latency budget (round-17 stretch 7),
    * stamped per factor by StreamMaintenanceScale so the next serving
    * optimization is chosen from a measured breakdown. Emitted
    * order: `intake` (ONE limit-bounded quantize+collect — the
    * separate count job is gone), `centroid_cache` (the pinned
    * version capture plus the coordinator table, recomputed over the
    * not-yet-persisted plan only on a retired-state change),
    * `version_resolve` (corpus pin + LRU bound + serving-tag
    * match), `serve_materialize` (nonzero only on a state-change
    * miss), `serving_read` (manifest + plan), then the walk's own
    * phases (SimilarityQueries.lastWalkPhases). */
  def lastSearchPhasesFor(indexDir: String): Seq[(String, Double)] =
    statsFor(indexDir).map(_.phases).getOrElse(Seq.empty)

  /** Control-plane reads issued against this index's five table dirs
    * — the per-index read budget, in the unit an object store bills
    * HTTP GETs in (delegates to the backend layer's per-dir
    * attribution; every table of an index lives under indexDir). */
  def controlPlaneReadsFor(indexDir: String): Long =
    graft.warehouse.CommitBackends.controlPlaneReadsFor(indexDir)

  /** True when the failure's cause chain is a missing-data-file shape
    * — what a concurrent vacuum leaves behind — and nothing else.
    * Spark wraps executor-side FileNotFoundException in
    * SparkException; in-process reads throw NoSuchFileException (the
    * java.nio shape `Files.readAllLines` uses, which does NOT extend
    * FileNotFoundException — the round-15 advice catch gap). */
  private[graft] def isMissingFileFailure(t: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set[Throwable]()
    Iterator.iterate(t)(_.getCause)
      .takeWhile(c => c != null && seen.add(c))
      .exists {
        case _: java.io.FileNotFoundException => true
        case _: java.nio.file.NoSuchFileException => true
        // a mid-walk task failure surfaces as SparkException with the
        // TYPED error condition FAILED_READ_FILE.FILE_NOT_EXIST
        // (Spark 4's FileDataSourceV2.attachFilePath shape) — match
        // the condition, never prose like "does not exist"
        // (review-caught: an AnalysisException over a mis-wired path
        // carries that phrase too, and retrying a deterministic
        // misconfiguration doubles its time-to-error). The message
        // fallback covers executor-serialized failures that lose the
        // condition but leak the cause's class name.
        case c: org.apache.spark.SparkException =>
          Option(c.getCondition)
            .contains("FAILED_READ_FILE.FILE_NOT_EXIST") ||
            // executor-serialized failures can lose the typed
            // condition but keep the cause class name in the message
            // — scope the fallback to TASK-failure message shapes
            // (round-17 advice: a deterministic misconfiguration
            // whose wrapped message merely leaks the class name must
            // not earn a silent retry that doubles time-to-error)
            Option(c.getMessage).exists(m =>
              m.contains("FileNotFoundException") &&
                (m.contains("FAILED_READ_FILE") ||
                  m.contains("stage failure") ||
                  m.contains("Lost task") ||
                  m.contains("Task failed")))
        case _ => false
      }
  }

  /** How the last [[search]] OF THIS INDEX obtained its serving
    * snapshot — "adopt" (warm: the committed state matched), "delta"
    * (state change applied incrementally onto the previous snapshot)
    * or "full" (complete rewrite). */
  def lastServeModeFor(indexDir: String): String =
    statsFor(indexDir).map(_.mode).getOrElse("")

  /** 8-hex digest of a data-file list — the serving meta's edge-
    * prefix marker (`|e<count>@<digest>`): a serving commit records
    * how many edge-manifest entries its state was built over plus
    * this digest of them, so the NEXT state's delta serve can derive
    * its file diff from the current edges manifest ALONE (prefix
    * check by digest, order-sensitive — strictly stronger than the
    * old subset check) instead of re-reading the previous one: one
    * control GET per state change (round-19 verdict 1). The recipe
    * lives in SnapshotTable next to the manifest serialization it
    * must stay equal to. */
  private def filesDigest(files: Seq[String]): String =
    SnapshotTable.digestOfFiles(files)

  private def edgeSuffix(files: Seq[String]): String =
    "|e" + files.size + "@" + filesDigest(files)

  /** True when `scanned` (a serving meta `vB_vI_vD_vR|fmt`) denotes a
    * STRICTLY OLDER index state than `target`: every version
    * component ≤ target's with at least one <. The four table
    * versions only ever advance, so once the resolve scan sees an
    * older tag no deeper serving version can match a newer target —
    * SnapshotTable.serveResolve may stop without probing the rest of
    * the retained suffix (a state-change miss then costs ONE control
    * read instead of two per retained version). Unparseable or
    * mixed-direction tags — a dropped and recreated index resets
    * components — return false: keep scanning, correctness over
    * savings.
    *
    * ACCEPTED LIMITATION (round-19 review): the early stop assumes
    * serving versions commit in monotone STATE order. Two serving
    * processes can violate that — a stale-pinned process's
    * collision-retried overwrite can land an older-state snapshot
    * ABOVE a newer one — and the stop then skips a retained
    * adoptable version, costing one spurious full rematerialize
    * (never a wrong result: the resolve still matches only exact
    * metas). Self-healing (the rewrite recommits the newest state on
    * top) and only reachable under cross-process stale/fresh serve
    * interleaving; accepted over re-paying two reads per retained
    * version on every state-change miss. */
  private[graft] def verTagOlder(scanned: String,
      target: String): Boolean = {
    def parse(m: String): Option[Array[Int]] = {
      val parts = m.split("\\|")
      if (parts.length < 2) None // suffix parts (|e…) are irrelevant
      else {
        val t = parts(0).split("_", -1)
        if (t.length != 4) None
        else try Some(t.map(s => if (s == "-") -1 else s.toInt))
        catch { case _: NumberFormatException => None }
      }
    }
    (parse(scanned), parse(target)) match {
      case (Some(a), Some(b)) =>
        a.zip(b).forall { case (x, y) => x <= y } && !a.sameElements(b)
      case _ => false
    }
  }

  private def searchAttempt(spark: SparkSession, d: String,
      indexDir: String, queries: DataFrame, maxQ: Int,
      caps: WalkGraph.Caps): DataFrame = {
    import spark.implicits._
    val phases = scala.collection.mutable.Buffer.empty[(String, Double)]
    var phT = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - phT) / 1e9
      phT = now
    }
    // bounded intake: the LIMIT bounds what can ever reach the driver
    // (maxQ+1 rows, distributed-side), so the length check after ONE
    // collect is as safe as the former separate count job and saves a
    // full pass over the query set per search (round-17 latency
    // budget: intake was a fifth of the warm wall after the hop fix)
    val qrows = queries.limit(maxQ + 1)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("r"))
      .withColumn("nn", aggregate(transform(col("r"), x => x * x),
        lit(0L), (acc, v) => acc + v))
      .select("vec_id", "r", "nn")
      .as[(Long, Array[Long], Long)].collect()
    require(qrows.length <= maxQ,
      s"query set exceeds the $maxQ serving bound — page the request")
    lap("intake")
    // ONE consistent version capture; every read below is pinned.
    // The four reads are SEQUENTIAL, so a fold's multi-table commit
    // can straddle them — the harmful shape (old base + post-fold
    // restarted delta, which would silently drop every pre-fold
    // insert from the materialized graph) is closed by the torn-
    // capture guard in materialize() below, which exploits the
    // fold's base-FIRST commit order.
    val vB = SnapshotTable.currentVersionOf(baseTab(indexDir))
    // test seam: lets the torn-capture spec land a full fold between
    // the base read and the delta-table reads — the straddle that is
    // otherwise nondeterministic to hit. Always None outside tests.
    midCaptureTestHook.foreach(h => h())
    val vI = SnapshotTable.currentVersionOf(edgesTab(indexDir))
    val vD = SnapshotTable.currentVersionOf(delTab(indexDir))
    val vR = SnapshotTable.currentVersionOf(retiredTab(indexDir))
    val verTag = Seq(vB, vI, vD, vR)
      .map(_.map(_.toString).getOrElse("-")).mkString("_")
    // the serving snapshot's meta = state tag + FORMAT marker (sym1 =
    // pre-symmetrized edges; see materialize below)
    val servingMeta = verTag + "|sym1"
    lap("version_capture") // 4 control reads — sub-lap of the old
    // centroid_cache window (round 21, §1.1 attribution)
    val nAll = graft.operators.DedupQueries.quantized(spark, d)
    // ONE manifest read pins the retired table: the incarnation
    // digest (for the cache tags below) and the file list (for the
    // anti-join scan) come from the same bytes (round-19 read-budget
    // trim — and it CLOSES the torn window the round-17 degraded-tag
    // machinery guarded: digest and files can no longer disagree). A
    // manifest vanished between the version capture and this read (a
    // racing vacuum/drop) throws the same missing-file shape
    // SnapshotTable.read threw here before, which the retry-once
    // contract absorbs — never a torn result.
    val retiredPin = vR.map(v => SnapshotTable
      .manifestDigestAndFiles(retiredTab(indexDir), v)
      .getOrElse(throw new java.nio.file.NoSuchFileException(
        s"${retiredTab(indexDir)}/_versions/v$v.manifest (vacuumed " +
        "between the version capture and the pinned read)")))
    // the search corpus excludes everything EVER retired — the
    // cumulative set, NOT the fold-bounded repair delta: filtering by
    // the delta alone would let a fold resurrect dead vectors into
    // the centroid/seed corpus (the spec-caught round-14 bug)
    val nRaw = retiredPin.map { case (_, files) =>
        nAll.join(Parquet.read(spark, files: _*)
          .select("vec_id").distinct(),
        Seq("vec_id"), "left_anti")
      }
      .getOrElse(nAll)
    lap("retired_pin") // manifest read + corpus-plan construction
    // CACHED per retired-state (round-17 serving budget: the walk's
    // per-hop probe joins the corpus side every hop — H parquet scans
    // of the byte-heavy quantized arrays per search, the measured
    // scaling term of the warm path). The corpus depends ONLY on the
    // dataset and the retired set at vR — not on vB/vI/vD — so the
    // entry survives insert/fold state advances and is replaced (old
    // blocks unpersisted) only when a delete epoch moves vR.
    // MEMORY_AND_DISK: at corpus scale the quantized working set is
    // the ANN serving tier's resident index — executors hold what
    // fits and spill the rest locally, still strictly cheaper than
    // re-reading+re-anti-joining the source parquet every hop.
    // Correctness never depends on the cache: an unpersisted or
    // evicted entry recomputes from the same pinned reads, and a
    // vacuum racing a cached partition's recompute surfaces the same
    // missing-file shapes the retry-once contract already absorbs.
    // the corpus tag is INCARNATION-SAFE (third review pass): version
    // NUMBER alone collides when an index is dropped and recreated at
    // the same dir and the new incarnation's delete epochs catch up
    // to the old count with no search in between — a bare-version
    // tag match would then serve the DEAD incarnation's cached
    // corpus (its plan pinned the old manifest's file list; cached
    // blocks could silently answer with the old retired set). The
    // manifest digest embeds per-commit UUID paths, so equal version
    // numbers across incarnations can never produce equal tags. One
    // extra control-plane read per search, inside the pinned-read
    // budget Round17Spec counts.
    // The digest comes from the SAME read as the file list above, so
    // the tag can never be torn from the corpus it names.
    val corpusTag = (for (v <- vR; (digest, _) <- retiredPin)
      yield s"$v@$digest").getOrElse("-")
    // tag age for FORWARD-ONLY cache rotation (review finding): a
    // search still pinned to an older retired-state must never
    // rotate the shared per-index slot backwards — that would
    // unpersist the newer state's freshly-filled corpus and force
    // the next current-state search to pay another full fill
    // (per-search refill thrash under delete turnover). "-" (no
    // retired table yet) is older than any version; the age is the
    // version-number prefix of the digest-qualified tag.
    def tagAge(t: String): Int =
      if (t == "-") -1 else t.takeWhile(_ != '@').toInt
    // a held tag NEWER than the retired table's LIVE version is not a
    // transient stale race — it is residue of an index DROPPED and
    // RECREATED at the same dir (second-pass review: forward-only
    // rotation alone would wedge both caches forever on that shape,
    // serving a dead incarnation's entry and recomputing centroids
    // privately on every search). Lazy: only the rare stale branches
    // pay the one control-plane read.
    lazy val liveRetiredTag = SnapshotTable
      .currentVersionOf(retiredTab(indexDir))
      .map(_.toString).getOrElse("-")
    def orphanedTag(heldTag: String): Boolean =
      tagAge(heldTag) > tagAge(liveRetiredTag)
    // the rule of every per-retired-state entry: keep the current
    // entry, and a NEWER one a stale-state search must not displace
    // unless it is an orphan
    def keeps(heldTag: String): Boolean = heldTag == corpusTag ||
      (tagAge(heldTag) > tagAge(corpusTag) && !orphanedTag(heldTag))
    val ck = graft.Resident.key(spark, indexDir)
    // THE WALK CORPUS ON THE DRIVER when the corpus's footer row count
    // fits the vector cap (checked before anything is collected): one
    // collect per retired state, held in the index's walk entry; a
    // stale-state search collects its own and displaces nothing. Past
    // the cap: None, and the persisted corpus below serves the walk.
    val walkCorpus: Option[WalkCorpus] =
      servingWalks.get(ck)
        .filter(e => e.tag == corpusTag &&
          e.value.corpus.size <= caps.vectors)
        .map(_.touch().value.corpus)
        .orElse {
          val bound = WalkGraph.corpusBound(spark, d)
          if (bound > caps.vectors) None
          else {
            def fill(): WalkCorpus = WalkGraph.corpus(nRaw, bound, caps).get
            val e = servingWalks.update(ck) {
              case Some(old) if keeps(old.tag) => old.touch()
              case _ =>
                val c = fill()
                new graft.Resident.Held(corpusTag, ServingWalk(c, None),
                  c.bytes)
            }
            Some(if (e.tag == corpusTag) e.value.corpus else fill())
          }
        }
    lap("corpus_fill")
    // centroid coordinator BEFORE the corpus persist (the
    // agg-over-fill hazard, same as the stream side — see
    // streamInsertEdges): a state-change recompute over the
    // not-yet-persisted plan runs as a codegen parquet aggregation;
    // run after the persist below it would execute on top of the
    // cache's fresh fill, materializing every row twice. Warm
    // searches hit the held entry either way. KEYED BY THE
    // RETIRED-STATE, not the full version tag (review finding): the
    // centroid table depends only on the dataset and the retired set
    // at vR — the old verTag key re-aggregated the whole corpus
    // after every insert/fold advance for nothing. (The version
    // capture above is billed into this phase — 4 control reads.) A
    // held walk corpus sums the table on the driver with no job.
    val cents = {
      def table = walkCorpus.flatMap(_.centroids)
        .getOrElse(SimilarityQueries.centroidTable(spark, nRaw))
      val centsEntry = centroids.update(ck) {
        case Some(old) if keeps(old._1) => old
        case _ => (corpusTag, table)
      }
      if (centsEntry._1 == corpusTag) centsEntry._2
      // stale-state search: compute privately, never displace the
      // newer entry (rare — the caller pinned before a delete epoch)
      else table
    }
    lap("centroid_cache")
    // true when the walk below runs over the shared cached corpus;
    // false = this search's private pinned corpus (stale state),
    // dropped at the end of the attempt
    var corpusFromCache = false
    val n = if (walkCorpus.isDefined) {
      // one copy: under the caps the driver arrays are the corpus
      servingCorpus.remove(ck)
      nRaw
    } else {
      // one copy: past the caps the persisted corpus serves the walk
      servingWalks.remove(ck)
      var rotated: Option[graft.Resident.Corpus] = None
      val corpusEntry = servingCorpus.update(ck) {
        case Some(old) if keeps(old.tag) =>
          // the current entry, or a NEWER one a stale-state search
          // must keep (see tagAge). Re-pin: a batch harness's
          // PersistRegistry.release() can uncache a plan IDENTICAL to
          // this entry's (CacheManager is keyed by plan, not by
          // Dataset) — without this the entry would silently serve
          // unpersisted. Touch: an untouched live entry would be the
          // first LRU victim.
          PersistRegistry.ensurePinned(old.df)
          old.touch()
        case old =>
          // rotation. ensurePinned consults the CacheManager BY PLAN:
          // another index over the same dataset with no retired set
          // yet can already hold the identical plan — reuse it
          // instead of re-persisting (which would only log a warn)
          rotated = old
          new graft.Resident.Corpus(corpusTag,
            PersistRegistry.ensurePinned(nRaw))
      }
      rotated.foreach(c => graft.Resident.unpersistUnlessHeld(c.df))
      // a stale-state search walks its own pinned (uncached) corpus
      corpusFromCache = corpusEntry.tag == corpusTag
      if (corpusFromCache) corpusEntry.df else nRaw
    }
    // bound the held corpora of the whole process (an entry cap and a
    // byte budget, LRU, persisted and driver-held together): the
    // dead-index sweep bounds nothing for a process legitimately
    // serving MANY indexes, each entry data-sized (round 19 measured
    // 1.1 → 215 MB/entry from 1× to 200× corpus scale). This search's
    // own entry is never evicted; an evicted index's next search
    // refills.
    graft.Resident.bound(spark, ck)
    val sTab = servingTab(indexDir)
    // PINNED serving read (round-14 advice): resolve the serving
    // version whose meta equals THIS search's verTag and read exactly
    // it — reading CURRENT would let a concurrent search for a newer
    // index state overwrite serving/ between the tag match and the
    // read (walking the newer graph against the older pinned retired
    // filter: a torn view), and its vacuum(keepVersions=2) could
    // delete the files a slower in-flight search was about to adopt
    // after two quick state advances. A missing/vacuumed match is a
    // cache miss: rematerialize under the same tag and pin to the
    // returned version.
    //
    // ONE-PASS RESOLVE (round-19 verdict 1): serveResolve reads the
    // CURRENT line once (version + inline meta), stops a state-change
    // miss immediately via the verTag monotonicity predicate, and
    // hands back every manifest it read — the version capture,
    // the delta diff base, the post-commit sweep and the serving read
    // below all reuse it instead of re-issuing the same GETs (the
    // delta path read the serving manifest three times and CURRENT
    // twice per state change; on an object store each is an RTT).
    // metas are matched by PREFIX: a stored serving meta is
    // `verTag|sym1` optionally followed by the `|e…` edge-prefix
    // marker (see edgeSuffix) — the marker depends on commit-time
    // state the resolve target cannot know, and the verTag alone
    // pins the index state (a state's marker is deterministic, so
    // two different suffixes can never coexist under one verTag)
    val acceptServing =
      (m: String) => m == servingMeta || m.startsWith(servingMeta + "|")
    val svr = SnapshotTable.serveResolve(sTab, servingMeta, verTagOlder,
      acceptServing)
    // count the early stop (round-19 advice 3): miss AND the
    // monotonicity predicate fired on CURRENT's meta — free to
    // detect here (both values are already in hand), and the stamp
    // trend is what would surface the cross-process interleaving
    // verTagOlder's doc accepts
    if (svr.matched.isEmpty &&
        svr.curMeta.exists(m => verTagOlder(m, servingMeta)))
      statsOf(spark, indexDir).earlyStops.incrementAndGet()
    lap("version_resolve")
    // manifests this attempt holds in hand, keyed by version — grown
    // by the materialize paths, consumed by the pinned sweep and the
    // serving read (never re-read from the control plane)
    val heldManifests =
      scala.collection.mutable.Map.empty[Int, Seq[String]] ++=
        svr.manifests
    // INCREMENTAL SERVE-MATERIALIZE (round-17 verdict 5): under
    // insert-epoch turnover — the high-frequency state change of a
    // live index — the previous serving snapshot and the new one
    // differ by exactly the epoch's appended edges: same base (no
    // fold), same tombstone state (empty delta, so the maintained
    // graph is just base ∪ inserts — set-monotone under append), so
    //   serving_new = serving_old ∪ (sym(delta) \ serving_old).
    // The delta rows come straight from the edges table's appended
    // FILES (manifests are append-only between folds — no row-level
    // diff job), the dedup anti-join touches only serving rows whose
    // vec_id appears in the delta (one broadcast-semi-filtered SCAN
    // of the previous snapshot — no shuffle of the big side), and
    // the commit APPENDS the delta files onto the previous version's
    // manifest (SnapshotTable.appendFromKnown, pinned CAS): the full
    // symmetrize+distinct shuffle AND the full O(|graph|) rewrite —
    // the two data-sized terms of serve_materialize — are replaced
    // by epoch-sized work plus one read pass. Every guard failure
    // (fold moved the base, tombstones pending, foreign commit,
    // vacuumed prev, fragmented manifest) falls back to the full
    // rewrite below; row-identity of the two paths is spec-pinned
    // (Round18Spec).
    // the tombstones at vD once the delta guard has read them, handed
    // to the full path's repair instead of read again
    var guardTombstones: Option[Option[DataFrame]] = None
    def deltaMaterialize(): Option[(Int, Seq[String])] = {
      val vIc = vI.getOrElse(return None)
      // the resolve above already read CURRENT (version + inline
      // meta) — reuse it instead of re-reading both (round-19
      // verdict 1: the diff base's version capture was 2 of the
      // delta path's 6 excess control reads)
      val svCur = svr.cur.getOrElse(return None)
      val prevMeta = svr.curMeta.getOrElse(return None)
      // previous snapshot must be this exact index state except an
      // OLDER insert table, in the pre-symmetrized format; an
      // optional third part is the edge-prefix marker (edgeSuffix —
      // absent on snapshots committed by older code: fall back to
      // reading the previous edges manifest)
      val parts = prevMeta.split("\\|")
      if (parts.length < 2 || parts.length > 3 || parts(1) != "sym1")
        return None
      val prevEdgePrefix: Option[(Int, String)] =
        if (parts.length < 3) None
        else "^e(\\d+)@([0-9a-f]{16})$".r.findFirstMatchIn(parts(2))
          .flatMap(m =>
            // guarded like every other meta parse here: a count that
            // overflows Int (corrupt/foreign meta) means "no marker",
            // never an exception out of the serve (review-caught —
            // NumberFormatException is not a missing-file shape, so
            // the retry-once contract would not absorb it)
            try Some((m.group(1).toInt, m.group(2)))
            catch { case _: NumberFormatException => None })
      val tags = parts(0).split("_", -1)
      def enc(o: Option[Int]) = o.map(_.toString).getOrElse("-")
      if (tags.length != 4 || tags(0) != enc(vB) ||
          tags(2) != enc(vD) || tags(3) != enc(vR)) return None
      val vIPrev = if (tags(1) == "-") -1 else
        try tags(1).toInt catch { case _: NumberFormatException =>
          return None }
      if (vIPrev >= vIc) return None
      // a never-bootstrapped index whose FIRST insert epoch lands now
      // flips the inferred base (full-corpus -> insert-free): the
      // previous snapshot was built over a different base — bail
      if (vB.isEmpty && vIPrev < 0) return None
      val cut = foldCutAt(indexDir, vB)
      // fold crash window (delta restart not yet landed): readers
      // subtract the folded prefix row-wise — file-level deltas are
      // not exact there; take the full path
      val inCrashWindow = cut.exists { case (marker, ci, _) =>
        ci >= 0 && vIc != ci &&
          !SnapshotTable.metaOf(edgesTab(indexDir), ci + 1)
            .contains(marker)
      }
      if (inCrashWindow) return None
      // monotonicity requires NO pending tombstones: with an empty
      // delete delta the maintained graph is exactly base ∪ inserts
      // (the repair leaves an empty delete set's graph untouched), so
      // appending edges can only ADD serving rows. One bounded collect
      // of the (usually 0-row) delta table, which a full path below
      // hands to its repair rather than read the tombstones twice.
      val del = tombstonesAt(spark, indexDir, vD, cut)
        .map(collectedTombstones(spark, _))
      guardTombstones = Some(del)
      if (!del.forall(_.isEmpty)) return None
      val (curFiles, prevServingFiles) =
        try (
          SnapshotTable.dataFiles(edgesTab(indexDir), vIc),
          svr.manifests.getOrElse(svCur,
            SnapshotTable.dataFiles(sTab, svCur)))
        catch { // a vacuumed manifest: the diff base is gone
          case _: java.nio.file.NoSuchFileException => return None
        }
      if (prevServingFiles.isEmpty) return None
      // the appended delta = current edge manifest minus the previous
      // one. With the edge-prefix marker in hand the diff needs NO
      // second manifest read: manifests append in order (prev ++
      // new), so verifying the marker's digest over the current
      // list's first N entries PROVES the prefix is exactly what the
      // previous serving state was built over — order-sensitive,
      // strictly stronger than the old unordered subset check; a
      // compaction/restart rewrote the list and fails the digest.
      // Marker-less metas (older code) fall back to reading the
      // previous manifest and diffing as before.
      val deltaFiles = prevEdgePrefix match {
        case Some((n, h)) =>
          if (vIPrev < 0) { if (n != 0) return None else curFiles }
          else if (n > curFiles.size ||
              filesDigest(curFiles.take(n)) != h) return None
          else curFiles.drop(n)
        case None =>
          val prevFiles =
            try {
              if (vIPrev < 0) Seq.empty[String]
              else SnapshotTable.dataFiles(edgesTab(indexDir), vIPrev)
            } catch {
              case _: java.nio.file.NoSuchFileException => return None
            }
          // a compaction/restart rewrote the edge files: the
          // file-level delta is no longer the appended rows
          if (!prevFiles.forall(curFiles.contains)) return None
          curFiles.filterNot(prevFiles.toSet)
      }
      if (deltaFiles.isEmpty || deltaFiles.size > 256) return None
      // bound manifest fragmentation: after enough delta appends the
      // serving file list grows one epoch's files per state — let the
      // full rewrite act as the compaction
      if (prevServingFiles.size >= 64) return None
      // BYTE bound on the delta (round-18 advice medium): the file
      // COUNT bound above says nothing about rows — one insert epoch
      // can write 256 arbitrarily large files, and the broadcast of
      // its distinct vec_ids below would hit Spark's broadcast hard
      // cap (or driver memory) where the full-rewrite path handles
      // any epoch size. Sum the delta files' sizes (data-plane stats,
      // ≤256 of them, state-change only) and route an oversized epoch
      // to the full rewrite BEFORE planning a doomed broadcast.
      val deltaMaxBytes =
        try spark.conf
          .get("spark.graft.serving.deltaMaxBytes", "268435456").toLong
        catch { case _: NumberFormatException => 268435456L }
      // one LISTING per epoch data dir, not one stat per file
      // (review-caught: 256 sequential per-file getFileStatus RTTs on
      // the state-change hot path would give back an order of
      // magnitude more than the control-plane trim saved; every
      // commit writes its files under one data/<uuid>/ dir, so the
      // delta's k epochs cost k listings)
      val deltaBytes =
        try {
          val conf = spark.sessionState.newHadoopConf()
          deltaFiles.groupBy(f => f.substring(0, f.lastIndexOf('/')))
            .iterator.map { case (dir, files) =>
              val p = new org.apache.hadoop.fs.Path(dir)
              val want =
                files.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
              p.getFileSystem(conf).listStatus(p)
                .filter(st => want.contains(st.getPath.getName))
                .map(_.getLen).sum
            }.sum
        } catch { // vanished mid-stat (racing vacuum) or store error:
          case _: java.io.IOException => return None // full path
        }
      if (deltaBytes > deltaMaxBytes) return None
      // the whole derivation sits inside the fallback try: a
      // CONCURRENT vacuum (another serving process, keepVersions=2)
      // can expire svCur's manifest or the delta files between the
      // version reads above and the plan resolution/execution below
      // — every missing-file shape here means "the diff base is
      // gone", which the full path decides fresh from live state
      try {
        val delta = projIns(Parquet.read(spark, deltaFiles: _*))
        val deltaSym = delta.unionByName(
          delta.select(col("neighbor_id").as("vec_id"),
            col("vec_id").as("neighbor_id"))).distinct()
        val touched = deltaSym.select("vec_id").distinct()
        // dedup vs the previous snapshot, restricted to the rows that
        // could possibly collide: any duplicate row shares its vec_id
        // with the delta (both its endpoints are delta endpoints), so
        // a broadcast-semi filter makes this ONE scan of the previous
        // snapshot with no big-side shuffle
        val prevServing = Parquet.read(spark, prevServingFiles: _*)
          .select(col("vec_id"), col("neighbor_id"))
        val oldTouched = prevServing
          .join(broadcast(touched), Seq("vec_id"), "left_semi")
        // sorted like the full path's write (§6): the walk's per-hop
        // pushed filter prunes row groups in these appended files too
        val newRows = deltaSym.join(oldTouched,
          Seq("vec_id", "neighbor_id"), "left_anti")
          .sortWithinPartitions("vec_id")
        // appendFromKnown: the parent file list is already in hand —
        // the stale-parent contract moves to the pinned CAS itself
        // (claim collision / vacated-slot / pinned-stale checks), so
        // nothing is weakened, one manifest re-read is saved. The
        // meta carries the edge-prefix marker of THIS state's edges
        // manifest so the next delta derives its diff read-free.
        val (nv, nvFiles) = SnapshotTable.appendFromKnown(spark,
          newRows, sTab, svCur, prevServingFiles,
          Some(servingMeta + edgeSuffix(curFiles)))
        heldManifests(svCur) = prevServingFiles
        heldManifests(nv) = nvFiles
        Some((nv, nvFiles))
      } catch {
        // an interleaved commit (another serving process won the
        // state) or a vacuum eating the diff base mid-derivation:
        // nothing was published — full path decides fresh
        case _: IllegalStateException => None
        case _: org.apache.spark.sql.AnalysisException => None
        case e: Throwable if isMissingFileFailure(e) => None
        // execution failure inside the delta derivation (an
        // over-budget broadcast slipping past the byte bound, a
        // task OOM): the append never committed, and the full
        // rewrite recomputes from live state — fall back rather
        // than crash a path whose replacement handles any epoch
        // size (round-18 advice medium). Real data errors repeat
        // in the full path and fail loudly THERE.
        case _: org.apache.spark.SparkException => None
      }
    }
    def materialize(): (Int, Seq[String]) = {
      val mT = System.nanoTime()
      // TORN-CAPTURE GUARD (round-19 review): the four version reads
      // above are sequential, and a fold commits its tables base
      // FIRST, then restarts the deltas — so a capture that read vB
      // before the fold's base publish and vI after its restart
      // composes old base ∪ empty restart: every pre-fold streamed
      // insert silently vanishes from the materialized graph, and
      // the torn snapshot would be committed under its verTag.
      // Because the ordering is base-first, "base unchanged from
      // capture to here" PROVES the captured vI/vD cannot contain a
      // restart from an unseen fold (the crashed-fold fast path
      // re-restarts without a base bump, but there the CAPTURED
      // base's meta already carries the cut marker, which foldCutAt
      // reads — that shape is consistent by the existing
      // restart-landed branch). One control read per STATE CHANGE
      // only — warm adopts never reach here; the throw is absorbed
      // once by search()'s retry with a fresh capture, same contract
      // as the vacuum race.
      if (SnapshotTable.currentVersionOf(baseTab(indexDir)) != vB)
        throw new TornCaptureException(
          s"base of $indexDir advanced mid-capture (a fold raced " +
          "this serve's version reads) — recapture and retry")
      // cache-liveness sweep at the STATE-CHANGE boundary (round-17
      // verdict 2): a materialize runs exactly when this process
      // first serves a new index state — the only moment a dead
      // index's entry can matter. The round-16 placement ran the
      // sweep on EVERY search: up to 4 control-plane reads per cached
      // entry per search, an HTTP-GET tax on an object store's
      // serving hot path growing with every index the process ever
      // served. A WARM search now does a constant number of
      // control-plane reads (spec-pinned in Round17Spec).
      graft.Resident.sweep(spark)
      // the serving snapshot stores the SYMMETRIZED graph (round-17
      // serving budget): the walk needs reverse edges, and computing
      // union+distinct here — once per index state — removes a
      // per-hop distinct exchange from every search on this state.
      // The meta carries a format marker so a process running the
      // old per-hop-symmetrize code path can never adopt (or be
      // adopted by) a snapshot in the other format: a mismatch is
      // just a cache miss that rematerializes under its own tag.
      // sub-phase laps (round 21 — guide §1.1: the next materialize
      // cut must be chosen from a measured breakdown): mat_guard =
      // the delta attempt incl. its early-return guards (on the
      // delta path this is the whole derivation), mat_derive = the
      // full path's derivation incl. the repair's coordinator
      // collects, mat_commit = the overwrite job + commit,
      // mat_vacuum = the pinned sweep. Additive rows in the
      // SCALE_STREAM stamp.
      var subT = System.nanoTime()
      def subLap(name: String): Unit = {
        val now = System.nanoTime()
        phases += name -> (now - subT) / 1e9
        subT = now
      }
      val deltaRes = deltaMaterialize()
      subLap("mat_guard")
      val (v, vFiles) = deltaRes match {
        case Some((dv, dvFiles)) =>
          statsOf(spark, indexDir).mode = "delta"; (dv, dvFiles)
        case None =>
          statsOf(spark, indexDir).mode = "full"
          // record the edge-prefix marker (edgeSuffix) so the NEXT
          // state's delta serve derives its diff from one manifest
          // read — this one read funds the steady-state path's
          // savings, deliberately billed to the rare rewrite (the
          // verdict's priority: the cheap path must not read more
          // than the rewrite it replaces). A vacuumed manifest just
          // omits the marker (the next delta falls back).
          val fullMeta = servingMeta + vI.map { v =>
            try edgeSuffix(
              SnapshotTable.dataFiles(edgesTab(indexDir), v))
            catch { case _: java.nio.file.NoSuchFileException => "" }
          }.getOrElse("")
          val m = maintainedAt(spark, d, indexDir, vB, vI, vD,
            guardTombstones)
          subLap("mat_derive")
          materializeTestHook.foreach(h => h())
          // sortWithinPartitions(vec_id) before the write (round 21 —
          // guide §6): the walk probes this table by beam-node keys
          // EVERY HOP of every search; the distinct's hash
          // partitioning scatters vec_ids uniformly, so unsorted row
          // groups have full-range min/max and the hop's pushed
          // filter prunes nothing. Sorted row groups make the
          // per-hop scan read only matching groups. Row SET
          // unchanged — order inside an unordered table is free.
          val (fv, fvFiles) = SnapshotTable.overwriteReturning(spark,
            m.unionByName(m.select(col("neighbor_id").as("vec_id"),
              col("vec_id").as("neighbor_id"))).distinct()
              .sortWithinPartitions("vec_id"), sTab, Some(fullMeta))
          subLap("mat_commit")
          heldManifests(fv) = fvFiles
          (fv, fvFiles)
      }
      subT = System.nanoTime()
      // bound the serving table's disk to the last 2 states (2, not
      // 1, so an in-flight reader of the previous state survives).
      // The fresh-file grace makes CONCURRENT serving processes safe
      // sweeping the same table (a stale-view sweep cannot eat a
      // racing rematerialization's just-written files); 30 s matches
      // the commit protocol's orphan grace. Conf-tunable so the
      // cross-process race spec can land the vacuum deterministically.
      // PINNED to the version this attempt just committed, with the
      // manifests already in hand (round-19 verdict 1): the unpinned
      // sweep re-read CURRENT + both keep manifests it had just
      // written/derived — 3 control RTTs per state change for data
      // this attempt holds.
      SnapshotTable.vacuumPinned(sTab, v, keepVersions = 2,
        knownManifests = heldManifests.toMap,
        freshGraceMs =
          try spark.conf
            .get("spark.graft.serving.vacuumGraceMs", "30000").toLong
          catch { case _: NumberFormatException => 30000L })
      subLap("mat_vacuum")
      phases += "serve_materialize" -> (System.nanoTime() - mT) / 1e9
      phT = System.nanoTime() // materialize billed to its own phase
      (v, vFiles)
    }
    svr.matched.foreach(_ => statsOf(spark, indexDir).mode = "adopt")
    val (sv, svFiles) = svr.matched match {
      case Some(m) => (m, svr.manifests(m))
      case None =>
        try materialize()
        catch {
          // another serving process that committed this SAME state can
          // sweep this attempt's in-flight write before its commit (a
          // zero fresh-file grace, as the cross-process race spec
          // sets): its snapshot of the state holds the same rows, so
          // adopt it; with no such commit the failure stands
          case e: Throwable if scala.util.control.NonFatal(e) &&
              !e.isInstanceOf[TornCaptureException] =>
            val again = SnapshotTable.serveResolve(sTab, servingMeta,
              verTagOlder, acceptServing)
            again.matched match {
              case Some(m) =>
                statsOf(spark, indexDir).mode = "adopt"
                (m, again.manifests(m))
              case None => throw e
            }
        }
    }
    // Retry ONLY the missing-version shapes (the matched version
    // raced a newer search's vacuum between resolve and read) — a
    // blanket catch would silently rematerialize over real failures.
    // Residual, accepted as the vacuum contract (same as any table
    // format's): a vacuum landing while THIS search's walk jobs are
    // already scanning the pinned files fails the search loudly
    // (crash, never a torn result); keepVersions=2 means two full
    // newer-state materializations must complete inside one walk.
    // The file list is already in hand (serveResolve / the commit
    // itself), so the read is a direct parquet scan — no manifest
    // re-read; a vacuumed/empty file list surfaces as the
    // AnalysisException / IllegalArgumentException shapes below,
    // same contract as SnapshotTable.read's.
    def servingScan(files: Seq[String]): DataFrame = {
      if (files.isEmpty) throw new IllegalArgumentException(
        s"serving version of $sTab has no files")
      Parquet.read(spark, files: _*)
    }
    // the adjacency this process already holds for exactly these
    // serving files: a held state reads no serving file at all
    val heldAdj: Option[WalkAdjacency] = for {
      c <- walkCorpus
      e <- servingWalks.get(ck) if e.value.corpus eq c
      (digest, a) <- e.value.adj
      if digest == filesDigest(svFiles) && a.edgeCount <= caps.edges
    } yield a
    var gdFiles = svFiles
    lazy val gd = (try servingScan(svFiles)
      catch {
        case _: IllegalArgumentException | _: java.io.FileNotFoundException
            | _: java.nio.file.NoSuchFileException
            | _: org.apache.spark.sql.AnalysisException =>
          gdFiles = materialize()._2
          servingScan(gdFiles)
      }).select(col("vec_id"), col("neighbor_id"))
    // not held: plan the scan, and rematerialize if it fails, before
    // the seam below
    if (heldAdj.isEmpty) gd
    lap("serving_read")
    // test seam: lets the vacuum-race spec land a full
    // advance+advance+vacuum AFTER this attempt pinned and read its
    // serving version but BEFORE the first read of its files — the
    // graph fill below, or the per-hop walk past the caps; the window
    // is otherwise nondeterministic to hit. A held state reads no
    // file, so a vacuum landing here cannot fail it.
    midSearchTestHook.foreach(h => h())
    // THE GRAPH ON THE DRIVER, once per serving version: one collect of
    // the pinned files when their footer row count fits the edge cap,
    // kept beside the corpus it was walked with
    val graph: Option[WalkGraph] = walkCorpus.flatMap { c =>
      heldAdj.orElse {
        val filled = WalkGraph.adjacency(gd,
          Parquet.footerRows(spark, gdFiles), caps)
        for (a <- filled; e <- servingWalks.get(ck)
            if e.value.corpus eq c) {
          val w = e.value.copy(adj = Some(filesDigest(gdFiles) -> a))
          servingWalks.replace(ck, e,
            new graft.Resident.Held(e.tag, w, w.bytes))
        }
        filled
      }.map(WalkGraph(c, _))
    }
    lap("graph_fill")
    val res = SimilarityQueries.beamWalkCore(spark, n, qrows, gd,
      searchKnobs, maxQ, centsIn = Some(cents), preSymmetrized = true,
      graph = graph)
    // a per-hop walk over a private corpus (a STALE-state search past
    // the caps, or a held corpus whose graph is past the edge cap)
    // persisted it (tracked); in a pure serving process
    // nothing ever calls PersistRegistry.release(), so drop it here —
    // the walk's result is driver-local, nothing lazy still reads it
    // (second-pass review: one leaked data-sized persist per backward
    // race under sustained delete turnover). Shared-plan-guarded: an
    // identical plan held by a live cache entry keeps its blocks.
    if (!corpusFromCache && graph.isEmpty)
      graft.Resident.unpersistUnlessHeld(nRaw)
    val allPhases = phases.toSeq ++ SimilarityQueries.lastWalkPhases.get()
    statsOf(spark, indexDir).phases = allPhases
    res
  }

  /** Spec-only injection point between the serving read and the walk
    * (see [[search]]'s retry-once contract). Always None outside
    * tests. */
  @volatile private[graft] var midSearchTestHook: Option[() => Unit] =
    None

  /** Spec-only injection point before the full materialize's serving
    * write (see the adopt fallback in searchAttempt). Always None
    * outside tests. */
  @volatile private[graft] var materializeTestHook: Option[() => Unit] =
    None

  /** Spec-only injection point between the version capture's base
    * read and its delta-table reads (see the torn-capture guard in
    * searchAttempt.materialize). Always None outside tests. */
  @volatile private[graft] var midCaptureTestHook: Option[() => Unit] =
    None

  /** A state-change serve detected that its four-pointer version
    * capture straddled a fold's multi-table commit (see the
    * torn-capture guard) — retryable with a fresh capture, absorbed
    * once by [[search]] like the vacuum race. */
  private[graft] final class TornCaptureException(msg: String)
    extends RuntimeException(msg)

  /** The fold marker the NEXT fold of this index would stamp on every
    * table it commits: `folded-<last epoch meta>@ins=<v>,del=<v>`,
    * where the trailing cut records the delta-table versions the fold
    * consumes. None when the index has no delta tables yet. Exposed
    * (package-private) so the crash-window specs can reproduce the
    * fold's first commit byte-for-byte. */
  private[graft] def pendingFoldMarker(
      indexDir: String): Option[String] = {
    val (eTab, dTab) = (edgesTab(indexDir), delTab(indexDir))
    val vIns = SnapshotTable.currentVersionOf(eTab)
    val vDel = SnapshotTable.currentVersionOf(dTab)
    def lastEpochMeta(tab: String): Option[String] =
      // newest-first, stops at the first epoch line (round-20
      // bounded-ledger rule — the reversed committedMetas scan read
      // every meta back to version 0 on each fold)
      SnapshotTable.newestMetaMatching(tab, m =>
        SnapshotTable.DeleteLedger.owns(m) ||
          SnapshotTable.InsertLedger.owns(m))
    val m = vDel.flatMap(_ => lastEpochMeta(dTab))
      .orElse(vIns.flatMap(_ => lastEpochMeta(eTab)))
    // BASE-PROVENANCE tag (round-14 advice): a fold on a
    // never-bootstrapped index with NO committed insert epochs bakes
    // the INFERRED full-corpus base (v23's delete-only rule) into
    // base/ — a base no insert epoch's walk ever targeted. Stamp the
    // inference in the marker (and propagate it through later folds
    // of the same poisoned base) so requireInsertCompatibleBase can
    // reject insert epochs loudly instead of silently diverging from
    // v27's composed rule. bootstrap() cures it: its overwrite
    // replaces the meta.
    val inferredFull =
      (SnapshotTable.currentVersionOf(baseTab(indexDir)), vIns) match {
        case (None, None) => true
        case (Some(vb), _) => SnapshotTable.metaOf(baseTab(indexDir), vb)
          .exists(_.contains(InferredFullTag))
        case _ => false
      }
    if (vIns.isEmpty && vDel.isEmpty) None
    else Some(s"folded-${m.getOrElse("none")}" +
      (if (inferredFull) InferredFullTag else "") +
      s"@ins=${vIns.getOrElse(-1)},del=${vDel.getOrElse(-1)}")
  }

  private[graft] val InferredFullTag = "#base=inferred-full"

  /** Loud guard for the round-14 advice hazard: an un-bootstrapped
    * delete-only index whose auto-fold baked the INFERRED full-corpus
    * base into `base/` must not accept insert epochs — their walk
    * targeted the insert-free graph, so composing them against the
    * full-corpus base silently diverges from v27's rule (the class
    * doc's acknowledged hazard, previously unenforced). Called by
    * StreamingGraphInsert.insertEpoch before any work. */
  def requireInsertCompatibleBase(indexDir: String): Unit = {
    val poisoned = SnapshotTable.currentVersionOf(baseTab(indexDir))
      .flatMap(v => SnapshotTable.metaOf(baseTab(indexDir), v))
      .exists(_.contains(InferredFullTag))
    require(!poisoned,
      s"the committed base of index $indexDir was INFERRED from the " +
      "full corpus by a delete-only fold — insert epochs would compose " +
      "against a base their walk never targeted; bootstrap() the index " +
      "with the insert-free base graph (or start a fresh index) before " +
      "inserting")
  }

  /** TOMBSTONE FOLD — the compaction bounding read-time repair cost:
    * materialize the maintained graph as the new base (its meta
    * carrying the fold cut), then restart the insert-edge and
    * tombstone delta tables empty. Post-fold reads are prune+repair
    * over the FOLDED base — pre-fold repair edges become first-class
    * base edges instead of being re-derived per read (the compaction
    * contract; spec-pinned that the fold changes nothing observable
    * in the maintained graph at fold time).
    *
    * Concurrency (round-13 advice — a fold racing a live epoch must
    * not capture a stale base and then drop the epoch's rows): every
    * table's version is captured BEFORE the derivation and each
    * commit is PINNED to it (SnapshotTable.overwriteFrom, optimistic
    * CAS) — an interleaved epoch commit makes the fold throw
    * SnapshotTable.CommitConflictException with nothing clobbered;
    * retry in a quiet window (the auto-fold paths retry at their next
    * trigger).
    *
    * Crash/abort recovery is BY CONSTRUCTION via the fold cut (class
    * doc): a fold that died between its base commit and the delta
    * restarts leaves a base whose meta records exactly what it
    * folded; readers and this method subtract that prefix, so a
    * retry folds only the un-folded remainder — epochs committed
    * after the aborted fold are preserved (review-caught: the
    * previous exact-marker recovery wiped them), and no repair edge
    * is ever re-ranked against a subset pair space. When nothing
    * advanced since the aborted fold, the marker matches exactly and
    * the retry just completes the delta restarts.
    *
    * Exactly-once survives the fold: per-version `.meta` ledger
    * files persist through overwrites, and the epoch checks read the
    * ledger newest-first (a pre-fold epoch's id is below the newest
    * applied id), so a re-delivered pre-fold epoch of either stream
    * still skips. */
  def foldTombstones(spark: SparkSession, d: String,
      indexDir: String): Unit = {
    import spark.implicits._
    val (bTab, eTab, dTab) =
      (baseTab(indexDir), edgesTab(indexDir), delTab(indexDir))
    val vBase = SnapshotTable.currentVersionOf(bTab)
    val vIns = SnapshotTable.currentVersionOf(eTab)
    val vDel = SnapshotTable.currentVersionOf(dTab)
    val through = pendingFoldMarker(indexDir)
    // restart both delta tables empty, each commit PINNED to the
    // version this fold read (optimistic CAS). repartition(1) forces
    // one write task so the empty tables still commit a (0-row) data
    // file — a fileless manifest would make the next epoch's read
    // throw
    def restartDeltas(): Unit = {
      vIns.foreach { v =>
        SnapshotTable.overwriteFrom(spark,
          SnapshotTable.read(spark, eTab, v).limit(0).repartition(1),
          eTab, Some(v), through)
      }
      vDel.foreach { v =>
        SnapshotTable.overwriteFrom(spark,
          Seq.empty[Long].toDF("vec_id").repartition(1), dTab,
          Some(v), through)
      }
    }
    // fast path: nothing advanced since an aborted fold's base
    // commit — the marker matches exactly, so just complete the
    // delta restarts
    if (vBase.isDefined && through.isDefined &&
        SnapshotTable.currentMeta(bTab) == through) {
      restartDeltas()
      compactRetired(spark, indexDir)
      return
    }
    // derive the new base from the pinned versions, folded prefix
    // subtracted (maintainedAt) — under a half-folded base this is
    // exactly the un-folded remainder; under a healthy base the
    // subtraction is a content no-op
    val maintained =
      maintainedAt(spark, d, indexDir, vBase, vIns, vDel).distinct()
    SnapshotTable.overwriteFrom(spark, maintained, bTab, vBase, through)
    restartDeltas()
    compactRetired(spark, indexDir)
    ()
  }

  /** UN-RETIRE — the explicit administrative verb for genuine
    * re-ingest (see [[retiredTab]]'s delete-wins contract: a retired
    * id in an insert batch stays dead, by design; resurrecting one is
    * an OPERATOR decision, not an arrival-order accident). Removes
    * `ids` (one `vec_id` column, require()-bounded driver-side
    * nowhere — all joins) from BOTH the cumulative retired set and
    * the tombstone repair delta via pinned CAS overwrites, so a
    * racing epoch makes it throw with nothing clobbered rather than
    * losing the epoch's rows. O(|retired| + |delta|) rewrite —
    * administrative-path cost, never the epoch hot path. The ids'
    * pre-retirement base edges are gone if a fold pruned them, so a
    * resurrection is completed by a NORMAL insert epoch re-linking
    * the vectors (exactly a fresh insert — which is what a re-ingest
    * is). Run in a quiet window, like the fold. */
  def unretire(spark: SparkSession, indexDir: String,
      ids: DataFrame): Unit = {
    val keep = ids.select(col("vec_id")).distinct()
    for (tab <- Seq(retiredTab(indexDir), delTab(indexDir))) {
      SnapshotTable.currentVersionOf(tab).foreach { v =>
        SnapshotTable.overwriteFrom(spark,
          SnapshotTable.read(spark, tab, v).select("vec_id")
            .join(keep, Seq("vec_id"), "left_anti").repartition(1),
          tab, Some(v), Some("unretire"))
      }
    }
  }

  /** Best-effort retired-set compaction, run at fold time: the
    * cumulative table accrues one small append per delete epoch
    * forever, so the fold rewrites it as one distinct file.
    * Correctness-neutral (the set is only ever read distinct) and
    * deliberately NON-fatal: it runs after the fold's own commits,
    * and a CAS collision with a racing delete epoch's append just
    * leaves the compaction for the next fold — the fold itself
    * already completed. */
  private def compactRetired(spark: SparkSession,
      indexDir: String): Unit = {
    val rTab = retiredTab(indexDir)
    SnapshotTable.currentVersionOf(rTab).foreach { v =>
      // SKIP when the table is already compact (round 21): the
      // compaction is pure storage hygiene — readers distinct() the
      // retired set themselves, so duplicates and file layout are
      // invisible to every consumer — but the rewrite bumps vR and
      // changes the manifest digest, which rotates the serving
      // corpus AND centroid caches (both keyed by the retired
      // state's version@digest) even though the retired SET is
      // unchanged: every fold forced a spurious corpus-sized refill
      // + centroid re-aggregation on the next search (measured
      // 0.94 s of search_post_fold's 2.7 s at factor 1). A
      // few-files table gains nothing from compaction; from 8 files
      // on (one file per delete epoch since the last fold)
      // the rewrite is real hygiene and the refill is amortized.
      val nFiles =
        try SnapshotTable.dataFiles(rTab, v).size
        catch { case _: java.nio.file.NoSuchFileException => 0 }
      if (nFiles >= 8) {
        try SnapshotTable.overwriteFrom(spark,
          SnapshotTable.read(spark, rTab, v).distinct().repartition(1),
          rTab, Some(v), Some("retired-compaction"))
        catch {
          case e: SnapshotTable.CommitConflictException =>
            System.err.println(s"[lifecycle-fold] retired compaction " +
              s"deferred (concurrent commit): ${e.getMessage}")
        }
      }
    }
  }
}

package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The engine's process state held per directory: every cache and
  * counter that outlives a query lives in one [[Kind]] here — the
  * serving index's centroid table, walk graph, persisted corpus and
  * counters (LifecycleIndex), the insert stream's quantizer, walk graph
  * and persisted corpus (SimilarityQueries), the parsed boatrace corpus
  * (BoatraceQueries), and the stage-snapshot pointers and input
  * fingerprints (StageSnapshots).
  *
  * An entry is keyed by (application, dir[, part]), which gives it an
  * explicit scope and lifetime:
  *   - scope: the application. A JVM runs one SparkContext at a time,
  *     so an entry of another application id belongs to a stopped
  *     context and is never served again: a session restarted in the
  *     same JVM starts from nothing, and sees a corpus changed since.
  *   - lifetime: the dir's. Each kind names the [[Probe]] that decides
  *     whether its dir still exists. [[sweep]] drops the entries of
  *     other applications and of dead dirs, probing each dir once; it
  *     runs at the two state-change boundaries, the serving
  *     materialize and the stream insert epoch, never on a warm
  *     search. [[release]] drops everything under a dir tree at once,
  *     for callers that delete a dir themselves.
  *
  * Persisted corpora (kinds made by [[corpusKind]]) and driver-held
  * walk graphs (kinds made by [[heldKind]]) share one bound,
  * [[bound]]: at most `spark.graft.serving.corpusCacheMax` entries
  * and `spark.graft.serving.corpusCacheMaxMb` resident MB over all of
  * them, least recently used first. Dropping a persisted corpus
  * unpersists its plan unless another held corpus serves the same plan
  * (Spark's CacheManager is keyed by plan, so a blind unpersist would
  * strip the twin's blocks).
  */
object Resident {

  /** An entry's scope: the application that made it, its dir, and
    * `part` for a kind keeping several entries per dir (the stage
    * snapshots' stage name; "" otherwise). */
  final case class Key(app: String, dir: String, part: String = "")

  def key(s: SparkSession, dir: String, part: String = ""): Key =
    Key(s.sparkContext.applicationId, dir, part)

  /** The running application's key for `dir` — for the accessors that
    * take no session. */
  def activeKey(dir: String): Option[Key] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(key(_, dir))

  /** Whether a dir still exists; a [[sweep]] asks once per dir. */
  type Probe = (SparkSession, String) => Boolean

  /** A data dir lives while its path's Hadoop FileSystem has it — not
    * a local stat: a scheme-addressed corpus (`s3a://…`) is no local
    * directory, and a stat would drop the live entry at every sweep. A
    * FileSystem that cannot be reached keeps the entry: eviction is
    * hygiene, never a reason to fail the caller's epoch. */
  val dataDir: Probe = (s, d) => {
    val p = new org.apache.hadoop.fs.Path(d)
    try p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    catch { case _: java.io.IOException => true }
  }

  private val kinds = new CopyOnWriteArrayList[Kind[_ <: AnyRef]]()
  private val corpusKinds = new CopyOnWriteArrayList[Kind[Corpus]]()
  private val boundedKinds = new CopyOnWriteArrayList[Kind[_ <: Bounded]]()

  /** One cache: its entries, the probe deciding that their dir still
    * exists, and what dropping an entry must also do. */
  final class Kind[V <: AnyRef] private[Resident] (val name: String,
      val probe: Probe, onDrop: V => Unit) {
    private val held = new ConcurrentHashMap[Key, V]()

    def get(k: Key): Option[V] = Option(held.get(k))

    /** Atomically set `k`'s entry to `f(the held entry)`. Dropping a
      * replaced entry is the caller's business. */
    def update(k: Key)(f: Option[V] => V): V =
      held.compute(k, (_, old) => f(Option(old)))

    /** `k`'s entry, made by `v` if absent (a null `v` records
      * nothing). */
    def getOrElseUpdate(k: Key)(v: => V): V =
      held.computeIfAbsent(k, _ => v)

    def put(k: Key, v: V): Option[V] = Option(held.put(k, v))

    /** Set `k`'s entry to `v` if it still holds `old`. */
    def replace(k: Key, old: V, v: V): Boolean = held.replace(k, old, v)

    /** Drop `k`'s entry if it still holds `v` (a concurrent
      * replacement keeps its fresh entry); true when it did. */
    def remove(k: Key, v: V): Boolean =
      held.remove(k, v) && { onDrop(v); true }

    def remove(k: Key): Unit = Option(held.remove(k)).foreach(onDrop)

    def clear(): Unit = dropIf(_ => true)

    /** Every held entry: the registry's one view, for specs and
      * observability. */
    def entries: Map[Key, V] = held.asScala.toMap

    private[Resident] def dropIf(p: Key => Boolean): Unit =
      held.forEach((k, v) => if (p(k)) remove(k, v))

    kinds.add(this)
  }

  def kind[V <: AnyRef](name: String, probe: Probe,
      onDrop: V => Unit = (_: V) => ()): Kind[V] =
    new Kind(name, probe, onDrop)

  /** An entry [[bound]] counts: the state it was built at, its last
    * use (the bound's LRU order) and the bytes it holds. */
  sealed abstract class Bounded(val tag: String) {
    private[Resident] val used = new AtomicLong(System.nanoTime())
    def touch(): this.type = { used.set(System.nanoTime()); this }
    /** Bytes held now; 0 while there is nothing to free. */
    def residentBytes: Long
  }

  /** A persisted corpus; its bytes are its cached blocks. */
  final class Corpus(tag: String, val df: DataFrame) extends Bounded(tag) {
    def residentBytes: Long = org.apache.spark.sql.graft.GraftSqlShims
      .cachedResidentBytes(df).map { case (m, dk) => m + dk }.getOrElse(0L)
  }

  /** A value held on the driver, and its size in bytes. */
  final class Held[V](tag: String, val value: V, val bytes: Long)
      extends Bounded(tag) {
    def residentBytes: Long = bytes
  }

  /** A kind of persisted corpora: counted by [[bound]], and dropping
    * an entry unpersists it unless another held corpus serves the same
    * plan. */
  def corpusKind(name: String, probe: Probe): Kind[Corpus] = {
    val k = kind[Corpus](name, probe, c => unpersistUnlessHeld(c.df))
    corpusKinds.add(k)
    boundedKinds.add(k)
    k
  }

  /** A kind of driver-held values, counted by [[bound]] with the
    * persisted corpora. */
  def heldKind[V](name: String, probe: Probe): Kind[Held[V]] = {
    val k = kind[Held[V]](name, probe)
    boundedKinds.add(k)
    k
  }

  /** Corpora evicted by the byte budget — stamped by
    * StreamMaintenanceScale so the evidence shows the bound engaging. */
  val byteEvictions = new AtomicLong(0)

  /** Unpersist `df` unless a held corpus serves the same plan. */
  private[graft] def unpersistUnlessHeld(df: DataFrame): Unit = {
    val shared = corpusKinds.asScala.exists(_.entries.values.exists(c =>
      (c.df eq df) ||
        c.df.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)))
    if (!shared) unpersist(df)
  }

  /** Unpersist, unless the plan's context is gone (and its blocks with
    * it). */
  private[graft] def unpersist(ds: Dataset[_]): Unit =
    if (!ds.sparkSession.sparkContext.isStopped) ds.unpersist(blocking = false)

  /** Keep the bounded entries — persisted corpora and driver-held
    * walk graphs together — within the session's entry cap
    * (`spark.graft.serving.corpusCacheMax`, default 8) and byte budget
    * (`spark.graft.serving.corpusCacheMaxMb`, default 4096; 0
    * disables it), least recently used first, never evicting `own`:
    * one over-budget entry stays, the knobs bound the fleet. Only
    * entries holding bytes are byte victims — an unfilled persisted
    * corpus frees nothing, its bytes count once a scan fills it — and
    * a single held entry skips the residency lookups. An evicted entry
    * refills on its next use. */
  def bound(s: SparkSession, own: Key): Unit = {
    val maxEntries = math.max(1,
      conf(s, "spark.graft.serving.corpusCacheMax", 8.0).toInt)
    val maxMb = conf(s, "spark.graft.serving.corpusCacheMaxMb", 4096.0)
    val held: Seq[(Kind[Bounded], Key, Bounded)] =
      boundedKinds.asScala.toSeq.flatMap { k =>
        val kb = k.asInstanceOf[Kind[Bounded]]
        kb.entries.toSeq.map { case (key, c) => (kb, key, c) }
      }
    val (overCap, rest) = held.filter(_._2 != own)
      .map(e => (e, e._3.used.get)).sortBy(_._2).map(_._1)
      .splitAt(held.size - maxEntries)
    overCap.foreach { case (k, key, c) => k.remove(key, c) }
    if (maxMb > 0 && held.size - overCap.size > 1) {
      def mb(c: Bounded): Double = c.residentBytes / 1e6
      val sized = rest.map(e => (e, mb(e._3)))
      var total = sized.map(_._2).sum +
        held.filter(_._2 == own).map(e => mb(e._3)).sum
      val victims = sized.filter(_._2 > 0).iterator
      while (total > maxMb && victims.hasNext) {
        val ((k, key, c), m) = victims.next()
        if (k.remove(key, c)) {
          total -= m
          byteEvictions.incrementAndGet()
        }
      }
    }
  }

  /** A numeric session key, read defensively: a malformed value falls
    * back to the default rather than failing a warm search. */
  private def conf(s: SparkSession, key: String, default: Double): Double =
    try s.conf.get(key, default.toString).toDouble
    catch { case _: NumberFormatException => default }

  /** Drop what nothing can use any more: entries of another
    * application, and entries whose dir fails its kind's probe (each
    * dir probed once per sweep) together with that dir's warehouse
    * read counters and trim floors. */
  def sweep(s: SparkSession): Unit = {
    val app = s.sparkContext.applicationId
    val live = scala.collection.mutable.Map.empty[(Probe, String), Boolean]
    kinds.forEach(k => k.dropIf(key => key.app != app ||
      !live.getOrElseUpdate((k.probe, key.dir), k.probe(s, key.dir))))
    live.foreach { case ((_, dir), ok) =>
      if (!ok) graft.warehouse.CommitBackends.releaseDir(dir)
    }
  }

  /** Drop every entry under `dir` (the dir and the tree below it) of
    * every kind, with the warehouse's read counters and trim floors
    * for the tree — for callers that delete a dir or are done with
    * it. A dir still in use refills on its next use. */
  def release(dir: String): Unit = {
    val under = graft.warehouse.CommitBackends.under(dir) _
    kinds.forEach(_.dropIf(k => under(k.dir)))
    graft.warehouse.CommitBackends.releaseDir(dir)
  }

  /** Every kind created so far — for the release-completeness spec. */
  private[graft] def registered: Seq[Kind[_ <: AnyRef]] = kinds.asScala.toSeq
}

package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.{Parquet, Tables}

/** A walk corpus held on the driver: every row of a (filtered)
  * quantized corpus as (vec_id, label, r, nn), sorted by vec_id. It
  * answers the three corpus reads of [[SimilarityQueries.beamWalkCore]]
  * with no Spark job: the seed window, the per-hop vector fetch and the
  * centroid table. Built by [[WalkGraph.corpus]]. */
private[graft] final class WalkCorpus private[operators] (
    ids: Array[Long], labels: Array[Long], rs: Array[Array[Long]],
    nns: Array[Long]) {

  def size: Int = ids.length

  /** Driver bytes held: three longs a row plus each vector array. */
  val bytes: Long =
    24L * ids.length + rs.iterator.map(r => 16L + 8L * r.length).sum

  /** The rows of `want`'s ids, as the per-hop vector fetch returns them
    * (an id missing from the corpus has none). */
  def vectors(want: Set[Long])
      : Array[(Long, Option[Array[Long]], Option[Long])] = {
    val out = Array.newBuilder[(Long, Option[Array[Long]], Option[Long])]
    want.foreach { id =>
      var i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) {
        while (i > 0 && ids(i - 1) == id) i -= 1
        while (i < ids.length && ids(i) == id) {
          out += ((id, Some(rs(i)), Some(nns(i))))
          i += 1
        }
      }
    }
    out.result()
  }

  // per label: its size and the rows of its 4 smallest ids (rows are in
  // id order, so the first 4 met are the 4 smallest)
  private lazy val cells: Map[Long, (Long, Array[Int])] = {
    val acc = mutable.HashMap.empty[Long, (Long, mutable.ArrayBuffer[Int])]
    var i = 0
    while (i < ids.length) {
      val (n, first) = acc.getOrElse(labels(i),
        (0L, mutable.ArrayBuffer.empty[Int]))
      if (first.size < 4) first += i
      acc(labels(i)) = (n + 1, first)
      i += 1
    }
    acc.iterator.map { case (l, (n, first)) => l -> ((n, first.toArray)) }
      .toMap
  }

  /** The seed window's rows: (label, vec_id, r, nn, cell size) for the
    * 4 smallest ids of each of the `probed` cells. */
  def seeds(probed: Set[Long]): Array[(Long, Long, Array[Long], Long, Long)] =
    probed.iterator.flatMap(l => cells.get(l).iterator.flatMap {
      case (n, first) => first.iterator.map(i => (l, ids(i), rs(i), nns(i), n))
    }).toArray

  /** The centroid table as [[SimilarityQueries.centroidTable]] computes
    * it: per label, the sum of each of the first 64 components. The
    * sums use `Math.addExact`, so an overflow raises as Spark's ANSI
    * `sum` does instead of wrapping (a long array has no null element
    * for the sum to skip). None when a vector has fewer than 64
    * components: Spark's `element_at` decides that case, so the caller
    * asks Spark. */
  lazy val centroids: Option[Array[(Long, Array[Long])]] =
    if (rs.exists(_.length < 64)) None
    else {
      val sums = mutable.HashMap.empty[Long, Array[Long]]
      var i = 0
      while (i < ids.length) {
        val c = sums.getOrElseUpdate(labels(i), new Array[Long](64))
        val r = rs(i)
        var j = 0
        while (j < 64) { c(j) = Math.addExact(c(j), r(j)); j += 1 }
        i += 1
      }
      Some(sums.toArray)
    }
}

/** A walk graph's edges held on the driver, as sorted sources with
  * their neighbour lists. Edges with a NULL endpoint are not held: the
  * per-hop fetch never returns them. Built by [[WalkGraph.adjacency]]. */
private[graft] final class WalkAdjacency private[operators] (
    srcs: Array[Long], offs: Array[Int], nbrs: Array[Long]) {

  def edgeCount: Int = nbrs.length

  /** Driver bytes held. */
  val bytes: Long = 8L * srcs.length + 4L * offs.length + 8L * nbrs.length

  /** The (source, neighbour) rows of `want`'s sources, as the per-hop
    * edge fetch returns them, duplicates included. */
  def edges(want: Set[Long]): Array[(Long, Long)] = {
    val out = Array.newBuilder[(Long, Long)]
    want.foreach { s =>
      val i = java.util.Arrays.binarySearch(srcs, s)
      if (i >= 0) {
        var j = offs(i)
        while (j < offs(i + 1)) { out += ((s, nbrs(j))); j += 1 }
      }
    }
    out.result()
  }
}

/** The corpus and graph one beam walk reads, held on the driver. */
private[graft] final case class WalkGraph(corpus: WalkCorpus,
    adj: WalkAdjacency) {
  def bytes: Long = corpus.bytes + adj.bytes
}

/** How a walk comes to hold its corpus and graph. Each half is one
  * collect, and is declined — before anything is read — when the row
  * bound the caller gives exceeds its absolute cap; the walk then
  * fetches per hop. The bounds come from parquet footers
  * ([[footerRows]]), so checking a cap runs no Spark job. */
private[graft] object WalkGraph {

  /** The most vectors and edges a walk holds on the driver. */
  final case class Caps(vectors: Long, edges: Long)

  /** 2^17 vectors and 2^21 edges: a held walk stays under about 100 MB
    * at 64 dimensions. */
  val DefaultCaps: Caps = Caps(1L << 17, 1L << 21)

  /** Caps nothing fits: the walk fetches per hop. */
  val PerHop: Caps = Caps(-1L, -1L)

  /** The footer row count of the parquet files `df` scans: an upper
    * bound of its rows when it is file scans under filters,
    * projections, row-wise maps and anti joins. No Spark job. */
  def footerRows(df: DataFrame): Long =
    Parquet.footerRows(df.sparkSession, df.inputFiles.toSeq)

  /** The row bound of every walk corpus over `d`: each is a filter of
    * the quantized embeddings, one row per embedding. */
  def corpusBound(s: org.apache.spark.sql.SparkSession, d: String): Long =
    footerRows(Tables.embeddings(s, d))

  /** The corpus `n` (vec_id, label, r, nn) on the driver, or None when
    * `rowBound` exceeds the vector cap. */
  def corpus(n: DataFrame, rowBound: Long, caps: Caps): Option[WalkCorpus] =
    Option.when(rowBound <= caps.vectors) {
      import n.sparkSession.implicits._
      val rows = n.select(col("vec_id"), col("label").cast("long"),
          col("r"), col("nn"))
        .as[(Long, Long, Array[Long], Long)].collect().sortBy(_._1)
      new WalkCorpus(rows.map(_._1), rows.map(_._2), rows.map(_._3),
        rows.map(_._4))
    }

  /** The graph `g` (vec_id, neighbor_id) on the driver, or None when
    * `rowBound` exceeds the edge cap. No hub guard here: a hub fails
    * the walk that reaches it, as the per-hop fetch does. */
  def adjacency(g: DataFrame, rowBound: Long,
      caps: Caps): Option[WalkAdjacency] =
    Option.when(rowBound <= caps.edges) {
      import g.sparkSession.implicits._
      val rows = g.filter(col("vec_id").isNotNull &&
          col("neighbor_id").isNotNull)
        .select("vec_id", "neighbor_id").as[(Long, Long)].collect()
        .sortBy(_._1)
      val srcs = Array.newBuilder[Long]
      val offs = Array.newBuilder[Int]
      var i = 0
      while (i < rows.length) {
        if (i == 0 || rows(i)._1 != rows(i - 1)._1) {
          srcs += rows(i)._1
          offs += i
        }
        i += 1
      }
      offs += rows.length
      new WalkAdjacency(srcs.result(), offs.result(), rows.map(_._2))
    }

  /** Both halves, or None when either bound exceeds its cap (checked
    * before either collect). */
  def fill(n: DataFrame, nBound: Long, g: DataFrame, gBound: Long,
      caps: Caps): Option[WalkGraph] =
    if (nBound > caps.vectors || gBound > caps.edges) None
    else for (c <- corpus(n, nBound, caps); a <- adjacency(g, gBound, caps))
      yield WalkGraph(c, a)
}

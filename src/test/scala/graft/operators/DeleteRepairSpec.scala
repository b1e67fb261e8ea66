package graft.operators

import scala.util.{Random, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The coordinator delete repair (SimilarityQueries.coordinatorRepair)
  * against the distributed rule (distributedRepair, the engine's rule
  * before the repair moved to the coordinator and now its path past
  * the caps): the same row multiset on seeded random graphs and on
  * the edge cases the plan's join, window and division semantics
  * decide. Past each cap the coordinator declines before its next
  * collect, and deleteRepairCore still repairs. */
class DeleteRepairSpec extends AnyFunSuite {
  import TestSpark.spark

  type Edge = (Option[Long], Option[Long])
  type Vec = (Long, Option[Array[Long]], Option[Long])

  private def frames(s: SparkSession, edges: Seq[Edge],
      del: Seq[Option[Long]], vecs: Seq[Vec])
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    (edges.toDF("vec_id", "neighbor_id"), del.toDF("del_id"),
      vecs.toDF("vec_id", "r", "nn"))
  }

  private def rows(df: DataFrame): Seq[Edge] = {
    import df.sparkSession.implicits._
    df.select("vec_id", "neighbor_id").as[Edge].collect().toSeq.sorted
  }

  private def hasDivideByZero(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
      case e: SparkThrowable => e.getCondition == "DIVIDE_BY_ZERO"
      case _ => false
    }

  /** Both rules over the same inputs: equal row multisets, or both
    * fail with DIVIDE_BY_ZERO. Returns the rows (empty on failure). */
  private def assertSame(edges: Seq[Edge], del: Seq[Option[Long]],
      vecs: Seq[Vec], s: SparkSession = spark, clue: String = "")
      : Seq[Edge] = {
    val (g, d, v) = frames(s, edges, del, vecs)
    val want = Try(rows(SimilarityQueries.distributedRepair(g, d, v)))
    val got = Try(rows(SimilarityQueries.coordinatorRepair(s, g, d,
        v.filter(_)).getOrElse(fail(s"$clue: the coordinator declined"))))
    (want.toEither, got.toEither) match {
      case (Right(w), Right(o)) =>
        assert(o === w, clue); o
      case (Left(we), Left(ge)) =>
        assert(hasDivideByZero(we), s"$clue reference: $we")
        assert(hasDivideByZero(ge), s"$clue coordinator: $ge")
        Seq.empty
      case (w, o) => fail(s"$clue reference $w, coordinator $o")
    }
  }

  private def vec(id: Long, r: Long*): Vec =
    (id, Some(r.toArray), Some(r.map(x => x * x).sum))

  test("seeded random graphs: the coordinator repair equals the " +
      "distributed rule, including duplicate edges, self-loops, " +
      "edges between deleted nodes, cosine ties and NULL or duplicate " +
      "delete ids") {
    var repaired = 0
    for (seed <- 1 to 12) {
      val rnd = new Random(seed)
      val n = 30 + rnd.nextInt(30)
      // a pool of 6 vectors shared by all nodes: exact cosine ties
      val pool = Array.fill(6)(Array.fill(4)(rnd.nextInt(7) - 3L))
        .filter(_.exists(_ != 0))
      val vecs = (0L until n).filter(_ => rnd.nextInt(10) > 0)
        .map(i => vec(i, pool(rnd.nextInt(pool.length)).toSeq: _*))
      val out = (0L until n).flatMap(i =>
        Seq.fill(1 + rnd.nextInt(4))(i -> rnd.nextInt(n).toLong))
      val edges = (out ++ out.take(5) ++ Seq(3L -> 3L, 4L -> 4L))
        .map { case (a, b) => (Some(a), Some(b)) }
      val del = (0L until n).filter(_ => rnd.nextInt(6) == 0).map(Some(_))
      val extra = Seq(None, del.headOption.flatten)
      val got = assertSame(edges, del ++ extra, vecs, clue = s"seed $seed")
      repaired += got.size - edges.count { case (a, b) =>
        !del.contains(a) && !del.contains(b) }
    }
    assert(repaired > 0, "no seed produced a repair edge")
  }

  test("NULL ids in the graph survive the prune and pair with nothing") {
    val edges: Seq[Edge] = Seq(
      (Some(1L), Some(0L)), (Some(2L), Some(0L)), (Some(3L), Some(0L)),
      (None, Some(0L)), (Some(0L), None), (Some(2L), None),
      (None, Some(2L)), (None, None), (Some(1L), Some(2L)))
    val vecs = Seq(vec(1, 1, 0), vec(2, 1, 1), vec(3, 0, 1))
    val got = assertSame(edges, Seq(Some(0L)), vecs)
    assert(got.contains((None, None)) && got.contains((Some(2L), None)))
    assert(got.contains((Some(3L), Some(2L))), "expected a repair edge")
  }

  test("empty and all-NULL delete sets leave the graph as it is") {
    val edges: Seq[Edge] = Seq((Some(1L), Some(2L)), (Some(2L), None),
      (Some(1L), Some(2L)))
    val vecs = Seq(vec(1, 1, 0), vec(2, 0, 1))
    assert(assertSame(edges, Seq.empty, vecs) === edges.sorted)
    assert(assertSame(edges, Seq(None, None), vecs) === edges.sorted)
  }

  test("survivors with fewer than three candidates, or no vector, " +
      "keep what they have") {
    // 0's neighbours 1, 2; 5's neighbours 3, 4, 6 where 6 has no vector
    val edges: Seq[Edge] = Seq(1L -> 0L, 0L -> 2L, 3L -> 5L, 5L -> 4L,
      5L -> 6L, 7L -> 5L).map { case (a, b) => (Some(a), Some(b)) }
    val vecs = Seq(vec(1, 1, 2), vec(2, 2, 1), vec(3, 1, 1), vec(4, 3, 1),
      vec(7, 1, 3))
    val got = assertSame(edges, Seq(Some(0L), Some(5L)), vecs)
    assert(got.contains((Some(1L), Some(2L))))
    assert(!got.exists { case (a, b) => a.contains(6L) || b.contains(6L) })
  }

  test("NaN cosines rank first, zero norms follow Spark's division: " +
      "NULL and last without ANSI, DIVIDE_BY_ZERO with it") {
    // 0's neighbours 1..5; 5's negative norm gives a NaN cosine
    val edges: Seq[Edge] = (1L to 5L).map(i => (Some(i), Some(0L)))
    val nan = Seq(vec(1, 1, 0), vec(2, 1, 1), vec(3, 0, 1), vec(4, 2, 1),
      (5L, Some(Array(1L, 1L)), Some(-2L)))
    val got = assertSame(edges, Seq(Some(0L)), nan)
    assert(got.contains((Some(1L), Some(5L))), "NaN must rank first")
    val zero = nan.init :+ vec(5, 0, 0)
    val plain = spark.newSession()
    plain.conf.set("spark.sql.ansi.enabled", "false")
    val lenient = assertSame(edges, Seq(Some(0L)), zero, plain)
    assert(!lenient.contains((Some(1L), Some(5L))), "NULL must rank last")
    assert(lenient.contains((Some(5L), Some(1L))), "ties to the smaller id")
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    assert(assertSame(edges, Seq(Some(0L)), zero, ansi).isEmpty)
  }

  /** A frame whose evaluation fails: proves a later collect never ran. */
  private def untouchable(cols: (String, String)*): DataFrame =
    spark.range(1).select(cols.map { case (c, t) =>
      raise_error(lit(s"$c was read")).cast(t).as(c) }: _*)

  private val noVecs = Seq("vec_id" -> "bigint", "r" -> "array<bigint>",
    "nn" -> "bigint")

  test("a delete set past its cap is declined before the edges are " +
      "read, and repairs as the in-cap ids alone do") {
    import spark.implicits._
    val cap = SimilarityQueries.RepairMaxDeletes
    val big = spark.range(1L << 40, (1L << 40) + cap)
      .select(col("id").as("del_id"))
    assert(SimilarityQueries.coordinatorRepair(spark,
      untouchable("vec_id" -> "bigint", "neighbor_id" -> "bigint"),
      big.union(Seq(0L).toDF("del_id")), untouchable(noVecs: _*).filter(_))
      .isEmpty)
    // the ids past the graph change nothing: the fallback's rows are
    // the coordinator's over the ids that touch the graph
    val rnd = new Random(7)
    val edges = (0L until 40L).flatMap(i =>
      Seq.fill(3)((Some(i), Some(rnd.nextInt(40).toLong))))
    val vecs = (0L until 40L).map(i =>
      vec(i, rnd.nextInt(5) - 2L, rnd.nextInt(5) - 2L, 1L))
    val del = Seq(Some(0L), Some(7L), Some(19L))
    val (g, d, v) = frames(spark, edges, del, vecs)
    val want = assertSame(edges, del, vecs)
    assert(rows(SimilarityQueries.deleteRepairCore(spark, g,
      big.union(d), v.filter(_))) === want)
  }

  test("a deleted hub past 512 incident edges repairs on the " +
      "coordinator, as the distributed rule does") {
    val hub = 600L
    val edges = (1L to hub).map(i => (Some(i), Some(0L))) ++
      (1L to hub).map(i => (Some(i), Some(i % hub + 1)))
    val vecs = (1L to hub).map(i => vec(i, i % 7 - 3, i % 5 - 2, 1))
    val got = assertSame(edges, Seq(Some(0L)), vecs)
    assert(got.size > edges.size, "expected repair edges")
  }

  test("incident edges past their cap are declined before the vectors " +
      "are read") {
    val edges = spark.range(SimilarityQueries.RepairMaxEdges + 1L)
      .select((col("id") + 1).as("vec_id"), lit(0L).as("neighbor_id"))
    assert(SimilarityQueries.coordinatorRepair(spark, edges,
      spark.range(1).select(lit(0L).as("del_id")),
      untouchable(noVecs: _*).filter(_)).isEmpty)
  }

  test("candidate pairs past their cap are declined before the vectors " +
      "are read") {
    // one deleted hub with s survivors ranks s·(s-1) pairs
    val s = Iterator.from(2).find(n => n.toLong * (n - 1) >
      SimilarityQueries.RepairMaxPairs).get
    assert(s <= SimilarityQueries.RepairMaxEdges)
    val edges = spark.range(s)
      .select((col("id") + 1).as("vec_id"), lit(0L).as("neighbor_id"))
    assert(SimilarityQueries.coordinatorRepair(spark, edges,
      spark.range(1).select(lit(0L).as("del_id")),
      untouchable(noVecs: _*).filter(_)).isEmpty)
  }

  test("a survivor fetch past its cap is declined, and the distributed " +
      "rule repairs it") {
    import spark.implicits._
    // sources 1 and 2, with more copies of the edge 1 -> 2 than the
    // fetch may hold
    val dup = spark.range(SimilarityQueries.RepairMaxFetch + 1L)
      .select(lit(1L).as("vec_id"), lit(2L).as("neighbor_id"))
    val edges = Seq(1L -> 0L, 2L -> 0L).toDF("vec_id", "neighbor_id")
      .union(dup)
    val vecs = Seq(vec(1, 1, 0), vec(2, 0, 1)).toDF("vec_id", "r", "nn")
    val del = Seq(0L).toDF("del_id")
    assert(SimilarityQueries.coordinatorRepair(spark, edges, del,
      vecs.filter(_)).isEmpty)
    // 2's repair to 1 is new; 1's repair to 2 is already an edge
    val got = SimilarityQueries.deleteRepairCore(spark, edges, del,
      vecs.filter(_))
    assert(got.filter(col("vec_id") === 2L).as[(Long, Long)].collect()
      .toSeq === Seq(2L -> 1L))
    assert(got.count() === SimilarityQueries.RepairMaxFetch + 2L)
  }
}

package graft.perfbench

import java.nio.file.{Files, Paths}

/** One suite workload: its queries, each with its slice and its
  * reference cost — the query's cold latency in ms within its slice,
  * the slice run alone in a fresh JVM (see DESIGN.md). */
final case class Suite(slices: Int, queries: Map[String, (Int, Int)]) {

  /** The queries of slice `j`, in name order. */
  def slice(j: Int): Seq[String] =
    queries.collect { case (n, (s, _)) if s == j => n }.toSeq.sorted

  def ref(name: String): Int = queries(name)._2
}

/** Which of the engine's queries each suite workload runs, read from
  * `suites.json`.
  *
  * Every name in `SparkEntry.queries` sits in exactly one suite or in
  * `excluded` with its reason; [[check]] reports an unassigned, unknown
  * or doubly placed name, and the benchmark refuses to run then, so a
  * new query must be placed before the benchmark runs again.
  */
final case class Membership(suites: Map[String, Suite],
    excluded: Map[String, String]) {

  /** Problems with the partition of `engine` (the engine's query
    * names); empty when every name is placed exactly once. */
  def check(engine: Set[String]): Seq[String] = {
    val placed = suites.values.toSeq.flatMap(_.queries.keys) ++
      excluded.keys
    val counts = placed.groupBy(identity).view.mapValues(_.size).toMap
    val badSlices = suites.toSeq.sortBy(_._1).flatMap { case (w, s) =>
      s.queries.collect { case (n, (j, _)) if j < 0 || j >= s.slices =>
        s"query $n of $w in slice $j of ${s.slices}" } ++
        (0 until s.slices).filter(s.slice(_).isEmpty)
          .map(j => s"slice $j of $w is empty")
    }
    engine.toSeq.sorted.filterNot(counts.contains)
      .map(n => s"unassigned query $n") ++
      counts.toSeq.sorted.collect { case (n, c) if c > 1 =>
        s"query $n placed $c times" } ++
      counts.keys.toSeq.sorted.filterNot(engine)
        .map(n => s"unknown query $n") ++ badSlices
  }
}

object Membership {
  def load(path: String): Membership = {
    import org.json4s._
    val doc = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(path)))
    val suites = doc match {
      case JObject(fields) => fields.collect {
        case (w, s: JObject) if w != "excluded" =>
          val JInt(k) = s \ "slices": @unchecked
          val JObject(qs) = s \ "queries": @unchecked
          w -> Suite(k.toInt, qs.map {
            case (n, JArray(List(JInt(j), JInt(c)))) => n -> (j.toInt, c.toInt)
            case (n, v) => throw new IllegalArgumentException(
              s"$w.$n: expected [slice, ref_ms], got $v")
          }.toMap)
      }.toMap
      case _ => throw new IllegalArgumentException(s"$path: not an object")
    }
    val excluded = (doc \ "excluded") match {
      case JObject(fs) => fs.collect { case (n, JString(r)) => n -> r }.toMap
      case _ => Map.empty[String, String]
    }
    Membership(suites, excluded)
  }
}

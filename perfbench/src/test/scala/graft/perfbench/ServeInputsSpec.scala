package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class ServeInputsSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(7)
  private val corpus = (0L until 500L).map(i =>
    i -> Array.fill(8)(rnd.nextGaussian().toFloat))

  private def epochs(seed: Long, n: Int) = {
    val in = new ServeInputs(seed, corpus)
    val warm = in.warmUpQueries()
    (warm.map { case (i, v) => (i, v.toSeq) },
      Seq.fill(n)(in.next()).map(e => (
        e.inserts.map { case (i, v) => (i, v.toSeq) }, e.deletes,
        e.queries.map { case (i, v) => (i, v.toSeq) })))
  }

  test("a seed generates the same serve batches every time") {
    assert(epochs(11, 3) === epochs(11, 3))
    assert(epochs(11, 3) !== epochs(12, 3))
  }

  test("batches have the documented sizes and never repeat an id") {
    val in = new ServeInputs(3, corpus)
    val eps = Seq.fill(4)(in.next())
    eps.foreach { e =>
      assert(e.inserts.size === 5 && e.deletes.size === 5)
      assert(e.queries.size === 32)
      assert(e.deletes.forall(i => i % 89 != 0 && i < 500))
      assert(e.inserts.forall(_._1 >= ServeInputs.InsertIdBase))
      e.queries.foreach { case (_, v) =>
        assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
      }
    }
    val deleted = eps.flatMap(_.deletes)
    assert(deleted.distinct.size === deleted.size)
    val inserted = eps.flatMap(_.inserts.map(_._1))
    assert(inserted.distinct.size === inserted.size)
  }
}

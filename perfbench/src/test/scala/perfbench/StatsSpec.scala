package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly at rank p(n-1)") {
    val xs = Array(1.0, 2.0, 4.0, 8.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 8.0)
    assert(Stats.percentile(xs, 0.5) == 3.0) // rank 1.5: halfway 2 -> 4
    assert(math.abs(Stats.percentile(xs, 0.99) - 7.88) < 1e-12) // rank 2.97
    assert(Stats.percentile(Array(5.0), 0.99) == 5.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.percentile(Array.empty[Double], 0.5))
  }

  test("self time subtracts the union of child intervals once") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    // overlapping children (parallel tasks) count each covered instant once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (20L, 50L), (45L, 60L))) == 50)
    // children sticking out of the parent are clipped to it
    assert(Stats.selfTime(10, 100, Seq((0L, 20L), (90L, 150L))) == 70)
    // a child covering the whole span leaves no self time
    assert(Stats.selfTime(10, 20, Seq((0L, 30L))) == 0)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("ground truth ranks by double-accumulated dot, ties to the smaller id") {
    // rows 0..3 in dim 2; rows 1 and 3 tie with row 2 for second place
    val vecs = Array(1f, 0f, 0.5f, 0f, 0f, 0.5f, 0.5f, 0f)
    val ids = Array(40L, 30L, 20L, 10L)
    val q = Array(1f, 1f)
    val top = Stats.topKDot(vecs, ids, 2, q, 3)
    assert(top.map(_._1).toSeq == Seq(40L, 10L, 20L))
    assert(top.map(_._2).toSeq == Seq(1.0, 0.5, 0.5))
    // k larger than the corpus returns every row, best first
    assert(Stats.topKDot(vecs, ids, 2, q, 9).map(_._1).toSeq == Seq(40L, 10L, 20L, 30L))
    // accumulation is in double: float accumulation would lose the small terms
    val big = Array.fill(4)(1f) ++ Array(1e8f, 1f, 1f, 1f)
    val twoRows = Stats.topKDot(big, Array(1L, 2L), 4, Array(1f, 1f, 1f, 1f), 1)
    assert(twoRows.head == ((2L, 1e8 + 3)))
  }

  test("merged segment lists keep the global order") {
    val a = Array((5L, 0.9), (1L, 0.5))
    val b = Array((3L, 0.9), (2L, 0.7))
    assert(Stats.mergeTopK(Seq(a, b), 3).map(_._1).toSeq == Seq(3L, 5L, 2L))
  }

  test("recall counts the truth's first k ids found in the answer's first k") {
    val truth = Seq(1L, 2L, 3L, 4L)
    assert(Stats.recallAtK(Seq(1L, 2L, 9L), truth, 3) == 2.0 / 3)
  }
}

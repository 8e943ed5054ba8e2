package perfbench

/** The benchmark's own arithmetic: percentiles, interval self time, and
  * the brute-force ground truth every recall and correctness check is
  * measured against. Nothing here calls the engine.
  */
object Stats {

  /** Percentile `p` in [0, 1] of already-sorted values by linear
    * interpolation at rank p·(n−1) (numpy's default, the reference's
    * latency formula).
    */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    require(p >= 0.0 && p <= 1.0, s"percentile rank $p outside [0, 1]")
    val r = p * (sorted.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toArray, 0.5)

  /** Total length covered by half-open intervals [s, e), overlaps counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part of [start, end) that
    * its children cover. Children may overlap each other (parallel tasks)
    * and may stick out of the parent; each covered instant counts once.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })

  /** Exact top-k by dot product: products of floats summed in double, the
    * larger score first, ties broken by the smaller id. Returns (id, score)
    * pairs, best first. `vecs` holds row `i` at `i·dim`.
    */
  def topKDot(vecs: Array[Float], ids: Array[Long], dim: Int,
              q: Array[Float], k: Int): Array[(Long, Double)] = {
    val n = ids.length
    val bestIds = new Array[Long](k)
    val bestS = new Array[Double](k)
    var size = 0
    // worse(a, b): a ranks after b
    def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
      sa < sb || (sa == sb && ia > ib)
    var i = 0
    while (i < n) {
      var acc = 0.0
      val off = i * dim
      var d = 0
      while (d < dim) { acc += vecs(off + d).toDouble * q(d).toDouble; d += 1 }
      val id = ids(i)
      if (size < k || worse(bestS(size - 1), bestIds(size - 1), acc, id)) {
        var j = math.min(size, k - 1)
        while (j > 0 && worse(bestS(j - 1), bestIds(j - 1), acc, id)) {
          bestS(j) = bestS(j - 1); bestIds(j) = bestIds(j - 1); j -= 1
        }
        bestS(j) = acc; bestIds(j) = id
        if (size < k) size += 1
      }
      i += 1
    }
    Array.tabulate(size)(j => (bestIds(j), bestS(j)))
  }

  /** Merge best-first (id, score) lists into the best `k` by the same order. */
  def mergeTopK(lists: Seq[Array[(Long, Double)]], k: Int): Array[(Long, Double)] =
    lists.flatten.sortBy { case (id, s) => (-s, id) }.take(k).toArray

  /** Share of `truth`'s first k ids found among `got`'s first k. */
  def recallAtK(got: Seq[Long], truth: Seq[Long], k: Int): Double = {
    val t = truth.take(k).toSet
    require(t.nonEmpty, "recall against an empty ground truth")
    got.take(k).count(t.contains).toDouble / t.size
  }
}

package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Centroid assignment kernels for the IVF index
  * (`/root/reference/apps/nvdb_ivf_build.cpp:69-92` assignment;
  * `apps/nvdb_ivf_eval.cpp:403-489` probe).
  *
  * The centroid table is tiny (nlist × dim floats) and rides into codegen
  * as a reference object — every executor scans rows against an in-memory
  * centroid matrix, no join, no shuffle. This is the Spark analogue of
  * FAISS's coarse quantizer living in RAM next to the scan.
  */
object CentroidOps {

  /** Per-matrix derived data for the norm-ordered argmin: the per-centroid
    * norms, the centroid indices sorted ascending by (norm, index), and
    * the norms in that sorted order.
    */
  final class CentroidMeta(val norms: Array[Double], val sumSqs: Array[Double],
                           val order: Array[Int], val sortedNorms: Array[Double]) {
    def maxNorm: Double = if (sortedNorms.isEmpty) 0.0 else sortedNorms.last
  }

  /** Built once per matrix, so this is where a ragged matrix fails: the
    * tiled kernels read every centroid over the first one's length.
    */
  private def buildMeta(cs: Array[Array[Float]]): CentroidMeta = {
    val n = cs.length
    val norms = new Array[Double](n)
    val sumSqs = new Array[Double](n)
    var i = 0
    while (i < n) {
      VectorKernels.requireDim("centroid matrix", cs(i).length, cs(0).length)
      sumSqs(i) = VectorKernels.sumSq(cs(i))
      norms(i) = math.sqrt(sumSqs(i))
      i += 1
    }
    val order = Array.range(0, n).sortBy(c => (norms(c), c))
    val sortedNorms = order.map(norms)
    new CentroidMeta(norms, sumSqs, order, sortedNorms)
  }

  /** Per-matrix meta, keyed by the broadcast reference object's identity
    * (same pattern as BatchScore's query-norm cache): weak keys die with
    * the codegen reference, a PER-THREAD last-entry pair serves the hot
    * loop without a lock (and without cross-job ping-pong when two scans
    * use different matrices), and a benign race recomputes bitwise-equal
    * values.
    */
  private val metaCache = new java.util.WeakHashMap[Array[Array[Float]], CentroidMeta]()
  private val metaLast =
    new ThreadLocal[(Array[Array[Float]], CentroidMeta)]()
  private[graft] def metaOf(cs: Array[Array[Float]]): CentroidMeta = {
    val last = metaLast.get()
    if (last != null && (last._1 eq cs)) return last._2
    val m = metaCache.synchronized {
      var got = metaCache.get(cs)
      if (got == null) {
        got = buildMeta(cs)
        metaCache.put(cs, got)
      }
      got
    }
    metaLast.set((cs, m))
    m
  }

  /** Relative slack on the norm-bound prune: the bound ‖x−c‖ ≥ |‖x‖−‖c‖|
    * is exact in real arithmetic but checked with ROUNDED norms (SIMD
    * sumSq + sqrt), so a degenerate near-collinear near-tie could see the
    * computed gap² land a few ulps above bestDist while the full kernel
    * would have come in just under it. Shrinking gap² by 1e-9 relative
    * covers every realistic rounding of the two norms (error ~1e-15
    * relative each) at zero measurable pruning cost; the same constant is
    * used by `Kmeans.nearestBounded` so train/serve assignment stays
    * consistent. A wrong skip would now need the norm-difference
    * cancellation to lose >1e-9 relative — only possible when an
    * almost-exact duplicate centroid is simultaneously within ~1e-9
    * relative of the pruned one's norm gap, i.e. far beyond any float
    * input this engine can represent distinctly.
    */
  final val PruneSlack = 1.0 - 1e-9

  /** Index of the L2-nearest centroid — the NORM-ORDERED TILED argmin
    * (the r9-designed train/assign kernel; this is the shared hot path of
    * `Kmeans` training and the IVF assign/probe expressions).
    *
    * The norm lower bound ‖x−c‖ ≥ |‖x‖−‖c‖| already lets an index-order
    * scan skip most kernel evals, but the SURVIVORS it leaves are
    * scattered, which defeats register tiling (r9 measured ~1× from
    * tiling scattered survivors). Visiting centroids in NORM order fixes
    * both at once: the prune-eligible set {c : (‖x‖−‖c‖)²·slack < bestD}
    * is a CONTIGUOUS window of the norm-sorted order around ‖x‖, expanded
    * two-pointer outward taking the smaller |norm gap| side first (the
    * best-first order, so bestD tightens fastest), with an EXACT stop:
    * |gap| is monotone outward on each side, so the first position whose
    * gap² fails the bound ends that side. Eligible candidates buffer four
    * at a time into [[Simd.l2Sq4]], which reuses the point's loads and
    * float→double widening from registers across the 4 centroids — the
    * 2–3× per-pair win the scattered-survivor scan could not get.
    *
    * BITWISE-IDENTICAL to the index-order scan by construction:
    * per-pair distances are bitwise equal ([[Simd.l2Sq4]] lane math ==
    * `l2Sq`), pruned candidates satisfy d ≥ gap² ≥ bestD/slack > bestD so
    * they can never win (and an exact tie is NEVER pruned: gap² ≤ d =
    * bestD ⇒ gap²·slack < bestD), and the selection rule
    * `d < bestD || (d == bestD && c < best)` makes the winner the
    * lowest-index global argmin regardless of visit order — exactly what
    * the index-order strict-`<` scan returns. VectorKernelsSpec gates the
    * equality on random data and on constructed equal-distance ties.
    */
  def argminL2(v: ArrayData, centroids: Array[Array[Float]]): Int =
    argminL2F(v.toFloatArray(), centroids)

  /** [[argminL2]] over a plain float array (the `Kmeans` entry point).
    *
    * Dispatch: large centroid sets (k ≥ 128 — the train/assign regime
    * where the reference runs FAISS's blocked GEMM) go through
    * [[argminScreened]]; small sets keep the norm-ordered tile (screening
    * overhead isn't amortized there). Both are bit-exact, and both check
    * `x` against the centroids' dim.
    */
  def argminL2F(x: Array[Float], centroids: Array[Array[Float]]): Int = {
    val meta = metaOf(centroids)
    if (VectorKernels.simdEnabled && centroids.length >= 128 && x.length >= 16)
      argminScreened(x, centroids, meta)
    else
      argminNormOrdered(x, centroids, meta.order, meta.sortedNorms)
  }

  /** Per-thread scratch of the screened argmin: the screen-distance array
    * (size ≥ k) and the 4-wide tile output. Never escapes one call.
    */
  private val screenBuf = new ThreadLocal[(Array[Double], Array[Double])]()
  private def screenBufOf(k: Int): (Array[Double], Array[Double]) = {
    var b = screenBuf.get()
    if (b == null || b._1.length < k) {
      b = (new Array[Double](k), new Array[Double](8))
      screenBuf.set(b)
    }
    b
  }

  /** Exact-shortlist selection shared by the screened paths: evaluate the
    * DOUBLE kernel on every candidate whose screen distance is within
    * `thr`, lowest-index winner on exact ties. Int.MaxValue = empty
    * shortlist (all-NaN screen from non-finite input).
    */
  private def shortlistArgmin(x: Array[Float], cs: Array[Array[Float]],
                              df: Array[Double], k: Int, thr: Double): Int = {
    var best = Int.MaxValue
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      if (df(c) <= thr) {
        val d = VectorKernels.l2Sq(x, cs(c))
        if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
      }
      c += 1
    }
    best
  }

  /** Batch width of [[assignBatch]]: 16 points per centroid-matrix pass
    * keeps the per-thread screen state (16 × k doubles ≈ 512 KB at
    * k=4096) plus the 128-centroid chunk (192 KB at 384d) L2-resident.
    */
  final val AssignBatchSize = 16
  private val ChunkCentroids = 128

  private val batchBuf = new ThreadLocal[(Array[Array[Double]], Array[Double])]()
  private def batchBufOf(k: Int): (Array[Array[Double]], Array[Double]) = {
    var b = batchBuf.get()
    if (b == null || b._1(0).length < k) {
      b = (Array.fill(AssignBatchSize)(new Array[Double](k)), new Array[Double](8))
      batchBuf.set(b)
    }
    b
  }

  /** Batched screened assignment — the fix for the train wall's REAL
    * bottleneck. The single-point screen already runs at the float-FMA
    * kernel's speed, but one point's screen streams the whole k×dim
    * centroid matrix (6.3 MB at 4096×384) from L3 — ~22 GB/s per thread
    * measured (r10, COVERAGE.md §2.7 row C1), so 32 assignment threads
    * saturate the shared L3 and throttle ~4×. This is why FAISS assigns with a
    * blocked GEMM: BLOCK OVER POINTS TOO. Here a 128-centroid chunk
    * (L2-resident) is screened against up to 16 buffered points before
    * moving on, cutting per-point L3 traffic 16× — per-iteration
    * centroid traffic drops from 1.3 TB to 79 GB at the 200k×4096
    * operating point, taking the parallel scan from memory-bound back to
    * compute-bound. Same screen math, same per-point error bound and
    * exact shortlist re-eval as [[argminScreened]], so each out(p) is
    * bit-identical to the single-point call (VectorKernelsSpec gates
    * it); loop order changes only CACHE traffic, never a value.
    *
    * `out(p)` = argmin index for `points(p)`, p < n (n ≤ any length;
    * internally processed [[AssignBatchSize]] points at a time). Falls
    * back to the per-point dispatch when the screen preconditions fail.
    */
  def assignBatch(points: Array[Array[Float]], n: Int,
                  cs: Array[Array[Float]], out: Array[Int]): Unit =
    assignBatchBounded(points, n, cs, out, null, null)

  /** Directed-rounding slack for the Hamerly bound maintenance
    * ([[assignBatchBounded]] and `Kmeans`' skip test): upper bounds are
    * INFLATED and lower bounds DEFLATED by 1e-12 relative per update, so
    * a handful of double roundings (each ≤ 2⁻⁵² relative) compounded over
    * every Lloyd iteration stays orders of magnitude inside the slack —
    * a skip can therefore never hide a true assignment change.
    */
  final val BoundInflate = 1.0 + 1e-12
  final val BoundDeflate = 1.0 - 1e-12

  /** [[assignBatch]] that additionally emits Hamerly-style bounds when
    * `uOut`/`lOut` are non-null (Hamerly 2010, "Making k-means even
    * faster" — the bound maintenance lives in `Kmeans`):
    *  - `uOut(p)`: an inflated UPPER bound on the euclidean distance to
    *    the assigned centroid (√ of the exact kernel distance ×
    *    [[BoundInflate]]);
    *  - `lOut(p)`: a deflated LOWER bound on the distance to the nearest
    *    OTHER centroid — from the screen: d(c) ≥ d̃(c) − eMax for every c,
    *    so √(min_{c≠argmin} d̃(c) − eMax) × [[BoundDeflate]] lower-bounds
    *    the second-nearest (0 when the screen can't certify one, e.g.
    *    the non-screenable and non-finite fallbacks — callers then never
    *    skip that point, which is conservative and exact).
    */
  def assignBatchBounded(points: Array[Array[Float]], n: Int,
                         cs: Array[Array[Float]], out: Array[Int],
                         uOut: Array[Double], lOut: Array[Double]): Unit = {
    val meta = metaOf(cs)
    val k = cs.length
    val dim = if (k == 0) 0 else cs(0).length
    var i = 0
    while (k > 0 && i < n) {
      VectorKernels.requireDim("centroid assign", points(i).length, dim)
      i += 1
    }
    if (!(VectorKernels.simdEnabled && k >= 128 && dim >= 16)) {
      var p = 0
      while (p < n) {
        val got = argminL2F(points(p), cs)
        out(p) = got
        if (uOut != null) {
          uOut(p) = math.sqrt(VectorKernels.l2Sq(points(p), cs(got))) * BoundInflate
          lOut(p) = 0.0 // no certified second-distance bound: never skip
        }
        p += 1
      }
      return
    }
    val (dfs, out8) = batchBufOf(k)
    val xxs = new Array[Double](AssignBatchSize)
    var base0 = 0
    while (base0 < n) {
      val b = math.min(AssignBatchSize, n - base0)
      var p = 0
      while (p < b) { xxs(p) = VectorKernels.sumSq(points(base0 + p)); p += 1 }
      var c0 = 0
      while (c0 < k) {
        val cEnd = math.min(c0 + ChunkCentroids, k)
        p = 0
        while (p < b) {
          val x = points(base0 + p)
          val df = dfs(p)
          val xx = xxs(p)
          var c = c0
          while (c + 8 <= cEnd) {
            Simd.dot8FSeq(x, cs, c, dim, out8)
            var j = 0
            while (j < 8) { df(c + j) = xx + meta.sumSqs(c + j) - 2.0 * out8(j); j += 1 }
            c += 8
          }
          if (c + 4 <= cEnd) {
            Simd.dot4F(x, cs(c), 0, cs(c + 1), 0, cs(c + 2), 0, cs(c + 3), 0, dim, out8, 0)
            var j = 0
            while (j < 4) { df(c + j) = xx + meta.sumSqs(c + j) - 2.0 * out8(j); j += 1 }
            c += 4
          }
          while (c < cEnd) {
            df(c) = xx + meta.sumSqs(c) - 2.0 * VectorKernels.dot(x, cs(c))
            c += 1
          }
          p += 1
        }
        c0 = cEnd
      }
      p = 0
      while (p < b) {
        val x = points(base0 + p)
        val df = dfs(p)
        var dfMin = Double.MaxValue
        var dfMin2 = Double.MaxValue
        var dfMinIdx = -1
        var allFinite = true
        var c = 0
        while (c < k) {
          val d = df(c)
          if (d < dfMin) { dfMin2 = dfMin; dfMin = d; dfMinIdx = c }
          else if (d < dfMin2) dfMin2 = d
          if (!java.lang.Double.isFinite(d)) allFinite = false
          c += 1
        }
        val eMax = 4.0 * dim * 5.9604644775390625e-8 * math.sqrt(xxs(p)) * meta.maxNorm
        // ANY non-finite screen value voids the γₙ bound for that
        // candidate (a float dot that OVERFLOWED on finite inputs with
        // ‖x‖·‖c‖ ≳ 3.4e38 makes d̃ = ±Inf or NaN): a -Inf minimum
        // collapses the shortlist to the overflowed candidate, and a
        // +Inf/NaN entry silently excludes a candidate whose true
        // distance is unbounded by the screen — either way the
        // 'bit-identical by construction' contract needs the exact
        // norm-ordered scan instead.
        val pi = base0 + p
        if (!allFinite) {
          val got = argminNormOrdered(x, cs, meta.order, meta.sortedNorms)
          out(pi) = got
          if (uOut != null) {
            uOut(pi) = math.sqrt(VectorKernels.l2Sq(x, cs(got))) * BoundInflate
            lOut(pi) = 0.0 // screen uncertified: never skip this point
          }
        } else {
          val got0 = shortlistArgmin(x, cs, df, k, dfMin + 2.0 * eMax)
          val got =
            if (got0 == Int.MaxValue) // defensive: cannot happen when finite
              argminNormOrdered(x, cs, meta.order, meta.sortedNorms)
            else got0
          out(pi) = got
          if (uOut != null) {
            uOut(pi) = math.sqrt(VectorKernels.l2Sq(x, cs(got))) * BoundInflate
            // nearest-other screen distance: the second screen minimum if
            // the screen argmin IS the exact argmin, else the screen
            // minimum itself (then over some c ≠ got)
            val lScreen = if (dfMinIdx == got) dfMin2 else dfMin
            val lSq = lScreen - eMax
            lOut(pi) =
              if (lSq <= 0.0) 0.0 else math.sqrt(lSq) * BoundDeflate
          }
        }
        p += 1
      }
      base0 += b
    }
  }

  /** The GEMM-shaped argmin (FAISS `distance_computation` re-expressed:
    * screen with a cheap blocked X·Cᵀ, exactly re-evaluate a shortlist):
    * a FLOAT-accumulated dot pass over ALL centroids ([[Simd.dot4F]] —
    * 1 FMA/element at 2× the double-lane width, ~4× cheaper than exact
    * tiled l2Sq) forms screen distances d̃(c) = ‖x‖² + ‖c‖² − 2·x·c̃, and
    * only candidates within an ANALYTIC error bound of the screen minimum
    * are re-evaluated with the exact double-lane kernel.
    *
    * Soundness (why the result is BIT-IDENTICAL to the exhaustive exact
    * scan): float-FMA accumulation of n products obeys
    * |dot̃ − dot| ≤ γₙ·Σ|xᵢcᵢ| ≤ γₙ·‖x‖·‖c‖ (γₙ = n·u/(1−n·u), u = 2⁻²⁴,
    * valid for ANY summation order, so lane interleave + reduceLanes are
    * covered); ‖x‖², ‖c‖² are double-accumulated (error ~1e-16 relative,
    * absorbed below). Hence |d̃(c) − d(c)| ≤ 2γₙ‖x‖‖c‖ + tiny ≤ eMax :=
    * 4·n·u·‖x‖·max‖c‖ (a ≥1.7× cushion). Writing c* for the exact argmin:
    * d̃min = min_c d̃(c) ≥ min_c (d(c) − eMax) = d(c*) − eMax. For any c
    * outside the shortlist {c : d̃(c) ≤ d̃min + 2·eMax}:
    *   d(c) ≥ d̃(c) − eMax > d̃min + eMax ≥ d(c*),
    * strictly — so no argmin candidate and NO exact tie is ever excluded,
    * and the shortlist's exact argmin with the lowest-index tie-break IS
    * the global one. Non-finite inputs make every screen comparison
    * false; the empty shortlist falls back to the windowed exact scan.
    * VectorKernelsSpec gates equality vs brute force (random + reflected
    * exact ties); KmeansSpec's bitwise determinism gates ride on it.
    */
  private[graft] def argminScreened(x: Array[Float], cs: Array[Array[Float]],
                                    meta: CentroidMeta): Int = {
    val k = cs.length
    VectorKernels.requireDim("nearest centroid", x.length, cs(0).length)
    val dim = x.length
    val xx = VectorKernels.sumSq(x)
    val (df, out4) = screenBufOf(k)
    // overflow guard (see assignBatch): any non-finite screen value voids
    // the error bound for that candidate — exit to the exact scan
    if (!screenFill(x, cs, dim, xx, meta, df, out4))
      return argminNormOrdered(x, cs, meta.order, meta.sortedNorms)
    var dfMin = Double.MaxValue
    var c = 0
    while (c < k) { val d = df(c); if (d < dfMin) dfMin = d; c += 1 }
    val eMax = 4.0 * dim * 5.9604644775390625e-8 * math.sqrt(xx) * meta.maxNorm
    val got = shortlistArgmin(x, cs, df, k, dfMin + 2.0 * eMax)
    if (got == Int.MaxValue) // defensive: cannot happen when finite
      argminNormOrdered(x, cs, meta.order, meta.sortedNorms)
    else got
  }

  /** The shared float-FMA screen pass: fills `df(c) = ‖x‖² + ‖c‖² − 2·x·c̃`
    * for every centroid (the same per-entry math [[argminScreened]] and
    * [[assignBatch]] prove their bounds over) and reports whether every
    * screen value is finite — callers must fall back to an exact scan
    * when it returns false.
    */
  private def screenFill(x: Array[Float], cs: Array[Array[Float]], dim: Int,
                         xx: Double, meta: CentroidMeta,
                         df: Array[Double], out: Array[Double]): Boolean = {
    val k = cs.length
    var allFinite = true
    var c = 0
    while (c + 8 <= k) {
      Simd.dot8FSeq(x, cs, c, dim, out)
      var j = 0
      while (j < 8) {
        val d = xx + meta.sumSqs(c + j) - 2.0 * out(j)
        df(c + j) = d
        if (!java.lang.Double.isFinite(d)) allFinite = false
        j += 1
      }
      c += 8
    }
    if (c + 4 <= k) {
      Simd.dot4F(x, cs(c), 0, cs(c + 1), 0, cs(c + 2), 0, cs(c + 3), 0, dim, out, 0)
      var j = 0
      while (j < 4) {
        val d = xx + meta.sumSqs(c + j) - 2.0 * out(j)
        df(c + j) = d
        if (!java.lang.Double.isFinite(d)) allFinite = false
        j += 1
      }
      c += 4
    }
    while (c < k) { // ragged tail: exact double dot is fine for a screen
      val d = xx + meta.sumSqs(c) - 2.0 * VectorKernels.dot(x, cs(c))
      df(c) = d
      if (!java.lang.Double.isFinite(d)) allFinite = false
      c += 1
    }
    allFinite
  }

  private[graft] def argminNormOrdered(x: Array[Float], cs: Array[Array[Float]],
                                       order: Array[Int],
                                       sortedNorms: Array[Double]): Int = {
    val n = cs.length
    if (n == 0) return 0
    VectorKernels.requireDim("nearest centroid", x.length, cs(0).length)
    val dim = x.length
    val tiled = VectorKernels.simdEnabled && dim >= 16
    val xn = VectorKernels.norm2(x)
    // first sorted position with norm >= ‖x‖ (binary lower bound)
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedNorms(mid) < xn) lo = mid + 1 else hi = mid
    }
    var down = lo - 1 // next candidate below ‖x‖ (gap > 0)
    var up = lo       // next candidate at/above ‖x‖ (gap ≤ 0)
    var downDone = down < 0
    var upDone = up >= n
    var best = Int.MaxValue // index tie-break sentinel: any candidate wins
    var bestD = Double.MaxValue
    val buf = new Array[Int](4)
    val out = new Array[Double](4)
    var bufN = 0
    while (!downDone || !upDone) {
      val takeDown =
        !downDone && (upDone || xn - sortedNorms(down) <= sortedNorms(up) - xn)
      val pos = if (takeDown) down else up
      val gap = xn - sortedNorms(pos)
      if (gap * gap * PruneSlack < bestD) {
        buf(bufN) = order(pos)
        bufN += 1
        if (bufN == 4) {
          if (tiled)
            Simd.l2Sq4(x, cs(buf(0)), 0, cs(buf(1)), 0, cs(buf(2)), 0, cs(buf(3)), 0,
              dim, out, 0)
          else {
            out(0) = VectorKernels.l2Sq(x, cs(buf(0)))
            out(1) = VectorKernels.l2Sq(x, cs(buf(1)))
            out(2) = VectorKernels.l2Sq(x, cs(buf(2)))
            out(3) = VectorKernels.l2Sq(x, cs(buf(3)))
          }
          var j = 0
          while (j < 4) {
            val d = out(j)
            val c = buf(j)
            if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
            j += 1
          }
          bufN = 0
        }
        if (takeDown) { down -= 1; downDone = down < 0 }
        else { up += 1; upDone = up >= n }
      } else if (takeDown) downDone = true
      else upDone = true
    }
    var j = 0
    while (j < bufN) { // ragged tail of the last tile: per-pair kernel
      val c = buf(j)
      val d = VectorKernels.l2Sq(x, cs(c))
      if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
      j += 1
    }
    if (best == Int.MaxValue) 0 else best
  }

  /** ids of the `nprobe` L2-nearest centroids, nearest first */
  def topNprobe(v: ArrayData, centroids: Array[Array[Float]], nprobe: Int): ArrayData =
    new GenericArrayData(topNprobeF(v.toFloatArray(), centroids, nprobe))

  /** [[topNprobe]] over a plain float array. Dispatch mirrors
    * [[argminL2F]]: the train/probe regime (k ≥ 128) goes through the
    * SCREENED top-nprobe, small centroid sets keep the exhaustive
    * double-kernel selection. Both return the nprobe nearest ids ordered
    * by (distance, index) — bit-identical by the screen's set bound.
    */
  def topNprobeF(x: Array[Float], cs: Array[Array[Float]], nprobe: Int): Array[Int] = {
    val k = cs.length
    if (k > 0) VectorKernels.requireDim("nprobe routing", x.length, cs(0).length)
    val np = math.min(nprobe, k)
    if (np <= 0) return new Array[Int](0)
    val meta = metaOf(cs)
    if (VectorKernels.simdEnabled && k >= 128 && x.length >= 16) {
      val got = topNprobeScreened(x, cs, meta, np)
      if (got != null) return got
    }
    topNprobeDirect(x, cs, np)
  }

  /** Exhaustive selection reference (and small-k / non-finite fallback):
    * O(n·np) repeated min-scan — nearest first, lowest index on exact
    * ties, i.e. ordered by (`Double.compare` distance, index). The total
    * order ranks non-finite distances (a NaN or ±Inf query) last instead
    * of leaving no candidate, so such a query gets the lowest indices,
    * like [[argminL2F]]'s 0.
    */
  private[graft] def topNprobeDirect(x: Array[Float], cs: Array[Array[Float]],
                                     np: Int): Array[Int] = {
    val n = cs.length
    val dist = new Array[Double](n)
    var c = 0
    while (c < n) { dist(c) = VectorKernels.l2Sq(x, cs(c)); c += 1 }
    val picked = new Array[Int](np)
    val used = new Array[Boolean](n)
    var j = 0
    while (j < np) {
      var best = -1
      var i = 0
      while (i < n) {
        if (!used(i) &&
            (best < 0 || java.lang.Double.compare(dist(i), dist(best)) < 0)) best = i
        i += 1
      }
      used(best) = true
      picked(j) = best
      j += 1
    }
    picked
  }

  /** Screened top-nprobe — [[argminScreened]]'s bound extended from the
    * argmin to the top-np SET. With s̃ₙ = the np-th smallest screen
    * distance: the np screen-smallest candidates each have true
    * d ≤ d̃ + eMax ≤ s̃ₙ + eMax, so the exact np-th smallest distance dₙ
    * satisfies dₙ ≤ s̃ₙ + eMax; any true top-np member (d ≤ dₙ) then has
    * d̃ ≤ d + eMax ≤ s̃ₙ + 2·eMax. Hence the shortlist
    * {c : d̃(c) ≤ s̃ₙ + 2·eMax} contains every candidate that could rank
    * ≤ np under the (distance, index) order — including every exact tie —
    * and each EXCLUDED c has d(c) ≥ d̃(c) − eMax > s̃ₙ + eMax ≥ dₙ,
    * strictly, so it can never displace a selected one. Exact double
    * kernel + (d, idx) insertion sort over the shortlist then reproduces
    * [[topNprobeDirect]]'s output bit-for-bit (VectorKernelsSpec gates
    * random + constructed-tie equality). Returns null on any non-finite
    * screen value (overflow voids the bound — caller falls back).
    */
  private[graft] def topNprobeScreened(x: Array[Float], cs: Array[Array[Float]],
                                       meta: CentroidMeta, np: Int): Array[Int] = {
    val k = cs.length
    val dim = cs(0).length
    val xx = VectorKernels.sumSq(x)
    val (df, out4) = screenBufOf(k)
    if (!screenFill(x, cs, dim, xx, meta, df, out4)) return null
    // np-th smallest screen distance via a bounded max-heap
    val heap = new Array[Double](np)
    var hn = 0
    var c = 0
    while (c < k) {
      val d = df(c)
      if (hn < np) {
        heap(hn) = d
        hn += 1
        var i = hn - 1
        while (i > 0 && heap((i - 1) >> 1) < heap(i)) {
          val p = (i - 1) >> 1
          val t = heap(i); heap(i) = heap(p); heap(p) = t
          i = p
        }
      } else if (d < heap(0)) {
        heap(0) = d
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var m = i
          if (l < np && heap(l) > heap(m)) m = l
          if (r < np && heap(r) > heap(m)) m = r
          if (m == i) done = true
          else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
        }
      }
      c += 1
    }
    val sNth = heap(0)
    val eMax = 4.0 * dim * 5.9604644775390625e-8 * math.sqrt(xx) * meta.maxNorm
    val thr = sNth + 2.0 * eMax
    // exact re-eval of the shortlist, kept sorted by (d, idx) as it grows
    // (insertion sort — the shortlist is np + a handful except under mass
    // exact ties, where O(m²) on a few thousand is still microseconds)
    var cap = math.min(k, np + 16)
    var ids = new Array[Int](cap)
    var ds = new Array[Double](cap)
    var m = 0
    c = 0
    while (c < k) {
      if (df(c) <= thr) {
        if (m == cap) {
          cap = math.min(k, cap * 2)
          ids = java.util.Arrays.copyOf(ids, cap)
          ds = java.util.Arrays.copyOf(ds, cap)
        }
        val d = VectorKernels.l2Sq(x, cs(c))
        // insert keeping (d, idx) ascending; scanning c ascending means
        // equal-d entries are already in index order — strict > suffices
        var i = m - 1
        while (i >= 0 && ds(i) > d) {
          ds(i + 1) = ds(i); ids(i + 1) = ids(i)
          i -= 1
        }
        ds(i + 1) = d
        ids(i + 1) = c
        m += 1
      }
      c += 1
    }
    java.util.Arrays.copyOf(ids, np)
  }
}

/** `nearest_centroid(vec)`: id of the closest centroid (cluster assign). */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    CentroidOps.argminL2(v.asInstanceOf[ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.expressions.CentroidOps.argminL2($v, $ref)")
  }
  override def prettyName: String = "nearest_centroid"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `nearest_centroids(vec, nprobe)`: the nprobe closest centroid ids. */
case class NearestCentroids(child: Expression, centroids: Array[Array[Float]], nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    CentroidOps.topNprobe(v.asInstanceOf[ArrayData], centroids, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.expressions.CentroidOps.topNprobe($v, $ref, $nprobe)")
  }
  override def prettyName: String = "nearest_centroids"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

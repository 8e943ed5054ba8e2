package graft.ops

import java.util.concurrent.{ExecutionException, ExecutorService, Executors}

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expressions.{CentroidOps, VectorKernels}

/** Deterministic Lloyd's k-means over float vectors — the coarse-quantizer
  * trainer behind [[Ivf.train]] and the sub-codebook trainer behind
  * [[Pq.train]].
  *
  * Why not MLlib: the r7/r8 builds measured MLlib KMeans at 327–443 s for
  * the BENCH_SCALE operating point (200k × 384d × nlist=1024) against the
  * reference's 13.9 s FAISS train at nlist=4096 (`Performance.md:578-579`).
  * The gap is not the math — one Lloyd iteration here is 200k×1024 SIMD
  * L2 evals ≈ 157 GFLOP — it is MLlib's per-row Vector boxing and
  * generic-aggregation plumbing.
  *
  * Shape: FAISS's own (`Clustering.cpp`). The bounded training sample —
  * [[Ivf.train]] caps it at nlist × maxPointsPerCentroid, 307 MB at the
  * largest caller (200k × 384d) — is laid out by Spark once and collected
  * to the driver in ONE job, and every Lloyd iteration runs there
  * ([[lloyd]]): per-partition assignment on a shared pool of driver
  * threads, then the per-partition sums folded in PARTITION ORDER through
  * a fixed association tree, so the float reduction is deterministic
  * run-to-run — the property every seeded oracle build (a1/a6/a7/a9)
  * contracts on. Assignment is the GEMM-shaped batched screen
  * (`CentroidOps.assignBatch` — float-dot screening over L2-blocked
  * point×centroid tiles, exact double-kernel shortlist re-eval,
  * bit-identical to the exhaustive scan by its error-bound contract)
  * behind Hamerly bounds that skip provably-unchanged points. FAISS's
  * clustering policy is kept: bounded iterations, seeded sample init,
  * empty clusters re-seeded by splitting the largest.
  */
object Kmeans {

  /** Train `k` centroids on `sample`'s `vecCol`. Returns k × dim floats.
    *
    * Init: k ≥ 256 seeds from a seeded content-hash draw (FAISS's
    * uniform-init economics — at large k the spread advantage of
    * k-means++ is negligible but its O(k²·d) cost is not); smaller k runs
    * driver-side k-means++ with 4 FAISS-nredo-style restarts on a seeded
    * subsample, keeping the lowest-quantization-error seeding — spread
    * that measurably lifts probe recall on tiny fixtures.
    *
    * Determinism: the init draw orders by a seeded hash of vector
    * CONTENT, so it is independent of partition layout entirely; the
    * Lloyd sums depend on layout only through the partition-ordered
    * fold, and the layout is a pure function of (content, seed,
    * maxParts). Same contract as the seeded HNSW build.
    *
    * `stableFrac` > 0 turns on ASSIGNMENT-STABILITY early stop: when
    * fewer than `stableFrac` of the sample changed assignment between
    * consecutive iterations, the loop ends after that iteration's update.
    * FAISS's 25 iterations are a default, not a convergence fact — at the
    * 1M/nlist=4096 point the assignment churn collapses to <0.2 % well
    * before iteration 25 while each remaining iteration still costs a full
    * screened-GEMM assign pass. The produced centroids are EXACTLY the
    * full trainer's at the stop iteration (stopping is the only
    * difference — KmeansSpec gates the bitwise equality). Off (0.0) by
    * default; inert on the driver-local small-sample path.
    */
  def fit(sample: DataFrame, k: Int, seed: Long, maxIter: Int = 25,
          tol: Double = 1e-4, vecCol: String = "vec",
          maxParts: Int = 64, selectByRecall: Boolean = false,
          stableFrac: Double = 0.0): Array[Array[Float]] = {
    val spark = sample.sparkSession
    import spark.implicits._
    // Deterministic CONTENT-HASH layout of the sample, replacing the r10
    // coalesce of the scan's own splits. Two reasons, both measured r11:
    //  - BALANCE: the id-prefix training sample arrives pushdown-pruned to
    //    a handful of parquet splits; a seeded-hash shuffle spreads it
    //    evenly over maxParts partitions regardless of file layout — now
    //    the unit of parallel assignment on the driver.
    //  - DETERMINISM: the layout becomes a pure function of (content,
    //    seed, maxParts) — the r10 layout depended on file split planning.
    //    Within-partition order is pinned by the (hash, vec) sort: shuffle
    //    fetch order is scheduling-dependent, so an unsorted partition
    //    would re-fold sums in a different order across runs. Hash ties
    //    are either duplicate vectors (commute exactly in the sums) or
    //    64-bit collisions broken by the vec tiebreak.
    // One collect (one Spark job, plus the shuffle's map stage) brings
    // every partition's rows to the driver, in partition and row order,
    // with each row's hash: n, dim and the init draw come from what arrived.
    val collected = sample.select(xxhash64(col(vecCol), lit(seed)).as("h"), col(vecCol).as("v"))
      .repartition(maxParts, col("h"))
      .sortWithinPartitions(col("h"), col("v"))
      .as[(Long, Array[Float])].rdd
      .mapPartitions { it =>
        val rows = it.toArray
        Iterator.single((rows.map(_._1), rows.map(_._2)))
      }
      .collect()
    val hashes = collected.map(_._1)
    val parts = collected.map(_._2)
    val n = parts.map(_.length.toLong).sum
    require(n >= k, s"k-means sample has $n rows < k=$k")
    val dim = parts.find(_.nonEmpty).get.head.length
    require(n * dim * 4L <= sampleMaxBytes,
      s"k-means sample of $n rows x $dim dims exceeds the ${sampleMaxBytes >> 20} MiB " +
        "driver budget: cap the training sample (Ivf.train's maxPointsPerCentroid)")

    // Small problems (every sf-fixture index, and any sub-codebook on a
    // modest sample) run FAISS's nredo semantics — full Lloyd from 4
    // k-means++ seedings, keep the best run. A single shot is one local
    // optimum whose quality swings ±0.05 probe recall with the init draw
    // on a 500-row fixture; best-of-4 restarts removes that luck for the
    // price of milliseconds at this size.
    if (localEligible(k, n)) {
      lastRunIters.set(-1)
      return fitLocal(parts.flatten, k, seed, maxIter, tol, selectByRecall)
    }

    // Init draw by smallest seeded CONTENT hash — exactly what
    // `orderBy(xxhash64(vec, seed)).limit(m)` over the sample returns, NOT
    // a takeSample, whose draw depends on the partition layout: a layout
    // change would silently reseed the quantizer, and fixture-sized
    // corpora are threshold-sensitive to that luck (measured ±0.04 probe
    // recall across draws at n=500). 64-bit content hashes only collide
    // for duplicate vectors, whose relative order is value-irrelevant.
    def hashDraw(m: Int): Array[Array[Float]] = {
      val sorted = hashes.flatten
      java.util.Arrays.sort(sorted)
      val cut = sorted(m - 1)
      parts.indices.flatMap { p =>
        hashes(p).indices.filter(hashes(p)(_) <= cut).map(i => (hashes(p)(i), parts(p)(i)))
      }.sortBy(_._1).take(m).map(_._2).toArray
    }
    val init =
      if (k >= 256) hashDraw(k)
      else
        // mid-size path: k-means++ spread on a bounded subsample seeds ONE
        // Lloyd run
        kmeansPlusPlus(hashDraw(math.min(n, math.max(k.toLong * 40, 4096L)).toInt), k, seed)
    val (cents, iters) = lloyd(parts, init, seed, maxIter, tol, stableFrac)
    lastRunIters.set(iters)
    cents
  }

  /** Lloyd's iterations on the driver from `init` over `parts` — the
    * sample in its fixed partition layout. Returns the centroids and the
    * number of iterations run.
    *
    * Each iteration assigns every partition (in parallel on [[pool]]),
    * folds the per-partition sums through [[foldMirrored]]'s fixed tree,
    * re-seeds empty clusters, and stops on centroid movement ≤ `tol` or,
    * with `stableFrac` > 0, on assignment churn ≤ `stableFrac`.
    *
    * HAMERLY SKIP (Hamerly 2010, re-expressed with directed rounding):
    * each point carries an INFLATED upper bound u on its distance to its
    * assigned centroid and a DEFLATED lower bound l on its distance to the
    * nearest other. After the centroids move, u += δ(assigned) and
    * l −= max δ keep both bounds valid (triangle inequality; δ itself is
    * inflated and every update multiplies by BoundInflate/BoundDeflate, so
    * double rounding can never tip a bound the unsafe way — inputs to each
    * op are exact stored doubles, making each result correctly rounded,
    * and the 1e-12 relative slack dwarfs the ≤2⁻⁵² per-op error plus the
    * γ₃₈₄ ≈ 8.5e-14 kernel accumulation error). If u < l strictly, the
    * assignment provably cannot have changed (every other centroid is
    * strictly farther) — the point is SKIPPED with zero kernel work,
    * preserving lowest-index tie-breaks exactly because a skip certifies a
    * UNIQUE argmin. Points that fail the cheap test get one exact kernel
    * eval to tighten u; only the remainder re-runs the full screen.
    * Assignments — and hence the folded centroids — are BITWISE IDENTICAL
    * to the full rescan every iteration, which `hamerly = false` runs as
    * the reference (KmeansSpec gate).
    */
  private[graft] def lloyd(parts: Array[Array[Array[Float]]], init: Array[Array[Float]],
                           seed: Long, maxIter: Int, tol: Double,
                           stableFrac: Double = 0.0,
                           hamerly: Boolean = true): (Array[Array[Float]], Int) = {
    val k = init.length
    val dim = init(0).length
    val assigns = parts.map(p => new Array[Int](p.length))
    val us = parts.map(p => new Array[Double](p.length))
    val ls = parts.map(p => new Array[Double](p.length))
    val n = parts.map(_.length.toLong).sum
    // inflated centroid moves of the last update, and their max
    val deltas = new Array[Double](k)
    var maxDelta = 0.0
    var cents = init
    var iter = 0
    var moved = Double.MaxValue
    var stableStop = false
    while (iter < maxIter && moved > tol && !stableStop) {
      val cs = cents
      val first = iter == 0
      // assign partition p in place; returns how many of its points changed
      // cluster (meaningless on the first iteration, which has no previous)
      def assignPart(p: Int): Long = {
        val rows = parts(p)
        val nr = rows.length
        val a = assigns(p)
        if (!hamerly) {
          val next = new Array[Int](nr)
          CentroidOps.assignBatch(rows, nr, cs, next)
          assigns(p) = next
          (0 until nr).count(i => next(i) != a(i)).toLong
        } else if (first) {
          CentroidOps.assignBatchBounded(rows, nr, cs, a, us(p), ls(p))
          0L
        } else {
          val u = us(p)
          val l = ls(p)
          val survIdx = new Array[Int](nr)
          var ns = 0
          var i = 0
          while (i < nr) {
            val c = a(i)
            val u1 = (u(i) + deltas(c)) * CentroidOps.BoundInflate
            val l1 = (l(i) - maxDelta) * CentroidOps.BoundDeflate
            l(i) = l1
            if (u1 < l1) u(i) = u1
            else {
              val ut = math.sqrt(VectorKernels.l2Sq(rows(i), cs(c))) * CentroidOps.BoundInflate
              if (ut < l1) u(i) = ut
              else { survIdx(ns) = i; ns += 1 }
            }
            i += 1
          }
          var changed = 0L
          if (ns > 0) {
            val sRows = Array.tabulate(ns)(j => rows(survIdx(j)))
            val sA = new Array[Int](ns)
            val sU = new Array[Double](ns)
            val sL = new Array[Double](ns)
            CentroidOps.assignBatchBounded(sRows, ns, cs, sA, sU, sL)
            var j = 0
            while (j < ns) {
              val i0 = survIdx(j)
              if (sA(j) != a(i0)) changed += 1
              a(i0) = sA(j); u(i0) = sU(j); l(i0) = sL(j)
              j += 1
            }
          }
          changed
        }
      }
      val changed = parallel(parts.length)(assignPart).sum
      // the update below still runs (that IS this iteration); the loop
      // condition ends the walk after it
      if (stableFrac > 0 && !first && n > 0 && changed <= stableFrac * n) stableStop = true
      val (sums, counts) = foldMirrored(parts, assigns, k, dim)
      val next = Array.tabulate(k) { c =>
        if (counts(c) == 0L) null // re-seeded below
        else {
          val off = c * dim
          Array.tabulate(dim)(i => (sums(off + i) / counts(c)).toFloat)
        }
      }
      reseedEmpties(next, counts, seed + iter)
      // centroid moves: `moved` drives the tol stop (exact); the INFLATED
      // copies feed the next iteration's Hamerly bound adjustments
      // (inflation covers the kernel's γ₃₈₄ accumulation error and the sqrt
      // rounding, keeping δ an upper bound)
      moved = 0.0
      maxDelta = 0.0
      var c = 0
      while (c < k) {
        val d = math.sqrt(VectorKernels.l2Sq(cents(c), next(c)))
        if (d > moved) moved = d
        deltas(c) = d * CentroidOps.BoundInflate
        if (deltas(c) > maxDelta) maxDelta = deltas(c)
        c += 1
      }
      cents = next
      iter += 1
    }
    (cents, iter)
  }

  /** Whether [[fit]] trains `k` centroids on an `n`-row sample with
    * [[fitLocal]]'s restarts instead of one seeded Lloyd run. Callers that
    * already hold the sample on the driver (`Pq.train`'s sub-codebooks)
    * test the same predicate and call [[fitLocal]] directly, skipping the
    * per-fit shuffle and collect.
    */
  private[graft] def localEligible(k: Int, n: Long): Boolean = k < 256 && n <= 16384

  /** Hash first; equal hashes fall back to the values, so distinct points
    * that collide still sort the same whatever order they arrive in.
    */
  private val contentOrder: Ordering[(Long, Array[Float])] = (a, b) => {
    val c = java.lang.Long.compare(a._1, b._1)
    if (c != 0) c else java.util.Arrays.compare(a._2, b._2)
  }

  /** Iterations the last [[fit]] on this JVM ran (−1 after a small-sample
    * [[fitLocal]] fit) — diagnostic for the early-stop spec gate and the
    * bench ledger; not synchronized across concurrent fits.
    */
  private[graft] val lastRunIters = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Restart budget for the small-sample path (FAISS nredo semantics). */
  private val localNredo = 4

  /** Partition-group width of [[foldMirrored]]'s two-level tree: past this
    * many sample partitions, consecutive-pid groups fold first.
    */
  private val combineGroupSize = 8

  /** Driver-memory budget for the collected sample (float payload bytes).
    * 2 GiB covers the FAISS cap nlist × 256 up to nlist ≈ 5,500 at 384d;
    * a bigger sample fails instead of training.
    */
  private final val sampleMaxBytes = 2L << 30

  /** Driver threads every fit shares, for the per-partition assignment and
    * the fold's groups: at most one per core however many fits run at once
    * (`Pq.train` runs up to m sub-fits concurrently). Daemon threads, so an
    * idle pool never holds the JVM open.
    */
  private lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, r => {
      val t = new Thread(r, "graft-kmeans")
      t.setDaemon(true)
      t
    })

  /** `f(i)` for i in 0 until n on [[pool]] (inline when n == 1); a failed
    * task rethrows its own exception.
    */
  private def parallel[T: ClassTag](n: Int)(f: Int => T): Array[T] =
    if (n == 1) Array(f(0))
    else
      Array.tabulate(n)(i => pool.submit(() => f(i))).map { fu =>
        try fu.get()
        catch { case e: ExecutionException => throw e.getCause }
      }

  /** Per-cluster sums and counts of `parts` under `assigns`, folded
    * through a FIXED association tree so the result is a pure function of
    * the partition layout:
    *  - each partition's partial accumulates its rows in row order into
    *    fresh-zero arrays;
    *  - numParts ≤ combineGroupSize: partials fold into fresh-zero totals
    *    in ascending pid order;
    *  - otherwise: fixed consecutive-pid groups of combineGroupSize — the
    *    group acc IS the first partial, subsequent partials add into it —
    *    and group results fold into fresh-zero totals in ascending group
    *    order. Groups are arithmetically independent, so they run in
    *    parallel; the add sequence is the single-threaded one.
    * Every artifact trained since trainer tag t5 depends on this tree:
    * changing it moves centroids, which needs a tag bump.
    */
  private def foldMirrored(parts: Array[Array[Array[Float]]],
                           assigns: Array[Array[Int]], k: Int,
                           dim: Int): (Array[Double], Array[Long]) = {
    val numParts = parts.length
    val sums = new Array[Double](k * dim)
    val counts = new Array[Long](k)
    def partialInto(pid: Int, s: Array[Double], c: Array[Long]): Unit = {
      java.util.Arrays.fill(s, 0.0)
      java.util.Arrays.fill(c, 0L)
      val rows = parts(pid)
      val asg = assigns(pid)
      var r = 0
      while (r < rows.length) {
        val cid = asg(r)
        val v = rows(r)
        c(cid) += 1
        val off = cid * dim
        var i = 0
        while (i < dim) { s(off + i) += v(i); i += 1 }
        r += 1
      }
    }
    def addInto(dst: Array[Double], src: Array[Double],
                dc: Array[Long], sc: Array[Long]): Unit = {
      var i = 0
      while (i < dst.length) { dst(i) += src(i); i += 1 }
      var j = 0
      while (j < dc.length) { dc(j) += sc(j); j += 1 }
    }
    if (numParts <= combineGroupSize) {
      val partial = new Array[Double](k * dim)
      val pcounts = new Array[Long](k)
      var pid = 0
      while (pid < numParts) {
        partialInto(pid, partial, pcounts)
        addInto(sums, partial, counts, pcounts)
        pid += 1
      }
    } else {
      val nGroups = (numParts + combineGroupSize - 1) / combineGroupSize
      val groups = parallel(nGroups) { g =>
        val start = g * combineGroupSize
        val end = math.min(start + combineGroupSize, numParts)
        val gs = new Array[Double](k * dim)
        val gc = new Array[Long](k)
        partialInto(start, gs, gc)
        if (start + 1 < end) {
          val ps = new Array[Double](k * dim)
          val pc = new Array[Long](k)
          var pid = start + 1
          while (pid < end) {
            partialInto(pid, ps, pc)
            addInto(gs, ps, gc, pc)
            pid += 1
          }
        }
        (gs, gc)
      }
      groups.foreach { case (gs, gc) => addInto(sums, gs, counts, gc) }
    }
    (sums, counts)
  }

  /** FNV-1a over the float bit patterns — a driver-side stand-in for the
    * seeded xxhash64 content draw, used only to fix the local-path point
    * order independently of partition layout.
    */
  private def contentHash64(v: Array[Float]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < v.length) {
      var b = java.lang.Float.floatToRawIntBits(v(i)).toLong & 0xffffffffL
      var j = 0
      while (j < 4) { h ^= b & 0xff; h *= 0x100000001b3L; b >>>= 8; j += 1 }
      i += 1
    }
    h
  }

  /** [[fit]]'s small-sample path on points already on the driver: full
    * [[lloyd]] (one partition) from `localNredo` k-means++ seedings, FAISS
    * nredo semantics. The points are sorted by content (FNV-1a hash of the
    * float bits, then the values) first, so the result is a pure function
    * of the point multiset: any collection order of the same sample — a
    * shuffled partition layout, or a driver-side slice of a plain collect
    * — gives bitwise the same centroids.
    *
    * Restart SELECTION depends on what the centroids are for:
    *  - `selectByRecall = false` (PQ/OPQ sub-codebooks): lowest total
    *    quantization error — reconstruction MSE is exactly what ADC
    *    scoring pays, FAISS's own criterion.
    *  - `selectByRecall = true` (the IVF coarse quantizer, via
    *    [[Ivf.train]]): highest retrieval-recall PROXY. At fixture sizes
    *    the MSE-optimal partition is measurably NOT the probe-recall-
    *    optimal one (r8 measured: graft MSE 0.8819 < MLlib 0.8943 yet
    *    probe recall 0.66 < 0.76 — cells that cut through query
    *    neighborhoods can still quantize well). The proxy asks the
    *    index's own question: for a deterministic pseudo-query subset of
    *    the sample, what fraction of each point's true top-k neighbors
    *    land in the point's ⌈k/4⌉ nearest cells? Ties fall back to lower
    *    quantization error, then lower restart index — fully
    *    deterministic.
    */
  private[graft] def fitLocal(points: Array[Array[Float]], k: Int, seed: Long,
                              maxIter: Int = 25, tol: Double = 1e-4,
                              selectByRecall: Boolean = false): Array[Array[Float]] = {
    val pts = points.map(v => (contentHash64(v), v)).sorted(contentOrder).map(_._2)
    // proxy ground truth once per call (restart-independent): true top-k
    // neighbors of the first nq points in content-hash order
    val nq = if (selectByRecall) math.min(64, pts.length) else 0
    val gtK = math.min(10, math.max(1, pts.length - 1))
    val proxyGt: Array[Array[Int]] =
      if (!selectByRecall) null
      else Array.tabulate(nq) { qi =>
        val q = pts(qi)
        val d = Array.tabulate(pts.length)(i => VectorKernels.l2Sq(q, pts(i)))
        pts.indices.filter(_ != qi).sortBy(i => (d(i), i)).take(gtK).toArray
      }
    def proxyRecall(cents: Array[Array[Float]]): Double = {
      val assign = pts.map(nearestBounded(_, cents))
      val np = math.max(1, cents.length / 4)
      var hits = 0
      var qi = 0
      while (qi < nq) {
        val q = pts(qi)
        val probed = cents.indices
          .sortBy(c => (VectorKernels.l2Sq(q, cents(c)), c)).take(np).toSet
        hits += proxyGt(qi).count(g => probed.contains(assign(g)))
        qi += 1
      }
      hits.toDouble / math.max(nq * gtK, 1)
    }

    var bestErr = Double.MaxValue
    var bestRecall = -1.0
    var best: Array[Array[Float]] = null
    val localAssign = new Array[Int](pts.length)
    var r = 0
    while (r < localNredo) {
      val (cents, _) = lloyd(Array(pts), kmeansPlusPlus(pts, k, seed + r * 7919L),
        seed, maxIter, tol)
      CentroidOps.assignBatch(pts, pts.length, cents, localAssign)
      var err = 0.0
      var ei = 0
      while (ei < pts.length) {
        err += VectorKernels.l2Sq(pts(ei), cents(localAssign(ei)))
        ei += 1
      }
      val rec = if (selectByRecall) proxyRecall(cents) else 0.0
      val wins =
        if (selectByRecall) rec > bestRecall || (rec == bestRecall && err < bestErr)
        else err < bestErr
      if (wins) { bestErr = err; bestRecall = rec; best = cents }
      r += 1
    }
    best
  }

  /** Index of the L2-nearest centroid — the SAME norm-ordered tiled
    * argmin the serving-side assign expression runs
    * (`CentroidOps.argminL2F`: norm lower bound shrunk by `PruneSlack`,
    * contiguous norm-window visit order, 4-wide register tile,
    * lowest-index winner on ties — bitwise-identical to the legacy
    * index-order bounded scan by the kernel's contract). One shared code
    * path means training-time and serving-time assignment can never
    * disagree.
    */
  private def nearestBounded(v: Array[Float], cs: Array[Array[Float]]): Int =
    CentroidOps.argminL2F(v, cs)

  /** FAISS `Clustering.cpp` empty-cluster policy, re-expressed: an empty
    * cluster re-seeds from the LARGEST cluster's centroid, nudged by a
    * seeded ADDITIVE perturbation (per-dimension ± an epsilon scaled to
    * the centroid's RMS component, floored) so the pair separates on the
    * next assignment pass. Additive, not multiplicative: a relative nudge
    * is a no-op on zero components, and a zero-vector centroid (plausible
    * for centered/sparse data) would leave an exact duplicate pair that
    * never separates. Deterministic: largest-count tie-breaks to the
    * lowest index and the perturbation RNG is seeded per (seed, slot).
    */
  private def reseedEmpties(cents: Array[Array[Float]], counts: Array[Long],
                            seed: Long): Unit = {
    var c = 0
    while (c < cents.length) {
      if (cents(c) == null) {
        var big = 0
        var i = 1
        while (i < counts.length) { if (counts(i) > counts(big)) big = i; i += 1 }
        val src = cents(big)
        require(src != null, "k-means degenerate: every cluster empty")
        val rng = new scala.util.Random(seed ^ (c.toLong << 17))
        // RMS component of the source centroid, floored so an all-zero
        // centroid still moves; 1e-3 of it matches the old relative scale
        val rms = VectorKernels.norm2(src) / math.sqrt(math.max(src.length, 1))
        val eps = (math.max(rms, 1e-4) * 1e-3).toFloat
        cents(c) = src.map(x => x + (rng.nextFloat() - 0.5f) * 2f * eps)
      }
      c += 1
    }
  }

  /** Driver-side k-means++ seeding (Arthur & Vassilvitskii 2007) over a
    * bounded subsample — O(k · |sub| · dim) with the SIMD kernel.
    */
  private[graft] def kmeansPlusPlus(sub: Array[Array[Float]], k: Int,
                                  seed: Long): Array[Array[Float]] = {
    require(sub.length >= k, s"k-means++ subsample ${sub.length} < k=$k")
    val rng = new scala.util.Random(seed)
    val picked = new Array[Array[Float]](k)
    picked(0) = sub(rng.nextInt(sub.length))
    val d2 = sub.map(v => VectorKernels.l2Sq(v, picked(0)))
    var c = 1
    while (c < k) {
      val total = d2.sum
      var pick = 0
      if (total > 0) {
        var r = rng.nextDouble() * total
        var i = 0
        while (i < sub.length && r >= d2(i)) { r -= d2(i); i += 1 }
        pick = math.min(i, sub.length - 1)
      } else pick = rng.nextInt(sub.length)
      picked(c) = sub(pick)
      var i = 0
      while (i < sub.length) {
        val d = VectorKernels.l2Sq(sub(i), picked(c))
        if (d < d2(i)) d2(i) = d
        i += 1
      }
      c += 1
    }
    picked
  }
}

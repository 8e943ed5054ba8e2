package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.expressions.VectorKernels

/** Deterministic distributed Lloyd's k-means over float vectors — the
  * coarse-quantizer trainer behind [[Ivf.train]].
  *
  * Why not MLlib: the r7/r8 builds measured MLlib KMeans at 327–443 s for
  * the BENCH_SCALE operating point (200k × 384d × nlist=1024) against the
  * reference's 13.9 s FAISS train at nlist=4096 (`Performance.md:578-579`).
  * The gap is not the math — one Lloyd iteration here is 200k×1024 SIMD
  * L2 evals ≈ 157 GFLOP — it is MLlib's per-row Vector boxing and
  * generic-aggregation plumbing. This trainer is the Spark shape the task
  * actually wants: the bounded sample is cached once, every iteration is
  * ONE `mapPartitions` pass that fuses assignment with the per-cluster
  * sum/count accumulation, and the per-partition partials are combined on
  * the driver in PARTITION ORDER so the float reduction is deterministic
  * run-to-run — the property every seeded oracle build (a1/a6/a7/a9)
  * contracts on. Assignment itself is the GEMM-shaped batched screen
  * (`CentroidOps.assignBatch` — float-dot screening over L2-blocked
  * point×centroid tiles, exact double-kernel shortlist re-eval,
  * bit-identical to the exhaustive scan by its error-bound contract;
  * r10: 129 s at the reference's nlist=4096 vs 465 s for the per-pair
  * bounded scan it replaced). FAISS's own clustering policy is kept:
  * bounded iterations, seeded sample init, empty clusters re-seeded by
  * splitting the largest (`faiss/Clustering.cpp` semantics, re-expressed).
  *
  * Scale shape: cost is sample-bound (corpus-independent — [[Ivf.train]]
  * caps the sample at nlist × maxPointsPerCentroid like FAISS), and the
  * sample is coalesced to ≤ `maxParts` partitions.
  *
  * Combine: the r10 floor was the PARTIAL traffic — every iteration each
  * of numParts map tasks emitted a dense k × dim double partial
  * (64 × 12.6 MB ≈ 800 MB/iter at nlist=4096/384d), and the deterministic
  * two-level fold moved all of it through the shuffle. r11 replaces the
  * data movement, not the arithmetic: the bounded sample is MIRRORED on
  * the driver once (it is ≤ nlist × maxPointsPerCentroid rows by the
  * FAISS cap — the same array FAISS's trainer holds in RAM), map tasks
  * ship only the per-partition ASSIGNMENT vectors (4 B/point ≈ 800 KB/iter
  * at 200k), and the driver rebuilds the per-partition partials from its
  * mirror and folds them through the IDENTICAL association tree the
  * distributed combine used (per-partition row-order accumulation, fixed
  * consecutive-pid groups of `combineGroupSize`, group results folded in
  * ascending order) — so the centroids are BITWISE IDENTICAL to the
  * distributed combine's, gated by KmeansSpec. Assignment — the actual
  * compute, ~630 GFLOP/iter at the 4096 point — stays distributed.
  * Samples past `mirrorMaxBytes` (2 GiB ≈ 1.4M×384d; huge-nlist
  * regimes) keep the two-level distributed combine: fixed
  * groups of consecutive partitions left-fold on executors (one partial
  * shuffle), the driver folds only the per-group results. A treeAggregate
  * would cut the same traffic but its combine order is
  * scheduling-dependent, which would break run-to-run determinism; both
  * combine shapes here are pure functions of the partition layout.
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
    * combine, which is fixed given a fixed input layout and config. Same
    * contract as the seeded HNSW build.
    */
  /** `stableFrac` > 0 turns on ASSIGNMENT-STABILITY early stop (mirrored
    * path only): when fewer than `stableFrac` of the sample changed
    * assignment between consecutive iterations, the loop ends after that
    * iteration's update. FAISS's 25 iterations are a default, not a
    * convergence fact — at the 1M/nlist=4096 point the assignment
    * churn collapses to <0.2 % well before iteration 25 while each
    * remaining iteration still costs a full screened-GEMM assign pass.
    * The produced centroids are EXACTLY the full trainer's at the stop
    * iteration (stopping is the only difference — KmeansSpec gates the
    * bitwise equality), so this trades tail iterations for wall time
    * explicitly rather than approximating anything. Off (0.0) by default:
    * oracle-pinned index builds keep the FAISS-parity iteration count.
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
    //    a handful of parquet splits (the 200k×4096 point ran SEVEN
    //    non-empty partitions on a 32-core box — the actual train wall:
    //    every Lloyd iteration was a 7-wide job with 5 s stragglers, not
    //    kernel- or combine-bound at all). A seeded-hash shuffle spreads
    //    the sample evenly over maxParts regardless of file layout.
    //  - DETERMINISM: the layout becomes a pure function of (content,
    //    seed, maxParts) — the r10 layout depended on file split planning,
    //    which the combine's run-to-run contract had to assume fixed.
    //    Within-partition order is pinned by the (hash, vec) sort: shuffle
    //    fetch order is scheduling-dependent, so an unsorted partition
    //    would re-fold sums in a different order across runs. Hash ties
    //    are either duplicate vectors (commute exactly in the sums) or
    //    64-bit collisions broken by the vec tiebreak.
    // Trained centroids shift numerically vs the r10 layout (same
    // algorithm, different fold tree) — index cache keys bumped |t4→|t5.
    val spreadKey = xxhash64(col("v"), lit(seed))
    val rdd = sample.select(col(vecCol).as("v"))
      .repartition(maxParts, spreadKey)
      .sortWithinPartitions(spreadKey, col("v"))
      .as[Array[Float]].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rdd.count()
      require(n >= k, s"k-means sample has $n rows < k=$k")
      val dim = rdd.first().length

      // Init draw by smallest seeded CONTENT hash — a TakeOrdered over the
      // sample (driver-bounded at subN rows), NOT rdd.takeSample, whose
      // draw depends on the partition layout: a layout change (different
      // session defaults, file split planning) would silently reseed the
      // quantizer, and fixture-sized corpora are threshold-sensitive to
      // that luck (measured ±0.04 probe recall across draws at n=500).
      def hashDraw(m: Int): Array[Array[Float]] =
        sample.select(col(vecCol))
          .orderBy(xxhash64(col(vecCol), lit(seed)))
          .limit(m).as[Array[Float]].collect()
          // 64-bit content hashes only collide for duplicate vectors,
          // whose relative order is value-irrelevant — no tie-break needed

      // Small problems (every sf-fixture index, and any sub-codebook on a
      // modest sample) run ENTIRELY on the driver with FAISS's nredo
      // semantics — full Lloyd from 4 k-means++ seedings, keep the
      // lowest-quantization-error run. A single shot is one local optimum
      // whose quality swings ±0.05 probe recall with the init draw on a
      // 500-row fixture; best-of-4 restarts removes that luck for the
      // price of milliseconds at this size. `Pq.train` tests the same
      // predicate and, for its m sub-codebooks, collects the sample once
      // and calls fitLocal per driver-side slice instead of paying this
      // shuffle + collect m times.
      if (localEligible(k, n)) {
        lastRunIters.set(-1)
        return fitLocal(rdd.collect(), k, seed, maxIter, tol, selectByRecall)
      }

      var cents: Array[Array[Float]] =
        if (k >= 256) hashDraw(k)
        else
          // distributed mid-size path: k-means++ spread on a bounded
          // driver subsample seeds ONE distributed Lloyd run
          kmeansPlusPlus(
            hashDraw(math.min(n, math.max(k.toLong * 40, 4096L)).toInt), k, seed)

      val numParts = rdd.getNumPartitions
      // Driver mirror of the bounded sample (see the combine note above):
      // per-partition row arrays in the EXACT iterator order the map tasks
      // see, so the driver-side partial rebuild replays the same adds.
      val mirror: Array[Array[Array[Float]]] =
        if (!mirrorEnabled || n * dim.toLong * 4L > mirrorMaxBytes) null
        else {
          val arr = new Array[Array[Array[Float]]](numParts)
          rdd.mapPartitionsWithIndex((pid, it) => Iterator.single((pid, it.toArray)))
            .collect().foreach { case (pid, rows) => arr(pid) = rows }
          arr
        }
      // Hamerly bound state (mirror path only): per-pid (assign, u, l)
      // arrays plus the per-iteration centroid move distances — see the
      // skip test below for the soundness story.
      val hamerly = mirror != null && hamerlyEnabled
      var hamState: Array[(Array[Int], Array[Double], Array[Double])] = null
      var hamDeltas: Array[Double] = null
      var hamMaxDelta = 0.0
      var iter = 0
      var moved = Double.MaxValue
      // assignment-stability early stop state (mirrored path only): the
      // previous iteration's full assignment vectors, driver-held
      var prevAssigns: Array[Array[Int]] = null
      var stableStop = false
      while (iter < maxIter && moved > tol && !stableStop) {
        val bc = spark.sparkContext.broadcast(cents)
        val bcHam = if (hamerly && hamState != null)
          spark.sparkContext.broadcast((hamDeltas, hamMaxDelta, hamState)) else null
        val (sums, counts): (Array[Double], Array[Long]) =
        if (mirror != null) {
          // MIRRORED combine: map tasks run the batched screened argmin
          // (CentroidOps.assignBatch family) and ship ONLY the assignment
          // vector (plus the Hamerly bound arrays); the driver rebuilds
          // each partition's partial from its mirror and folds through
          // the identical association tree as the distributed combine
          // (gated bitwise by KmeansSpec).
          //
          // HAMERLY SKIP (Hamerly 2010, re-expressed with directed
          // rounding): each point carries an INFLATED upper bound u on
          // its distance to its assigned centroid and a DEFLATED lower
          // bound l on its distance to the nearest other. After the
          // centroids move, u += δ(assigned) and l −= max δ keep both
          // bounds valid (triangle inequality; δ itself is inflated and
          // every update multiplies by BoundInflate/BoundDeflate, so
          // double rounding can never tip a bound the unsafe way —
          // inputs to each op are exact stored doubles, making each
          // result correctly rounded, and the 1e-12 relative slack
          // dwarfs the ≤2⁻⁵² per-op error plus the γ₃₈₄ ≈ 8.5e-14 kernel
          // accumulation error). If u < l strictly, the assignment
          // provably cannot have changed (every other centroid is
          // strictly farther) — the point is SKIPPED with zero kernel
          // work, preserving lowest-index tie-breaks exactly because a
          // skip certifies a UNIQUE argmin. Points that fail the cheap
          // test get one exact kernel eval to tighten u; only the
          // remainder re-runs the full screen. Assignments — and hence
          // the folded centroids — are BITWISE IDENTICAL to the
          // full-rescan trainer (KmeansSpec gate), so no trainer tag
          // bump; late Lloyd iterations (tiny moves) collapse to nearly
          // zero screen work, which is the FAISS-gap closer after r11's
          // layout fix made iterations kernel-bound.
          val hamOn = hamerly
          val assignsRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
            val cs = bc.value
            import graft.functions.expressions.CentroidOps
            val rows = it.toArray
            val nr = rows.length
            val newA = new Array[Int](nr)
            val newU = if (hamOn) new Array[Double](nr) else null
            val newL = if (hamOn) new Array[Double](nr) else null
            val prev = if (bcHam != null) bcHam.value else null
            if (prev == null || prev._3(pid) == null) {
              if (hamOn) CentroidOps.assignBatchBounded(rows, nr, cs, newA, newU, newL)
              else CentroidOps.assignBatch(rows, nr, cs, newA)
            } else {
              val (deltas, maxD, stArr) = prev
              val (pa, pu, pl) = stArr(pid)
              val survIdx = new Array[Int](nr)
              var ns = 0
              var i = 0
              while (i < nr) {
                val a = pa(i)
                val u1 = (pu(i) + deltas(a)) * CentroidOps.BoundInflate
                val l1 = (pl(i) - maxD) * CentroidOps.BoundDeflate
                if (u1 < l1) {
                  newA(i) = a; newU(i) = u1; newL(i) = l1
                } else {
                  val ut = math.sqrt(
                    graft.functions.expressions.VectorKernels.l2Sq(rows(i), cs(a))) *
                    CentroidOps.BoundInflate
                  if (ut < l1) {
                    newA(i) = a; newU(i) = ut; newL(i) = l1
                  } else {
                    survIdx(ns) = i; ns += 1
                  }
                }
                i += 1
              }
              if (ns > 0) {
                val sRows = new Array[Array[Float]](ns)
                var j = 0
                while (j < ns) { sRows(j) = rows(survIdx(j)); j += 1 }
                val sA = new Array[Int](ns)
                val sU = new Array[Double](ns)
                val sL = new Array[Double](ns)
                CentroidOps.assignBatchBounded(sRows, ns, cs, sA, sU, sL)
                j = 0
                while (j < ns) {
                  val i0 = survIdx(j)
                  newA(i0) = sA(j); newU(i0) = sU(j); newL(i0) = sL(j)
                  j += 1
                }
              }
            }
            Iterator.single((pid, newA, newU, newL))
          }
          val assigns = new Array[Array[Int]](numParts)
          val nextState =
            if (hamOn) new Array[(Array[Int], Array[Double], Array[Double])](numParts)
            else null
          assignsRdd.collect().foreach { case (pid, a, u, l) =>
            assigns(pid) = a
            if (hamOn) nextState(pid) = (a, u, l)
          }
          hamState = nextState
          if (stableFrac > 0) {
            if (prevAssigns != null) {
              var changed = 0L
              var tot = 0L
              var pid = 0
              while (pid < numParts) {
                val cur = assigns(pid); val prev = prevAssigns(pid)
                if (cur != null && prev != null) {
                  var i = 0
                  while (i < cur.length) {
                    if (cur(i) != prev(i)) changed += 1
                    i += 1
                  }
                  tot += cur.length
                }
                pid += 1
              }
              // the update below still runs (that IS this iteration);
              // the loop condition ends the walk after it
              if (tot > 0 && changed <= stableFrac * tot) stableStop = true
            }
            prevAssigns = assigns
          }
          foldMirrored(mirror, assigns, k, dim, numParts)
        } else {
        val partialsRdd = rdd
          .mapPartitionsWithIndex { (pid, it) =>
            val cs = bc.value
            // assignment is the BATCHED screened argmin
            // (CentroidOps.assignBatch — FAISS's blocked-GEMM shape):
            // float-dot screen over L2-resident centroid chunks reused
            // across 16 buffered points, exact double-kernel re-eval of
            // an error-bounded shortlist. Bit-identical to the per-point
            // scan by the screen's soundness contract; the point-blocking
            // is what keeps 32 concurrent assignment threads off the
            // shared-L3 wall (per-iteration centroid traffic drops 16×).
            import graft.functions.expressions.CentroidOps
            val sums = new Array[Double](k * dim)
            val counts = new Array[Long](k)
            val bsize = CentroidOps.AssignBatchSize
            val batch = new Array[Array[Float]](bsize)
            val assigned = new Array[Int](bsize)
            def fold(bn: Int): Unit = {
              CentroidOps.assignBatch(batch, bn, cs, assigned)
              var p = 0
              while (p < bn) {
                val c = assigned(p)
                val v = batch(p)
                counts(c) += 1
                var i = 0
                val off = c * dim
                while (i < dim) { sums(off + i) += v(i); i += 1 }
                p += 1
              }
            }
            var bn = 0
            while (it.hasNext) {
              batch(bn) = it.next()
              bn += 1
              if (bn == bsize) { fold(bn); bn = 0 }
            }
            if (bn > 0) fold(bn)
            Iterator.single((pid, (sums, counts)))
          }
        // Ordered combine, two-level past `combineGroupSize` partitions:
        // fixed groups of CONSECUTIVE partitions left-fold in ascending
        // pid order on executors (one shuffle of the partials), and the
        // driver left-folds only the per-group results in ascending group
        // order — determinism is unchanged (the association tree is a
        // pure function of numParts and groupSize, never of scheduling)
        // while per-iteration driver traffic drops from numParts×k×dim×8 B
        // to nGroups×k×dim×8 B. Flat collect below the threshold keeps
        // fixture-scale training byte-identical to the r8 trainer.
        val partials: Array[(Int, (Array[Double], Array[Long]))] =
          if (numParts <= combineGroupSize) partialsRdd.collect()
          else {
            val nGroups = (numParts + combineGroupSize - 1) / combineGroupSize
            partialsRdd
              .repartitionAndSortWithinPartitions(
                new GroupPartitioner(nGroups, combineGroupSize))
              .mapPartitions { it =>
                var gid = -1
                var acc: (Array[Double], Array[Long]) = null
                it.foreach { case (pid, (s, c)) =>
                  gid = pid / combineGroupSize
                  if (acc == null) acc = (s, c)
                  else {
                    var i = 0
                    while (i < acc._1.length) { acc._1(i) += s(i); i += 1 }
                    var j = 0
                    while (j < acc._2.length) { acc._2(j) += c(j); j += 1 }
                  }
                }
                if (acc == null) Iterator.empty else Iterator.single((gid, acc))
              }
              .collect()
          }
        val sorted = partials.sortBy(_._1)
        val sums = new Array[Double](k * dim)
        val counts = new Array[Long](k)
        sorted.foreach { case (_, (s, c)) =>
          var i = 0
          while (i < sums.length) { sums(i) += s(i); i += 1 }
          var j = 0
          while (j < k) { counts(j) += c(j); j += 1 }
        }
        (sums, counts)
        }
        bc.destroy()
        if (bcHam != null) bcHam.destroy()
        val next = Array.tabulate(k) { c =>
          if (counts(c) == 0L) null // re-seeded below
          else {
            val off = c * dim
            Array.tabulate(dim)(i => (sums(off + i) / counts(c)).toFloat)
          }
        }
        reseedEmpties(next, counts, seed + iter)
        // centroid moves: `moved` drives the tol stop (exact, as before);
        // the INFLATED copies feed the next iteration's Hamerly bound
        // adjustments (inflation covers the kernel's γ₃₈₄ accumulation
        // error and the sqrt rounding, keeping δ an upper bound)
        if (hamerly && (hamDeltas == null || hamDeltas.length != k))
          hamDeltas = new Array[Double](k)
        moved = 0.0
        hamMaxDelta = 0.0
        var c = 0
        while (c < k) {
          val d = math.sqrt(VectorKernels.l2Sq(cents(c), next(c)))
          if (d > moved) moved = d
          if (hamerly) {
            val dInf = d * graft.functions.expressions.CentroidOps.BoundInflate
            hamDeltas(c) = dInf
            if (dInf > hamMaxDelta) hamMaxDelta = dInf
          }
          c += 1
        }
        cents = next
        iter += 1
      }
      lastRunIters.set(iter)
      cents
    } finally rdd.unpersist(blocking = false)
  }

  /** Whether [[fit]] trains `k` centroids on an `n`-row sample entirely on
    * the driver ([[fitLocal]]) instead of running distributed Lloyd. Callers
    * that already hold the sample on the driver (`Pq.train`'s sub-codebooks)
    * test the same predicate and call [[fitLocal]] directly, skipping the
    * per-fit shuffle and collect.
    */
  private[graft] def localEligible(k: Int, n: Long): Boolean = k < 256 && n <= 16384

  /** [[fit]]'s driver-local path on points already on the driver. The
    * points are sorted by content (FNV-1a hash of the float bits, then the
    * values) before the restarts, so the result is a pure function of the
    * point multiset: any collection order of the same sample — a shuffled
    * partition layout, or a driver-side slice of a plain collect — gives
    * bitwise the same centroids.
    */
  private[graft] def fitLocal(pts: Array[Array[Float]], k: Int, seed: Long,
                              maxIter: Int = 25, tol: Double = 1e-4,
                              selectByRecall: Boolean = false): Array[Array[Float]] = {
    val sorted = pts.map(v => (contentHash64(v), v)).sorted(contentOrder).map(_._2)
    localFit(sorted, k, sorted.head.length, seed, maxIter, tol,
      nredo = localNredo, selectByRecall)
  }

  /** Hash first; equal hashes fall back to the values, so distinct points
    * that collide still sort the same whatever order they arrive in.
    */
  private val contentOrder: Ordering[(Long, Array[Float])] = (a, b) => {
    val c = java.lang.Long.compare(a._1, b._1)
    if (c != 0) c else java.util.Arrays.compare(a._2, b._2)
  }

  /** Iterations the last DISTRIBUTED fit on this JVM ran (−1 after a
    * driver-local fit) — diagnostic for the early-stop spec gate and the
    * bench ledger; not synchronized across concurrent fits.
    */
  private[graft] val lastRunIters = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Restart budget for the small-sample driver-local path (FAISS nredo
    * semantics).
    */
  private val localNredo = 4

  /** Partition-group width for the two-level combine: past this many
    * sample partitions, consecutive-pid groups fold on executors first.
    * 8 keeps the fixture/sf paths (≤ a dozen splits) mostly on the flat
    * combine while cutting the 64-partition worst case's driver traffic
    * 8× (the r8 verdict's "next wall on the train path").
    */
  private val combineGroupSize = 8

  /** Mirror kill-switch (`-Dgraft.kmeans.mirror=false`) — used by the
    * KmeansSpec equality gate and as an operational escape hatch.
    */
  private def mirrorEnabled: Boolean =
    !"false".equals(System.getProperty("graft.kmeans.mirror"))

  /** Hamerly-skip kill-switch (`-Dgraft.kmeans.hamerly=false`) — used by
    * the KmeansSpec bitwise-equality gate vs the full-rescan trainer.
    */
  private def hamerlyEnabled: Boolean =
    !"false".equals(System.getProperty("graft.kmeans.hamerly"))

  /** Driver-memory budget for the sample mirror (float payload bytes).
    * 2 GiB covers the FAISS cap nlist × 256 up to nlist ≈ 5,500 at 384d;
    * bigger-nlist regimes fall back to the two-level distributed combine
    * automatically.
    */
  private final val mirrorMaxBytes = 2L << 30

  /** Driver-side rebuild of the per-partition partials from the sample
    * mirror + collected assignments, folded through the EXACT association
    * tree of the distributed combine so the result is bitwise identical:
    *  - each partition's partial accumulates its rows in iterator order
    *    (fresh-zero arrays — same as the map-task fold);
    *  - numParts ≤ combineGroupSize: partials fold into fresh-zero totals
    *    in ascending pid order (the flat collect path);
    *  - otherwise: fixed consecutive-pid groups of combineGroupSize — the
    *    group acc IS the first partial, subsequent partials add into it
    *    (the executor fold's `acc = first, acc += rest`), and group
    *    results fold into fresh-zero totals in ascending group order.
    */
  private def foldMirrored(mirror: Array[Array[Array[Float]]],
                           assigns: Array[Array[Int]], k: Int, dim: Int,
                           numParts: Int): (Array[Double], Array[Long]) = {
    val sums = new Array[Double](k * dim)
    val counts = new Array[Long](k)
    def partialInto(pid: Int, s: Array[Double], c: Array[Long]): Unit = {
      java.util.Arrays.fill(s, 0.0)
      java.util.Arrays.fill(c, 0L)
      val rows = mirror(pid)
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
      // groups are arithmetically independent (each folds only its own
      // consecutive pids), so they run on parallel driver threads; the
      // final group-order fold below is sequential — the add sequence is
      // IDENTICAL to the single-threaded version, just overlapped in time
      val nGroups = (numParts + combineGroupSize - 1) / combineGroupSize
      val gaccS = new Array[Array[Double]](nGroups)
      val gaccC = new Array[Array[Long]](nGroups)
      val threads = (0 until nGroups).map { g =>
        new Thread(() => {
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
          gaccS(g) = gs; gaccC(g) = gc
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      var g = 0
      while (g < nGroups) { addInto(sums, gaccS(g), counts, gaccC(g)); g += 1 }
    }
    (sums, counts)
  }

  /** Maps partial key `pid` to partition `pid / groupSize` — consecutive
    * source partitions land (sorted) in one combine task.
    */
  private final class GroupPartitioner(val nGroups: Int, val groupSize: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = nGroups
    override def getPartition(key: Any): Int = key.asInstanceOf[Int] / groupSize
    override def equals(o: Any): Boolean = o match {
      case g: GroupPartitioner =>
        g.numPartitions == nGroups && g.groupSize == groupSize
      case _ => false
    }
    override def hashCode: Int = 31 * nGroups + groupSize
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

  /** Driver-local Lloyd with FAISS-nredo restarts for small samples: full
    * k-means from `nredo` k-means++ seedings. Same assignment rule,
    * empty-cluster policy, and tol stop as the distributed path.
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
  private[graft] def localFit(pts: Array[Array[Float]], k: Int, dim: Int,
                              seed: Long, maxIter: Int, tol: Double,
                              nredo: Int,
                              selectByRecall: Boolean = false): Array[Array[Float]] = {
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
    var r = 0
    while (r < nredo) {
      var cents = kmeansPlusPlus(pts, k, seed + r * 7919L)
      var iter = 0
      var moved = Double.MaxValue
      val sums = new Array[Double](k * dim)
      val counts = new Array[Long](k)
      val localAssign = new Array[Int](pts.length)
      while (iter < maxIter && moved > tol) {
        java.util.Arrays.fill(sums, 0.0)
        java.util.Arrays.fill(counts, 0L)
        graft.functions.expressions.CentroidOps.assignBatch(
          pts, pts.length, cents, localAssign)
        var pi = 0
        while (pi < pts.length) {
          val c = localAssign(pi)
          val v = pts(pi)
          counts(c) += 1
          val off = c * dim
          var i = 0
          while (i < dim) { sums(off + i) += v(i); i += 1 }
          pi += 1
        }
        val next = Array.tabulate(k) { c =>
          if (counts(c) == 0L) null
          else {
            val off = c * dim
            Array.tabulate(dim)(i => (sums(off + i) / counts(c)).toFloat)
          }
        }
        reseedEmpties(next, counts, seed + iter)
        moved = 0.0
        var c = 0
        while (c < k) {
          val d = math.sqrt(VectorKernels.l2Sq(cents(c), next(c)))
          if (d > moved) moved = d
          c += 1
        }
        cents = next
        iter += 1
      }
      graft.functions.expressions.CentroidOps.assignBatch(
        pts, pts.length, cents, localAssign)
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
    graft.functions.expressions.CentroidOps.argminL2F(v, cs)

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

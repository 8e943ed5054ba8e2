package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.functions.expressions.{Simd, VectorKernels}

/** Sharded HNSW — a true graph-ANN index (Malkov & Yashunin,
  * arXiv:1603.09320), the operator the reference delegates wholesale to
  * hnswlib (`/root/reference/apps/nvdb_hnsw_build.cpp:38-49` build knobs
  * M/efConstruction, `nvdb_hnsw_search.cpp:33-43` efSearch,
  * `nvdb_hnsw_eval.cpp:99-130` the recall/latency sweep; published knee
  * recall 0.9795 @ efSearch=64, `Performance.md:454`).
  *
  * Graph traversal is per-query pointer chasing — it cannot be a
  * DataFrame join. The Spark-native shape is SHARDED: partition the base,
  * build an independent in-memory HNSW graph per shard inside ONE
  * `mapPartitions` pass (the declared imperative exception, like
  * `Search.fusedScan`), search every shard with the broadcast query
  * batch, and merge the per-shard top-k map-side with the same
  * [[TopKAggregator]] the exact scan uses. This is how graph ANN actually
  * serves at cluster scale (FAISS/DiskANN sharding): the graph never
  * crosses executors, the only shuffle is Q×shards×k result rows.
  *
  * Two sharding flavors:
  *  - hash shards (default): uniform `xxhash64(id) mod nShards`; every
  *    query searches every shard, per-query cost ∝ nShards · log(n/nShards)
  *    · efSearch — sub-linear in n, linear in shard count.
  *  - routed shards ([[searchRouted]]): shard = nearest of nShards coarse
  *    centroids (the IVF quantizer reused as a shard router); queries
  *    probe only their `routeProbe` nearest shards, cutting the
  *    shard-count factor exactly like IVF's nprobe/nlist pruning — the
  *    100 TB path.
  *
  * Determinism (required by the a9 sidecar hash oracle): level draws are
  * seeded hashes of the vector id (no RNG state), insertion order is
  * id-sorted within each shard, all heap/selection ties break on the
  * smaller internal index. Two builds of the same table are identical.
  */
object Hnsw {

  /** Leading cache lines (64 B each) of the NEXT distance tile's rows to
    * touch while the current tile computes — the serve walk's software
    * prefetch stand-in (see the serve expansion in searchLayer). 0
    * disables touching. Value-neutral by construction (the touches are
    * pure loads into a blackhole). 24 measured best across three r14
    * sweeps of {0, 4, 8, 24} (COVERAGE.md §"Serving posture").
    */
  private val touchLines = 24

  /** Walk-working-set crossover for [[ShardGraph.autoI8]] in bytes:
    * above it the auto flavor serves the i8 walk, below it the contract
    * walk. Set from the r15 ef-ladder on the 500K store graph
    * (COVERAGE.md §"Serving posture"); a var only so specs can move it.
    *
    * 3 MB: below the ef=128 walk estimate at the reference geometry
    * (128·16·384·4 ≈ 3.1 MB) — the first rung where every r15
    * measurement (COVERAGE.md §"Serving posture", both regimes; the
    * artifact's i8_ef128 row) agrees the i8 walk wins; at ef ≤ 64 the
    * two walks measured parity-to-contract-ahead across rounds, so the
    * conservative side of the crossover keeps the contract kernel.
    */
  @volatile private[graft] var autoI8Bytes: Long = 3000000L

  /** Serve flavor: the distance source of a query walk. Every flavor runs
    * the same descent, beam and emit; builds always run `Contract`.
    *  - `Contract`: the double-lane kernels every oracle path uses.
    *  - `I8`: the quantized sidecar ([[ShardGraph.quantizeStore]]), then an
    *    exact contract re-rank of the live survivors; returned scores are
    *    exact, recall is gated. Fails loudly without the sidecar.
    *  - `Auto`: `I8` where [[ShardGraph.autoI8]] picks it, else `Contract`.
    */
  sealed trait Flavor
  object Flavor {
    case object Contract extends Flavor
    case object I8 extends Flavor
    case object Auto extends Flavor
  }

  /** splitmix64 finalizer — the repo-standard seeded hash (same shape as
    * `SyntheticVectors.uLocal`).
    */
  private def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a12905e02cb5L
    z ^ (z >>> 31)
  }

  /** Deterministic HNSW level draw: geometric with mL = 1/ln(M), from a
    * hash of (seed, id) instead of hnswlib's RNG stream — same
    * distribution, reproducible under any insertion/partition order.
    */
  private[graft] def levelOf(id: Long, seed: Long, mL: Double): Int = {
    val u = ((mix64(id ^ mix64(seed)) >>> 11) + 1).toDouble / (1L << 53).toDouble
    math.floor(-math.log(u) * mL).toInt
  }

  /** One shard's graph. Built single-threaded inside its task (shards are
    * the parallelism unit); read-only afterwards, so the executor-level
    * [[graphCache]] can serve it to every later query batch.
    */
  private[graft] final class ShardGraph(m: Int, efC: Int, seed: Long,
                                      metric: Metric) {
    private val m0 = 2 * m
    private val mL = 1.0 / math.log(m.toDouble)

    private var n = 0
    private var cap = 1024
    // packed vector store (r13): ONE float array, node x at x·dim, not
    // Array[Array[Float]] rows — a row dereference was a pointer chase to
    // a scattered heap object per distance eval, the dominant share of
    // the serve margin left after the float-accumulation study. All kernels read
    // flat(x * dim + i) through the same (array, offset) kernels a
    // row-array caller runs at offset 0, so graphs and results are
    // identical to the row-array storage (SimdSpec gates the kernels,
    // HnswSpec the behavior).
    private var flat = new Array[Float](cap * 16)
    private var flatLen = 0
    /** Every node's dim, set by the first insert (-1 while empty): a
      * row or query of another dim fails ([[insert]], [[search]]).
      */
    private[Hnsw] var dim = -1
    private var ids = new Array[Long](cap)
    private var levels = new Array[Int](cap)
    /** node → layer → neighbor internal indices (ragged, layer 0 first) */
    private var links = new Array[Array[Array[Int]]](cap)
    private var entry = -1

    /** distance computations since construction — the probe-cost axis */
    var evals: Long = 0L

    def size: Int = n
    def externalIds: Array[Long] = java.util.Arrays.copyOf(ids, n)
    def levelOfNode(i: Int): Int = levels(i)
    def neighbors(i: Int, layer: Int): Array[Int] = links(i)(layer)

    /** Ranking distance (smaller = closer): L2 squared, or negated
      * dot/cosine — hnswlib's ip-space trick for similarity metrics.
      *
      * `fl` picks the serve flavor's kernels ([[Flavor]]; builds and every
      * oracle path keep `Contract`, so graphs stay bit-identical).
      * `I8` scores the sidecar codes through [[d8Of]], with `qn2` = |q|²
      * hoisted per search.
      */
    private def dist(q: Array[Float], x: Int, fl: Flavor = Flavor.Contract,
                     qn2: Double = 0.0): Double = {
      evals += 1
      val o = x * dim
      if (fl eq Flavor.I8) d8Of(
        if (i8codesBB != null) VectorKernels.dotI8FOffBB(q, i8codesBB, o, dim)
        else VectorKernels.dotI8FOff(q, i8codes, o, dim), x, qn2)
      else if (flatBB != null) metric match {
        // mmap-backed payload (readStore(mapped = true)): the BB kernel
        // twins are bitwise-equal over the same bytes, so a mapped graph
        // returns IDENTICAL results to its on-heap original
        case Metric.L2     => VectorKernels.l2SqOffBB(q, flatBB, o, dim)
        case Metric.Dot    => -VectorKernels.dotOffBB(q, flatBB, o, dim)
        case Metric.Cosine => -VectorKernels.cosineOffBB(q, flatBB, o, dim)
      } else metric match {
        case Metric.L2     => VectorKernels.l2SqOff(q, flat, o, dim)
        case Metric.Dot    => -VectorKernels.dotOff(q, flat, o, dim)
        case Metric.Cosine => -VectorKernels.cosineOff(q, flat, o, dim)
      }
    }

    /** Whether the 4-wide gather tile applies: SIMD linked, and a tiled
      * kernel for the metric (L2/Dot; cosine stays per-pair).
      */
    private def tiledGraph: Boolean =
      VectorKernels.simdEnabled && dim >= 16 &&
        (metric == Metric.L2 || metric == Metric.Dot)

    /** Four [[dist]] values against gathered rows into `s.tout` — bitwise
      * per-pair equal to [[dist]] on the contract kernels
      * ([[Simd.l2Sq4]]/[[Simd.dot4]] lane contracts), so tiling the beam
      * expansion changes kernel-call batching only, never a value or the
      * traversal order. `I8` streams four code rows per call ([[Simd.dotI8F4At]]) — the
      * memory-level parallelism where its 4×-fewer-bytes win lives. Only
      * reachable when the flavor's tile gate holds ([[searchLayer]]).
      */
    private def dist4(q: Array[Float], i0: Int, i1: Int, i2: Int, i3: Int,
                      s: Scratch, fl: Flavor = Flavor.Contract,
                      qn2: Double = 0.0): Unit = {
      evals += 4
      val out = s.tout
      val tn = dim
      val o0 = i0 * tn; val o1 = i1 * tn; val o2 = i2 * tn; val o3 = i3 * tn
      val l2 = metric == Metric.L2
      if (fl eq Flavor.I8) {
        val t8 = s.t8out
        if (i8codesBB != null) Simd.dotI8F4AtBB(q, i8codesBB, o0, o1, o2, o3, tn, t8)
        else Simd.dotI8F4At(q, i8codes, o0, o1, o2, o3, tn, t8)
        out(0) = d8Of(t8(0), i0, qn2); out(1) = d8Of(t8(1), i1, qn2)
        out(2) = d8Of(t8(2), i2, qn2); out(3) = d8Of(t8(3), i3, qn2)
      } else {
        if (flatBB != null) {
          if (l2) Simd.l2Sq4BB(q, flatBB, o0, o1, o2, o3, tn, out)
          else Simd.dot4BB(q, flatBB, o0, o1, o2, o3, tn, out)
        } else {
          if (l2) Simd.l2Sq4(q, flat, o0, flat, o1, flat, o2, flat, o3, tn, out, 0)
          else Simd.dot4(q, flat, o0, flat, o1, flat, o2, flat, o3, tn, out, 0)
        }
        if (!l2) { out(0) = -out(0); out(1) = -out(1); out(2) = -out(2); out(3) = -out(3) }
      }
    }

    /** Quantized distance (smaller = closer) of row `x` from its unscaled
      * int dot `raw`: dot ≈ s·raw; L2² ≈ |q|² − 2s·raw + s²·Σc²; cosine ≈
      * raw / (|q|·√Σc²) (the scale cancels). `qn2` = |q|².
      */
    private def d8Of(raw: Float, x: Int, qn2: Double): Double = {
      val sc = i8scale(x).toDouble
      val d8 = raw.toDouble
      metric match {
        case Metric.Dot => -(sc * d8)
        case Metric.L2  => qn2 - 2.0 * sc * d8 + sc * sc * i8cnorm2(x)
        case Metric.Cosine =>
          val rn = math.sqrt(i8cnorm2(x).toDouble)
          val qn = math.sqrt(qn2)
          if (rn == 0.0 || qn == 0.0) 0.0 else -(d8 / (qn * rn))
      }
    }

    /** Distance → the metric's score column value. */
    private def score(d: Double): Double = metric match {
      case Metric.L2 => d
      case _         => -d
    }

    private def grow(): Unit = if (n == cap) {
      cap *= 2
      ids = java.util.Arrays.copyOf(ids, cap)
      levels = java.util.Arrays.copyOf(levels, cap)
      links = java.util.Arrays.copyOf(links, cap)
    }

    /** Copy node `x`'s stored floats into the scratch's node buffer —
      * the Array-typed view the node-to-node distance calls need (the
      * occlusion checks and re-select staging).
      */
    private def nodeVec(x: Int, s: Scratch): Array[Float] = {
      System.arraycopy(flat, x * dim, s.nv, 0, dim)
      s.nv
    }

    // Layer-0 adjacency in CSR form, built once at freeze(): the serve
    // walk's beam expansion reads l0adj(l0off(i) until l0off(i+1)) instead
    // of links(i)(0) — one flat primitive array instead of a ragged
    // Array[Array[Array[Int]]] triple indirection. Per hop that removes
    // two dependent pointer-chases (outer-array element load → per-node
    // layer array → per-layer neighbor object) whose cache misses, not
    // the distance kernels, dominated the serve walk (r13 attribution:
    // float accumulation bought ~20 %, layout ~0 — the residual vs hnswlib's 208 µs is
    // bookkeeping). Values and iteration order are IDENTICAL to the
    // ragged path, so on every flavor the traversal — and every result
    // — is bit-identical (HnswSpec's CSR == ragged gate).
    private var l0off: Array[Int] = null
    private var l0adj: Array[Int] = null

    // Off-heap payload (readStore(mapped = true)): when set, the vector
    // rows live in an mmapped little-endian file region instead of
    // `flat`, read through the bitwise-equal BB kernel twins. Zero heap
    // residency for the payload (no GC pressure under sustained serve;
    // page cache shared across JVMs mapping the same store). Mapped
    // graphs are read-only.
    private var flatBB: java.nio.ByteBuffer = null

    /** Trim the packed store to its exact used size and snapshot the
      * layer-0 CSR — call once after the last insert. The doubling growth
      * leaves up to 2x retained waste per graph, which across a
      * 1024-shard cached build is gigabytes (a 3M routed build OOMed on
      * exactly this before the trim existed); after freeze() the retained
      * footprint is BELOW the old row-array layout (no per-row object
      * headers).
      */
    def freeze(): Unit = {
      if (flat.length > flatLen) flat = java.util.Arrays.copyOf(flat, flatLen)
      var total = 0L
      var i = 0
      while (i < n) { total += links(i)(0).length; i += 1 }
      if (total <= Int.MaxValue - 8) {
        val off = new Array[Int](n + 1)
        val adj = new Array[Int](total.toInt)
        var p = 0
        i = 0
        while (i < n) {
          off(i) = p
          val nb = links(i)(0)
          System.arraycopy(nb, 0, adj, p, nb.length)
          p += nb.length
          i += 1
        }
        off(n) = p
        l0off = off; l0adj = adj
      }
    }

    /** Test hook (HnswSpec's CSR == ragged serve gate): drop the CSR so
      * the walk falls back to the ragged-links path; freeze() restores it.
      */
    private[graft] def dropCsr(): Unit = { l0off = null; l0adj = null }

    /** Fault the mapped payload (and i8 sidecar, if mapped) into the page
      * cache NOW instead of lazily under serve traffic — a freshly-mapped
      * multi-GB store otherwise answers its first sweeps through page
      * faults (measured at 3M/1024 shards: 24.9 ms p50 cold-mapped vs
      * 8.9 ms in-heap). Prefault moves that cost into the warm step,
      * where a serving deployment wants it. No-op for heap graphs.
      */
    def prefault(): Unit = {
      flatBB match {
        case m: java.nio.MappedByteBuffer => m.load()
        case _ =>
      }
      i8codesBB match {
        case m: java.nio.MappedByteBuffer => m.load()
        case _ =>
      }
    }

    // i8-quantized serve sidecar (r14): per-row symmetric int8 codes
    // (VectorKernels.i8Scale/i8Codes — the F7 kernels, v4-pinned
    // semantics) + scale + Σcode² , built once per graph on demand. The
    // serve walk's wall is DRAM on the gathered f32 rows (94 % of walk
    // time in the kernels, float accumulation −20 %, prefetch −13 % — the r14
    // profile); i8 rows are 4× fewer bytes, attacking the wall itself.
    // A recall-gated FLAVOR: the beam walks quantized
    // distances, then the ef survivors re-rank under the CONTRACT
    // kernel, so returned scores are exact and only true-neighbor beam
    // misses cost recall.
    private var i8codes: Array[Byte] = null
    // v2-store mapped sidecar: codes read in place through the bitwise
    // BB kernel twins, like the f32 payload (scales/cnorm2 stay heap —
    // 8 bytes/row, not worth a mapping)
    private var i8codesBB: java.nio.ByteBuffer = null
    private var i8scale: Array[Float] = null
    private var i8cnorm2: Array[Float] = null

    private def rowFloat(i: Int): Float =
      if (flatBB != null) flatBB.getFloat(i * 4) else flat(i)

    /** A copy of node `x`'s vector (heap or mapped payload). */
    private def row(x: Int): Array[Float] = {
      val v = new Array[Float](dim)
      var j = 0
      while (j < dim) { v(j) = rowFloat(x * dim + j); j += 1 }
      v
    }

    // Tombstones (r16 incremental maintenance): deleted nodes stay IN
    // the graph — hnswlib's markDelete semantics — because removing a
    // node's edges would sever the paths that route THROUGH it (graph
    // connectivity is why HNSW works; a deleted hub's neighbors must
    // stay mutually reachable). The beam walks tombstoned nodes like any
    // other; only RESULT emission filters them ([[search]] widens ef
    // and retries when tombstones crowd live results out of the beam).
    // Tombstone growth is bounded by [[compacted]] — a canonical
    // id-sorted rebuild from the live rows.
    private var del: java.util.BitSet = null
    private var nDel = 0
    // lazy external-id → internal-index map for delete()/upsert; built on
    // first use, maintained by insert once built. Later inserts of the
    // same external id overwrite earlier entries, so the map always
    // points at the NEWEST node for an id (the upsert contract tombstones
    // the older twin first, making the older entry unreachable anyway).
    private var idIdx: java.util.HashMap[java.lang.Long, Integer] = null

    /** Number of live (non-tombstoned) nodes. */
    def liveSize: Int = n - nDel

    /** Number of tombstoned nodes still occupying graph slots. */
    def deletedCount: Int = nDel

    private def isDel(i: Int): Boolean = del != null && del.get(i)

    private def lookup(): java.util.HashMap[java.lang.Long, Integer] = {
      if (idIdx == null) {
        val m0 = new java.util.HashMap[java.lang.Long, Integer](n * 2)
        var i = 0
        while (i < n) {
          // insertion order: the newest node for a duplicated id wins
          if (!isDel(i)) m0.put(ids(i), i)
          i += 1
        }
        idIdx = m0
      }
      idIdx
    }

    /** Tombstone the live node carrying external id `id`. Returns whether
      * a live node was found (deleting an absent or already-deleted id is
      * a no-op, not an error — distributed deletes broadcast the id set
      * to every shard and only the owner finds it).
      */
    def delete(id: Long): Boolean = synchronized {
      val x = lookup().get(id)
      if (x == null) false
      else {
        val i = x.intValue()
        if (isDel(i)) false
        else {
          if (del == null) del = new java.util.BitSet(n)
          del.set(i)
          nDel += 1
          idIdx.remove(id)
          true
        }
      }
    }

    /** Whether external id `id` is present and live. */
    def containsLive(id: Long): Boolean = lookup().containsKey(id)

    /** Live (id, vector) rows — the input of a compacting rebuild. Heap
      * and mapped graphs both supported (mapped reads go through the BB
      * payload); rows materialize on the heap, so this is a per-shard
      * cost, never a corpus-wide one.
      */
    private[graft] def liveRows: Array[(Long, Array[Float])] = {
      val out = new Array[(Long, Array[Float])](liveSize)
      var i = 0
      var w = 0
      while (i < n) {
        if (!isDel(i)) {
          out(w) = (ids(i), row(i))
          w += 1
        }
        i += 1
      }
      out
    }

    /** Canonical compacting rebuild: a NEW graph built from this one's
      * live rows in id-sorted order — the same deterministic build path
      * a from-scratch construction takes, so the result is bit-identical
      * to building on the live set directly (HnswSpec gates it). Bounds
      * tombstone growth under sustained upsert/delete churn; the i8
      * sidecar does NOT carry over (re-run [[quantizeStore]] — codes of
      * dead rows would be wrong to reuse).
      */
    def compacted(): ShardGraph = {
      val rows = liveRows
      java.util.Arrays.sort(rows, Ordering.by((t: (Long, Array[Float])) => t._1))
      Hnsw.buildShard(rows, m, efC, seed, metric)
    }

    /** Whether the i8 serve sidecar exists ([[quantizeStore]] ran, or a
      * v2 store carried it).
      */
    def i8Available: Boolean = i8codes != null || i8codesBB != null

    /** Whether the payload is an mmapped read-only region
      * (readStore(mapped = true)) — such graphs serve and tombstone but
      * refuse inserts; maintenance APIs check this BEFORE mutating.
      */
    def isMapped: Boolean = flatBB != null

    /** Warm-time serve-flavor auto-pick (r15, VERDICT r14 #6): the i8
      * walk wins only when the beam is DRAM-bound — its 4×-fewer
      * gathered bytes then beat the quantize+re-rank overhead — and
      * loses on walks whose working set caches (the measured 500K easy
      * point: contract 522 µs vs i8 662 at ef64; the r14 GT frontier
      * put the i8 curve 1.4–1.5× LEFT of contract on hard walks, which
      * run at high ef). The regime is knowable per (graph, ef): the
      * walk's touched set ≈ ef·m gathered rows of dim·4 bytes, capped
      * by the payload itself — when that exceeds the cache-size
      * crossover the gathers miss LLC and byte count is the wall. The
      * default crossover comes from the r15 ef-ladder sweep on the
      * 500K store graph (COVERAGE.md §"Serving posture");
      * `-Dgraft.hnsw.i8.autoBytes=N` overrides, and an explicit
      * [[Flavor]] other than `Auto` always wins over the pick.
      *
      * MAPPED graphs pick i8 whenever the sidecar exists: the contract
      * walk on a mapped payload prices bounds-checked ByteBuffer float
      * gathers (r15 artifact, 500K store: contract 894 µs vs i8 503 at
      * ef64 — i8 ahead at EVERY measured mapped point, the r14 store
      * A/B included), so the heap crossover doesn't apply there.
      */
    def autoI8(efSearch: Int): Boolean =
      i8Available && {
        if (i8EfCrossover >= 0) efSearch >= i8EfCrossover
        else flatBB != null ||
          math.min(flatLen.toLong * 4,
            efSearch.toLong * m * dim * 4) > Hnsw.autoI8Bytes
      }

    /** Measured serve-flavor crossover (r16, VERDICT r15 #4): the
      * smallest efSearch at which the i8 walk TIMED faster than the
      * contract walk on this graph's own rows ([[calibrateFlavor]]);
      * Int.MaxValue = contract won at every measured rung; -1 = not
      * calibrated, the byte heuristic decides. The byte heuristic is
      * geometry-only and hardness-blind — the r14 GT-frontier data
      * showed corpus hardness moves the i8 win into lower ef, and
      * hardness is not knowable from (graph, ef) alone. It IS
      * measurable on the graph itself, which is what calibration does.
      */
    @volatile private var i8EfCrossover: Int = -1

    /** Diagnostic view of the measured crossover (HnswSpec reads it
      * back after [[calibrateFlavor]]).
      */
    def measuredCrossover: Int = i8EfCrossover

    /** Measure the serve-flavor crossover on this graph: time the
      * contract and i8 walks over a small deterministic sample of the
      * graph's OWN rows (no ground truth needed — this is a latency
      * pick; both flavors' RESULTS stay recall-gated elsewhere) at each
      * rung of `efLadder`, and record the lowest rung of the contiguous
      * i8-winning suffix as the crossover [[autoI8]] keys on. Walking
      * the ladder top-down exploits that the i8 win is monotone in walk
      * size (bigger walks are more DRAM-bound — the r14/r15 probe
      * shape). Rep 0 per (flavor, rung) is an untimed JIT/cache warm
      * pass; the timed reps take the best (latency floors compare more
      * stably than means under scheduler noise). Returns the crossover.
      * Needs at least one rung, one sample query and one timed rep — with
      * none there is no measurement to record.
      */
    def calibrateFlavor(efLadder: Array[Int] = Array(16, 32, 64, 128),
                        sampleQ: Int = 32, reps: Int = 3): Int = {
      require(reps >= 1 && sampleQ >= 1 && efLadder.nonEmpty,
        s"calibrateFlavor needs reps >= 1, sampleQ >= 1 and a non-empty " +
          s"efLadder (got reps=$reps, sampleQ=$sampleQ, " +
          s"efLadder=${efLadder.mkString("[", ",", "]")})")
      require(i8Available,
        "calibrateFlavor needs the i8 sidecar — quantizeStore() first" +
          " (or a v2+ store that carries it)")
      if (n == 0) { i8EfCrossover = Int.MaxValue; return Int.MaxValue }
      val nq = math.min(sampleQ, n)
      val qs = new Array[Array[Float]](nq)
      var i = 0
      while (i < nq) {
        qs(i) = row((i.toLong * n / nq).toInt) // evenly-spaced stored rows
        i += 1
      }
      def timeWalk(fl: Flavor, ef: Int): Long = {
        var best = Long.MaxValue
        var r = 0
        while (r <= reps) {
          val t0 = System.nanoTime()
          var q = 0
          while (q < nq) {
            search(qs(q), 10, ef, fl)
            q += 1
          }
          val dt = System.nanoTime() - t0
          if (r > 0 && dt < best) best = dt
          r += 1
        }
        best
      }
      val ladder = efLadder.sorted
      var crossover = Int.MaxValue
      var k = ladder.length - 1
      var go = true
      while (go && k >= 0) {
        val ef = ladder(k)
        if (timeWalk(Flavor.I8, ef) < timeWalk(Flavor.Contract, ef))
          crossover = ef
        else go = false
        k -= 1
      }
      i8EfCrossover = crossover
      crossover
    }

    /** Build the i8 serve sidecar (idempotent; ~n·dim work once; a no-op
      * when a v2 store already supplied it).
      */
    def quantizeStore(): Unit = synchronized {
      if (i8codes != null || i8codesBB != null) return
      val codes = new Array[Byte](flatLen)
      val scales = new Array[Float](n)
      val cn2 = new Array[Float](n)
      val r = new Array[Float](math.max(dim, 0))
      var x = 0
      while (x < n) {
        val o = x * dim
        var i = 0
        while (i < dim) { r(i) = rowFloat(o + i); i += 1 }
        val s = VectorKernels.i8Scale(r)
        val c = VectorKernels.i8Codes(r, s)
        System.arraycopy(c, 0, codes, o, dim)
        var c2 = 0f // codes ≤ 127, dim ≤ ~1e5: exact in float (< 2^24)
        i = 0
        while (i < dim) { val v = c(i).toFloat; c2 += v * v; i += 1 }
        scales(x) = s
        cn2(x) = c2
        x += 1
      }
      i8cnorm2 = cn2; i8scale = scales; i8codes = codes
    }

    /** Serialize this graph to `file`: a header (construction params +
      * structure: ids/offsets/lengths/levels/links) followed by the packed
      * float payload as raw little-endian bytes at an offset recorded in
      * the prefix — so [[Hnsw.readStore]] can either stream the
      * payload onto the heap or mmap it in place. If the i8 serve
      * sidecar exists ([[quantizeStore]]), it persists too (codes, then
      * per-row scale and Σcode² after the f32 payload) and restores
      * without re-quantizing. This is the build-once / warm-in-seconds
      * artifact: replaying the deterministic build costs the full
      * construction wall (383 s at 500K); loading the store costs I/O
      * only.
      *
      * Store v3 (r16): the 20-byte prefix carries CRC32C checksums of
      * the header and payload regions. Truncation already failed loudly
      * (r15's looped reads); the checksums close the remaining hole — a
      * bit-flip INSIDE a region deserialized silently, and the store is
      * the one artifact read without any oracle behind it now that the
      * mapped posture is the serving default. Store v4 (r16
      * maintenance): tombstones persist inside the CRC-covered header
      * (count + deleted internal indices), so a maintained group
      * restores with its deletes intact. v1–v3 stores stay readable.
      */
    def writeStore(file: String): Unit = {
      require(flatBB == null, "writeStore from a mapped graph is redundant" +
        " — the store file it was mapped from already exists")
      val head = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(head)
      out.writeInt(m); out.writeInt(efC); out.writeLong(seed)
      out.writeUTF(metric.toString)
      out.writeInt(n); out.writeInt(entry)
      // the v4 layout still records a uniform flag and a per-node
      // (offset, length): always true and (i·dim, dim), so stores stay
      // byte-identical to those of the ragged-capable layout
      out.writeInt(dim); out.writeBoolean(true)
      var i = 0
      while (i < n) {
        out.writeLong(ids(i)); out.writeInt(i * dim)
        out.writeInt(dim); out.writeInt(levels(i))
        i += 1
      }
      i = 0
      while (i < n) {
        val ls = links(i)
        out.writeInt(ls.length)
        ls.foreach { nb => out.writeInt(nb.length); nb.foreach(out.writeInt) }
        i += 1
      }
      out.writeInt(flatLen)
      // v2+: the i8 serve sidecar persists WITH the graph (codes +
      // scale + Σcode² per row, after the f32 payload) — a serving JVM
      // that maps the store gets the quantized flavor without paying
      // quantizeStore()'s n·dim pass, and the codes region maps
      // off-heap exactly like the payload
      val hasI8 = i8codes != null
      out.writeBoolean(hasI8)
      // v4: tombstones persist with the graph (count + deleted internal
      // indices, ascending) — a maintained store restores with its
      // deletes intact; the section sits inside the header, so the v3
      // CRC machinery covers it unchanged
      out.writeInt(nDel)
      if (nDel > 0) {
        var di = del.nextSetBit(0)
        while (di >= 0) {
          out.writeInt(di)
          di = del.nextSetBit(di + 1)
        }
      }
      out.flush()
      val hdr = head.toByteArray
      val hdrCrc = new java.util.zip.CRC32C
      hdrCrc.update(hdr)
      val payCrc = new java.util.zip.CRC32C
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(file),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        // the payload CRC covers bytes the prefix can't know until
        // they're produced, so the prefix writes LAST into a hole left
        // at position 0 — the write order (header+payload first, prefix
        // last) also means a crash mid-save leaves a file with a ZERO
        // magic, loudly unreadable rather than plausibly truncated
        ch.position(20L)
        val hdrBuf = java.nio.ByteBuffer.wrap(hdr)
        // the header is NOT small — at 500K nodes the ids/offsets/levels
        // block plus every link list is tens of MB, exactly the size
        // regime where FileChannel.write may return short; a short header
        // write shifts every later byte just like a short payload write
        while (hdrBuf.hasRemaining) ch.write(hdrBuf)
        val chunk = java.nio.ByteBuffer.allocateDirect(1 << 20)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def writeFloats(src: Array[Float], len: Int): Unit = {
          var p = 0
          while (p < len) {
            chunk.clear()
            val take = math.min(len - p, chunk.capacity / 4)
            chunk.asFloatBuffer().put(src, p, take)
            chunk.limit(take * 4)
            payCrc.update(chunk.duplicate())
            // FileChannel.write may write SHORT (interrupted thread,
            // some filesystems) — advancing past a short write would
            // shift every later byte and corrupt the store silently
            while (chunk.hasRemaining) ch.write(chunk)
            p += take
          }
        }
        writeFloats(flat, flatLen)
        if (hasI8) {
          payCrc.update(i8codes, 0, flatLen)
          val cb = java.nio.ByteBuffer.wrap(i8codes, 0, flatLen)
          while (cb.hasRemaining) ch.write(cb)
          writeFloats(i8scale, n)
          writeFloats(i8cnorm2, n)
        }
        val prefix = java.nio.ByteBuffer.allocate(20)
        prefix.putInt(0x47465448) // "GFTH"
        prefix.putInt(4)
        prefix.putInt(hdr.length)
        prefix.putInt(hdrCrc.getValue.toInt)
        prefix.putInt(payCrc.getValue.toInt)
        prefix.flip()
        ch.position(0L)
        while (prefix.hasRemaining) ch.write(prefix)
      } finally ch.close()
    }

    /** Fill structure fields from a parsed store header (see
      * [[Hnsw.readStore]] — m/efC/seed/metric were already consumed to
      * construct this instance), then attach the payload: streamed onto
      * the heap, or mapped read-only in place.
      */
    private[Hnsw] def loadFrom(file: String, in: java.io.DataInputStream,
                               ch: java.nio.channels.FileChannel,
                               payloadOff: Long, mapped: Boolean,
                               version: Int): Unit = {
      n = in.readInt(); entry = in.readInt()
      dim = in.readInt()
      require(in.readBoolean(),
        s"$file: graph store holds rows of several dims — one dim per graph")
      cap = math.max(n, 1)
      ids = new Array[Long](cap)
      levels = new Array[Int](cap)
      links = new Array[Array[Array[Int]]](cap)
      var i = 0
      while (i < n) {
        ids(i) = in.readLong()
        val off = in.readInt(); val len = in.readInt()
        require(off.toLong == i.toLong * dim && len == dim,
          s"$file: graph store node $i at offset $off with $len floats, " +
            s"not at ${i.toLong * dim} with the graph's dim $dim")
        levels(i) = in.readInt()
        i += 1
      }
      i = 0
      while (i < n) {
        val nl = in.readInt()
        val ls = new Array[Array[Int]](nl)
        var l = 0
        while (l < nl) {
          val deg = in.readInt()
          val nb = new Array[Int](deg)
          var j = 0
          while (j < deg) { nb(j) = in.readInt(); j += 1 }
          ls(l) = nb
          l += 1
        }
        links(i) = ls
        i += 1
      }
      flatLen = in.readInt()
      require(flatLen.toLong == n.toLong * math.max(dim, 0),
        s"$file: graph store payload of $flatLen floats is not $n nodes × dim $dim")
      val hasI8 = version >= 2 && in.readBoolean()
      if (version >= 4) {
        val nd = in.readInt()
        if (nd > 0) {
          del = new java.util.BitSet(n)
          var di = 0
          while (di < nd) { del.set(in.readInt()); di += 1 }
          nDel = nd
        }
      }
      // lazily sized: a mapped restore reads at most the small
      // scale/cnorm2 regions (or nothing, v1) — an unconditional 1 MB
      // direct buffer × a 1024-shard parallel warm is ~1 GB of direct
      // memory churn for ~KB of reads
      var chunk: java.nio.ByteBuffer = null
      def readFloats(at: Long, dst: Array[Float], len: Int): Unit = {
        if (chunk == null)
          // size in Long: len * 4 in Int overflows negative past 512M
          // floats, and math.max would silently pick 4096 — a correct
          // but pathologically slow 4 KB-read restore of a large shard
          chunk = java.nio.ByteBuffer
            .allocateDirect(
              math.min(1L << 20, math.max(len.toLong * 4, 4096L)).toInt)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        ch.position(at)
        var p = 0
        while (p < len) {
          chunk.clear()
          val want = math.min(len - p, chunk.capacity / 4)
          chunk.limit(want * 4)
          var got = 0
          while (got < want * 4) {
            val r = ch.read(chunk)
            require(r > 0, "truncated graph store payload")
            got += r
          }
          chunk.flip()
          chunk.asFloatBuffer().get(dst, p, want)
          p += want
        }
      }
      if (mapped) {
        flat = Array.emptyFloatArray
        flatBB = ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY,
          payloadOff, flatLen.toLong * 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      } else {
        flat = new Array[Float](flatLen)
        readFloats(payloadOff, flat, flatLen)
      }
      if (hasI8) {
        val codesOff = payloadOff + flatLen.toLong * 4
        if (mapped) {
          i8codesBB = ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY,
            codesOff, flatLen.toLong)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        } else {
          i8codes = new Array[Byte](flatLen)
          ch.position(codesOff)
          val cb = java.nio.ByteBuffer.wrap(i8codes)
          while (cb.hasRemaining) {
            val r = ch.read(cb)
            require(r > 0, "truncated graph store i8 sidecar")
          }
        }
        // scales + Σcode²: 8 bytes/row, always heap
        i8scale = new Array[Float](n)
        i8cnorm2 = new Array[Float](n)
        readFloats(codesOff + flatLen, i8scale, n)
        readFloats(codesOff + flatLen + n.toLong * 4, i8cnorm2, n)
      }
      freeze() // rebuild the layer-0 CSR for the serve walk
    }

    /** Pre-size the packed store (exact total known up front in
      * [[buildShard]]) — no doubling transients during the build.
      */
    def reserve(totalFloats: Int): Unit =
      if (flat.length < totalFloats)
        flat = java.util.Arrays.copyOf(flat, totalFloats)

    /** Greedy descent at one layer: step to the closest neighbor until no
      * neighbor improves (ties never move — the current node wins, which
      * keeps the walk deterministic and terminating).
      */
    private def greedy(q: Array[Float], ep: Int, layer: Int,
                       fl: Flavor = Flavor.Contract, qn2: Double = 0.0): Int = {
      var cur = ep
      var curD = dist(q, cur, fl, qn2)
      var improved = true
      while (improved) {
        improved = false
        val nbrs = links(cur)(layer)
        var i = 0
        while (i < nbrs.length) {
          val d = dist(q, nbrs(i), fl, qn2)
          if (d < curD) { curD = d; cur = nbrs(i); improved = true }
          i += 1
        }
      }
      cur
    }

    /** Per-thread reusable traversal scratch: epoch-stamped visited marks
      * plus primitive parallel-array heaps. The r10 insert path allocated
      * two boxed-tuple PriorityQueues, an O(n) BitSet and a boxed sort
      * per layer per insert — allocation churn, not distance kernels, was
      * the dominant build cost (measured ~13.8 ms/insert at 1M×32 shards
      * against ~2-3 ms of kernel work). Inserts are single-threaded per
      * shard; concurrent QUERY threads each get their own instance via
      * the ThreadLocal. All (dist, idx) orderings go through
      * java.lang.Double.compare — the same total order the old
      * Ordering.Double.TotalOrdering heaps used — so traversal, results,
      * and therefore the BUILT GRAPHS are bit-identical to the boxed
      * implementation (HnswSpec determinism + a9/a11 gates ride on this).
      */
    private final class Scratch {
      var stamp = new Array[Int](1024)
      var epoch = 0
      // frontier: min-heap by (d, idx)
      var cd = new Array[Double](256); var ci = new Array[Int](256); var cn = 0
      // results: max-heap by (d, idx), capped at ef
      var rd = new Array[Double](256); var ri = new Array[Int](256); var rn = 0
      // re-select staging (sized on demand to maxDeg + 1)
      var sd = new Array[Double](8); var si = new Array[Int](8)
      // distance tile output (4 gathered rows per kernel call)
      val tout = new Array[Double](4)
      var popD = 0.0; var popI = 0

      def reset(sz: Int): Unit = {
        if (stamp.length < sz) {
          stamp = new Array[Int](math.max(sz, stamp.length * 2))
          epoch = 0
        }
        if (epoch == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); epoch = 0 }
        epoch += 1
        cn = 0; rn = 0
      }
      def visited(i: Int): Boolean = stamp(i) == epoch
      def visit(i: Int): Unit = stamp(i) = epoch

      private def less(d1: Double, i1: Int, d2: Double, i2: Int): Boolean = {
        val c = java.lang.Double.compare(d1, d2)
        c < 0 || (c == 0 && i1 < i2)
      }
      def cPush(d: Double, i: Int): Unit = {
        if (cn == cd.length) {
          cd = java.util.Arrays.copyOf(cd, cn * 2)
          ci = java.util.Arrays.copyOf(ci, cn * 2)
        }
        var x = cn
        cd(x) = d; ci(x) = i; cn += 1
        while (x > 0 && less(cd(x), ci(x), cd((x - 1) >> 1), ci((x - 1) >> 1))) {
          val p = (x - 1) >> 1
          val td = cd(x); cd(x) = cd(p); cd(p) = td
          val ti = ci(x); ci(x) = ci(p); ci(p) = ti
          x = p
        }
      }
      /** pop the (d, idx)-minimum frontier entry into popD/popI */
      def cPop(): Unit = {
        popD = cd(0); popI = ci(0)
        cn -= 1
        cd(0) = cd(cn); ci(0) = ci(cn)
        var x = 0
        var done = false
        while (!done) {
          val l = 2 * x + 1; val r = l + 1
          var m = x
          if (l < cn && less(cd(l), ci(l), cd(m), ci(m))) m = l
          if (r < cn && less(cd(r), ci(r), cd(m), ci(m))) m = r
          if (m == x) done = true
          else {
            val td = cd(x); cd(x) = cd(m); cd(m) = td
            val ti = ci(x); ci(x) = ci(m); ci(m) = ti
            x = m
          }
        }
      }
      def rPush(d: Double, i: Int): Unit = {
        if (rn == rd.length) {
          rd = java.util.Arrays.copyOf(rd, rn * 2)
          ri = java.util.Arrays.copyOf(ri, rn * 2)
        }
        var x = rn
        rd(x) = d; ri(x) = i; rn += 1
        while (x > 0 && less(rd((x - 1) >> 1), ri((x - 1) >> 1), rd(x), ri(x))) {
          val p = (x - 1) >> 1
          val td = rd(x); rd(x) = rd(p); rd(p) = td
          val ti = ri(x); ri(x) = ri(p); ri(p) = ti
          x = p
        }
      }
      private def rSift(x0: Int, sz: Int): Unit = {
        var x = x0
        var done = false
        while (!done) {
          val l = 2 * x + 1; val r = l + 1
          var m = x
          if (l < sz && less(rd(m), ri(m), rd(l), ri(l))) m = l
          if (r < sz && less(rd(m), ri(m), rd(r), ri(r))) m = r
          if (m == x) done = true
          else {
            val td = rd(x); rd(x) = rd(m); rd(m) = td
            val ti = ri(x); ri(x) = ri(m); ri(m) = ti
            x = m
          }
        }
      }
      /** drop the (d, idx)-maximum result (heap overflow past ef) */
      def rPopMax(): Unit = {
        rn -= 1
        rd(0) = rd(rn); ri(0) = ri(rn)
        rSift(0, rn)
      }
      /** in-place heapsort: leaves rd/ri(0 until rn) ascending by (d, idx) */
      def rSortAsc(): Int = {
        val sz = rn
        var h = rn
        while (h > 1) {
          h -= 1
          val td = rd(0); rd(0) = rd(h); rd(h) = td
          val ti = ri(0); ri(0) = ri(h); ri(h) = ti
          rSift(0, h)
        }
        sz
      }
      def stage(cap: Int): Unit = if (sd.length < cap) {
        sd = new Array[Double](cap); si = new Array[Int](cap)
        td = new Array[Double](cap)
      }
      // re-select precomputed distances (tiled fill, then insertion-sort)
      var td = new Array[Double](8)
      // node-to-node distance view buffer (see nodeVec); sized on first
      // use, after the first insert fixed the graph's dim
      lazy val nv = new Array[Float](dim)
      // serve expansion: gathered-unvisited buffer + touch blackhole
      var gat = new Array[Int](64)
      var sink = 0.0
      // i8 tile output (unscaled float dots)
      val t8out = new Array[Float](4)
    }
    private val scratchTL = new ThreadLocal[Scratch] {
      override def initialValue(): Scratch = new Scratch
    }

    /** Algorithm 2: beam search one layer from `ep`, beam width `ef`, on
      * flavor `fl`'s distances. Fills `s.rd`/`s.ri` ascending by (dist,
      * idx) and returns the count.
      *
      * One expansion serves the build and every flavor: gather every
      * unvisited neighbor, then — when the flavor's tile gate holds —
      * score full or once-padded 4-row tiles, then the remainder pair by
      * pair. Admissions run in gather order, and on the contract kernels
      * the tile lanes equal [[dist]] bitwise, so the build's graphs do not
      * depend on the batching. Post-freeze layer-0 expansion reads the
      * flat CSR — same neighbor values in the same order as the ragged
      * links, so traversal on ANY flavor is identical with or without it
      * (HnswSpec's CSR == ragged gate); only the load chain is shorter.
      */
    private def searchLayer(q: Array[Float], ep: Int, ef: Int,
                            layer: Int, s: Scratch,
                            fl: Flavor = Flavor.Contract,
                            qn2: Double = 0.0): Int = {
      s.reset(n)
      // the i8 tile scores every metric, cosine included
      val useTile =
        if (fl eq Flavor.I8) VectorKernels.simdEnabled && dim >= 16
        else tiledGraph
      val csr = layer == 0 && l0adj != null
      val adj = l0adj; val off = l0off
      // Touch pipeline, contract CSR serve walk only (builds never reach
      // it): the NEXT tile's leading cache lines are touched while the
      // current tile computes — a software prefetch stand-in (the JVM has
      // no prefetch intrinsic; a live blackhole load is the closest legal
      // form). The touches load f32 payload rows, which the i8 walk does
      // not read; float-lane kernels left no stall window for them either
      // (COVERAGE.md §"Serving posture", r14: facc+t8 620-656 µs vs
      // facc+t0 441-533).
      val tl = if (useTile && csr && (fl eq Flavor.Contract)) touchLines else 0
      def touch(from: Int, gn: Int): Float = {
        var t = 0f
        var u = from
        val un = math.min(from + 4, gn)
        while (u < un) {
          val o = s.gat(u) * dim
          var l = 0
          if (flatBB == null)
            while (l < tl && l * 16 < dim) { t += flat(o + l * 16); l += 1 }
          else
            while (l < tl && l * 16 < dim) {
              t += flatBB.getFloat((o + l * 16) * 4); l += 1
            }
          u += 1
        }
        t
      }
      def admit(d: Double, e: Int): Unit =
        if (s.rn < ef || d < s.rd(0)) {
          s.cPush(d, e)
          s.rPush(d, e)
          if (s.rn > ef) s.rPopMax()
        }
      var bh = 0f // touch blackhole, published to s.sink once
      val d0 = dist(q, ep, fl, qn2)
      s.cPush(d0, ep); s.rPush(d0, ep); s.visit(ep)
      var stop = false
      while (!stop && s.cn > 0) {
        s.cPop()
        if (s.popD > s.rd(0) && s.rn >= ef) {
          stop = true // every remaining candidate is even farther
        } else {
          val nbrs = if (csr) null else links(s.popI)(layer)
          val nb0 = if (csr) off(s.popI) else 0
          val nbN = if (csr) off(s.popI + 1) - nb0 else nbrs.length
          if (s.gat.length < nbN)
            s.gat = new Array[Int](math.max(nbN, s.gat.length * 2))
          var gn = 0
          var i = 0
          while (i < nbN) {
            val e = if (csr) adj(nb0 + i) else nbrs(i)
            if (!s.visited(e)) { s.visit(e); s.gat(gn) = e; gn += 1 }
            i += 1
          }
          var b = 0
          if (useTile) {
            // two-tile-deep touch pipeline: prime tiles 0 and 1, then each
            // iteration touches tile b/4+2 while tile b/4 computes — every
            // row's lines are in flight ~2 kernel calls before they're read
            if (tl > 0) bh += touch(0, gn) + touch(4, gn)
            while (b + 3 <= gn) { // full or once-padded tile (≤1/4 waste)
              if (tl > 0) bh += touch(b + 8, gn)
              val e1 = s.gat(b + 1)
              val e2 = if (b + 2 < gn) s.gat(b + 2) else e1
              val e3 = if (b + 3 < gn) s.gat(b + 3) else e1
              dist4(q, s.gat(b), e1, e2, e3, s, fl, qn2)
              // padded lanes recompute a real row — discarded below; keep
              // the eval counter honest
              evals -= 4 - math.min(4, gn - b)
              admit(s.tout(0), s.gat(b)); admit(s.tout(1), e1)
              if (b + 2 < gn) admit(s.tout(2), e2)
              if (b + 3 < gn) admit(s.tout(3), e3)
              b += 4
            }
          }
          while (b < gn) { admit(dist(q, s.gat(b), fl, qn2), s.gat(b)); b += 1 }
          // cross-expansion prefetch: after this expansion's admissions,
          // cd(0) IS the next pop (cPop takes the heap min), so its
          // adjacency line and first neighbor-row heads are known now —
          // touch them so the next expansion's serial head (adjacency
          // load → first rows) is already in flight
          if (tl > 0 && s.cn > 0) {
            val nx = s.ci(0)
            val ao = off(nx)
            val ae = math.min(ao + 4, off(nx + 1))
            var z = ao
            if (flatBB == null)
              while (z < ae) { bh += flat(adj(z) * dim); z += 1 }
            else
              while (z < ae) { bh += flatBB.getFloat(adj(z) * dim * 4); z += 1 }
          }
        }
      }
      s.sink += bh
      s.rSortAsc()
    }

    /** Algorithm 4 neighbor selection (keepPrunedConnections flavor) over
      * `(ds, is)(0 until len)` sorted ascending by (dist, idx): greedily
      * keep candidates closer to `q` than to anything already kept —
      * spreads edges across directions instead of clumping — then
      * back-fill from the pruned list so degree stays at `max`.
      */
    private def selectNeighbors(ds: Array[Double], is: Array[Int], len: Int,
                                max: Int, s: Scratch): Array[Int] = {
      if (len <= max) return java.util.Arrays.copyOf(is, len)
      val kept = new Array[Int](max)
      var nKept = 0
      val pruned = new Array[Int](len)
      var nPruned = 0
      val useTile = tiledGraph
      var i = 0
      while (i < len && nKept < max) {
        val dq = ds(i); val c = is(i)
        val cv = nodeVec(c, s)
        var ok = true
        var j = 0
        if (useTile) {
          // occlusion check against the kept set, 4 gathered rows per
          // kernel call; lanes are bitwise-equal to dist and checked in
          // the scalar loop's order, so the kept/pruned decision — and
          // therefore the built graph — is unchanged (a group computes
          // up to 3 distances past the first occluder; pure waste, never
          // a different outcome)
          while (ok && j + 4 <= nKept) {
            dist4(cv, kept(j), kept(j + 1), kept(j + 2), kept(j + 3), s)
            if (s.tout(0) < dq || s.tout(1) < dq ||
                s.tout(2) < dq || s.tout(3) < dq) ok = false
            j += 4
          }
        }
        while (ok && j < nKept) {
          if (dist(cv, kept(j)) < dq) ok = false
          j += 1
        }
        if (ok) { kept(nKept) = c; nKept += 1 }
        else { pruned(nPruned) = c; nPruned += 1 }
        i += 1
      }
      var p = 0
      while (nKept < max && p < nPruned) { kept(nKept) = pruned(p); nKept += 1; p += 1 }
      java.util.Arrays.copyOf(kept, nKept)
    }

    /** Insert (Algorithm 1). MUST be called in id-sorted order for
      * reproducible graphs — [[buildShard]] guarantees it.
      */
    def insert(id: Long, vec: Array[Float]): Unit = {
      require(flatBB == null, "mapped graphs are read-only — readStore " +
        "with mapped=false to get an insertable on-heap copy")
      if (dim < 0) dim = vec.length
      else VectorKernels.requireDim("hnsw insert", vec.length, dim)
      grow()
      l0off = null; l0adj = null // a post-freeze insert invalidates the CSR
      val idx = n
      val lvl = levelOf(id, seed, mL)
      require(flatLen.toLong + vec.length <= Int.MaxValue - 8,
        s"shard vector payload exceeds the packed-store bound (~8.6 GB of " +
          s"floats) at $n rows - shard the corpus finer (nShards/nlist)")
      if (flatLen + vec.length > flat.length)
        flat = java.util.Arrays.copyOf(flat,
          math.max(flat.length * 2, flatLen + vec.length))
      System.arraycopy(vec, 0, flat, flatLen, vec.length)
      flatLen += vec.length
      ids(idx) = id; levels(idx) = lvl
      links(idx) = Array.fill(lvl + 1)(Array.emptyIntArray)
      n += 1
      // maintenance bookkeeping (no-ops on the build path): keep the
      // id lookup current once built, and extend the i8 serve sidecar
      // in place so a quantized group stays servable across upserts
      // without an n·dim re-quantize (same per-row kernels as
      // quantizeStore — v4-pinned semantics)
      if (idIdx != null) idIdx.put(id, idx)
      if (i8codes != null) {
        if (i8codes.length < flatLen)
          i8codes = java.util.Arrays.copyOf(i8codes,
            math.max(flat.length, flatLen))
        if (i8scale.length < n) {
          i8scale = java.util.Arrays.copyOf(i8scale, cap)
          i8cnorm2 = java.util.Arrays.copyOf(i8cnorm2, cap)
        }
        val sI8 = VectorKernels.i8Scale(vec)
        val cI8 = VectorKernels.i8Codes(vec, sI8)
        System.arraycopy(cI8, 0, i8codes, idx * dim, dim)
        var c2 = 0f
        var ci = 0
        while (ci < cI8.length) {
          val v = cI8(ci).toFloat; c2 += v * v; ci += 1
        }
        i8scale(idx) = sI8
        i8cnorm2(idx) = c2
      }
      if (entry < 0) { entry = idx; return }
      val s = scratchTL.get()
      val topL = levels(entry)
      var ep = entry
      var lc = topL
      while (lc > lvl) { ep = greedy(vec, ep, lc); lc -= 1 }
      lc = math.min(topL, lvl)
      while (lc >= 0) {
        val cnt = searchLayer(vec, ep, efC, lc, s)
        val nextEp = s.ri(0) // closest at this layer: the next entry point
        val maxDeg = if (lc == 0) m0 else m
        val nbrs = selectNeighbors(s.rd, s.ri, cnt, m, s)
        links(idx)(lc) = nbrs
        var i = 0
        while (i < nbrs.length) {
          val nb = nbrs(i)
          val cur = links(nb)(lc)
          if (cur.length + 1 <= maxDeg) {
            val appended = java.util.Arrays.copyOf(cur, cur.length + 1)
            appended(cur.length) = idx
            links(nb)(lc) = appended
          } else {
            // re-select under the neighbor's own view: stage (d, x) for
            // cur + idx, insertion-sorted ascending by (d, idx) — the
            // same total order the old boxed `.sorted` produced. All len
            // distances are needed regardless, so they fill first through
            // the 4-wide gather tile (bitwise-equal lanes — the sort sees
            // the same values), then the sort runs on the precomputed
            // buffer.
            val len = cur.length + 1
            s.stage(len)
            val sd = s.sd; val si = s.si; val td = s.td
            val nv = nodeVec(nb, s)
            var c = 0
            if (tiledGraph) {
              while (c + 4 <= len) {
                val x1 = if (c + 1 < cur.length) cur(c + 1) else idx
                val x2 = if (c + 2 < cur.length) cur(c + 2) else idx
                val x3 = if (c + 3 < cur.length) cur(c + 3) else idx
                dist4(nv, cur(c), x1, x2, x3, s)
                td(c) = s.tout(0); td(c + 1) = s.tout(1)
                td(c + 2) = s.tout(2); td(c + 3) = s.tout(3)
                c += 4
              }
            }
            while (c < len) {
              td(c) = dist(nv, if (c < cur.length) cur(c) else idx)
              c += 1
            }
            var mN = 0
            c = 0
            while (c <= cur.length) {
              val x = if (c < cur.length) cur(c) else idx
              val d = td(c)
              var j = mN - 1
              while (j >= 0 && {
                val cc = java.lang.Double.compare(sd(j), d)
                cc > 0 || (cc == 0 && si(j) > x)
              }) {
                sd(j + 1) = sd(j); si(j + 1) = si(j)
                j -= 1
              }
              sd(j + 1) = d; si(j + 1) = x
              mN += 1
              c += 1
            }
            links(nb)(lc) = selectNeighbors(sd, si, len, maxDeg, s)
          }
          i += 1
        }
        ep = nextEp
        lc -= 1
      }
      if (lvl > topL) entry = idx
    }

    /** Query top-k on serve flavor `flavor` — the one entry every serve
      * path and [[calibrateFlavor]] walk through. `Auto` resolves here
      * through [[autoI8]]. Greedy descent through the upper layers, one
      * beam search at layer 0 with `ef = max(efSearch, k)`, then the
      * emit: the beam's first k live entries, or for `I8` an exact
      * CONTRACT-kernel re-rank of the live survivors down to k — FAISS's
      * SQ-then-refine serving shape, which returns exact scores and
      * absorbs in-beam quantization rank noise. Returns (id, score)
      * best-first in the METRIC's order.
      */
    def search(q: Array[Float], k: Int, efSearch: Int,
               flavor: Flavor = Flavor.Contract): Array[(Long, Double)] = {
      val fl =
        if (flavor ne Flavor.Auto) flavor
        else if (autoI8(efSearch)) Flavor.I8
        else Flavor.Contract
      val i8 = fl eq Flavor.I8
      require(!i8 || i8Available,
        "the i8 flavor needs the i8 sidecar — call quantizeStore() first" +
          " (or load a v2+ store that carries it)")
      if (n == 0) return Array.empty
      VectorKernels.requireDim("hnsw search", q.length, dim)
      var qn2 = 0.0
      if (i8) { var i = 0; while (i < q.length) { qn2 += q(i).toDouble * q(i); i += 1 } }
      // the upper-layer descent is deterministic in (q, graph) — hoisted
      // out of the ef-widening retry loop (its result cannot change
      // between retries; re-running it would only waste kernel evals on
      // tombstone-heavy serves and inflate the evals accounting)
      var ep = entry
      var lc = levels(entry)
      while (lc > 0) { ep = greedy(q, ep, lc, fl, qn2); lc -= 1 }
      var ef = math.max(efSearch, k)
      val s = scratchTL.get()
      while (true) {
        val cnt = searchLayer(q, ep, ef, 0, s, fl, qn2)
        // emit the k best LIVE results. With zero tombstones this is the
        // first min(k, cnt) beam entries (i8: all cnt survivors, re-ranked
        // below). With tombstones, beam slots they occupied are skipped;
        // if live results run short while the beam was FULL (cnt == ef —
        // more reachable nodes existed past the ef horizon), the walk
        // retries at 2× ef until satisfied, the beam exhausts the
        // component, or ef reaches the whole graph.
        val cap = if (i8) cnt else math.min(k, cnt)
        val out = new Array[(Long, Double)](cap)
        var j = 0
        var w = 0
        while (j < cnt && w < cap) {
          val x = s.ri(j)
          if (!isDel(x)) {
            out(w) = (ids(x), score(if (i8) dist(q, x) else s.rd(j)))
            w += 1
          }
          j += 1
        }
        if (nDel == 0 || w >= k || cnt < ef || ef >= n) {
          val live = if (w == out.length) out else java.util.Arrays.copyOf(out, w)
          return if (!i8) live
                 else live.sortBy { case (id, sc) =>
                   (if (metric.larger) -sc else sc, id)
                 }.take(k)
        }
        ef = math.min(ef * 2, n)
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Build one shard's graph from id-sorted rows. */
  private def buildShard(rows: Array[(Long, Array[Float])], m: Int, efC: Int,
                         seed: Long, metric: Metric): ShardGraph = {
    val g = new ShardGraph(m, efC, seed, metric)
    var total = 0L
    rows.foreach(total += _._2.length)
    g.reserve(math.min(total, Int.MaxValue - 8).toInt)
    rows.foreach { case (id, v) => g.insert(id, v) }
    g.freeze()
    g
  }

  /** Single-shard build entry for the specs — same path as the executor
    * build.
    */
  private[graft] def probeBuild(rows: Array[(Long, Array[Float])], m: Int,
                                efC: Int, seed: Long,
                                metric: Metric): ShardGraph =
    buildShard(rows, m, efC, seed, metric)

  /** Load a graph store written by [[ShardGraph.writeStore]]. With
    * `mapped = true` the float payload stays OFF-HEAP (an mmapped
    * read-only region served through bitwise-equal BB kernel twins —
    * results identical, zero payload heap residency, page cache shared
    * across JVMs); otherwise it streams onto the heap, byte-identical to
    * the graph that was saved. Either way the warm cost is I/O, not the
    * deterministic rebuild (383 s at 500K×384d).
    */
  def readStore(file: String, mapped: Boolean = false): ShardGraph = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(file), java.nio.file.StandardOpenOption.READ)
    try {
      val prefix = java.nio.ByteBuffer.allocate(12)
      while (prefix.hasRemaining && ch.read(prefix) > 0) {}
      prefix.flip()
      require(prefix.getInt() == 0x47465448, s"$file: not a graft graph store")
      val version = prefix.getInt()
      require(version >= 1 && version <= 4,
        s"$file: unknown graph store version $version")
      val hdrLen = prefix.getInt()
      // v3: the prefix carries CRC32C over the header and payload regions
      var hdrCrcStored = 0
      var payCrcStored = 0
      if (version >= 3) {
        val crcs = java.nio.ByteBuffer.allocate(8)
        while (crcs.hasRemaining && ch.read(crcs) > 0) {}
        require(!crcs.hasRemaining, s"$file: truncated graph store prefix")
        crcs.flip()
        hdrCrcStored = crcs.getInt()
        payCrcStored = crcs.getInt()
      }
      val prefixLen = if (version >= 3) 20L else 12L
      val hdrBuf = java.nio.ByteBuffer.allocate(hdrLen)
      while (hdrBuf.hasRemaining && ch.read(hdrBuf) > 0) {}
      require(!hdrBuf.hasRemaining, s"$file: truncated graph store header")
      if (version >= 3) {
        val c = new java.util.zip.CRC32C
        c.update(hdrBuf.array())
        require(c.getValue.toInt == hdrCrcStored,
          s"$file: graph store header CRC mismatch — the file is corrupt")
        // payload verification is ONE sequential streaming pass over
        // [payloadOff, EOF) — cheap at restore (and for a mapped warm it
        // doubles as the prefault)
        val c2 = new java.util.zip.CRC32C
        ch.position(prefixLen + hdrLen)
        val buf = java.nio.ByteBuffer.allocateDirect(1 << 20)
        var r = ch.read(buf)
        while (r >= 0) {
          buf.flip()
          c2.update(buf)
          buf.clear()
          r = ch.read(buf)
        }
        require(c2.getValue.toInt == payCrcStored,
          s"$file: graph store payload CRC mismatch — the file is corrupt")
      }
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(hdrBuf.array()))
      val m = in.readInt(); val efC = in.readInt(); val seed = in.readLong()
      val metric = in.readUTF() match {
        case "Dot" => Metric.Dot
        case "Cosine" => Metric.Cosine
        case "L2" => Metric.L2
        case other => throw new IllegalArgumentException(
          s"$file: unknown metric '$other'")
      }
      val g = new ShardGraph(m, efC, seed, metric)
      g.loadFrom(file, in, ch,
        (if (version >= 3) 20L else 12L) + hdrLen, mapped, version)
      g
    } finally ch.close()
  }

  /** Persist every warmed shard graph under `cacheKey` to `dir` (one
    * store file per shard, its cache key embedded in a manifest line) —
    * the executor-warm artifact: a serving JVM restores the whole group
    * with [[warmFromDisk]] in I/O time instead of replaying the build.
    * Returns the number of shards written.
    */
  def saveWarmed(cacheKey: String, dir: String): Int = {
    val group = shardGroupIfPresent(cacheKey).getOrElse(
      throw new IllegalStateException(
        s"no warmed hnsw graphs under '$cacheKey' to save"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // shard files write in parallel (a routed group is 100s–1000s of
    // independent graphs; serial I/O was the wall at the 3M/1024-shard
    // point); the manifest is a map, its line order carries no meaning
    val entries = {
      val b = Vector.newBuilder[(String, ShardGraph)]
      group.forEach((key, g) => b += ((key, g)))
      b.result()
    }
    val manifest = new java.lang.StringBuilder
    // Generation-atomic re-save (r16, closing the r15 ADVICE finding):
    // shard files write under GENERATION-UNIQUE names (shard_i.gG.graph,
    // G = one past the largest generation any existing file in the dir
    // carries), the new MANIFEST references them and moves in
    // ATOMIC_MOVE last, and only then do prior-generation files delete.
    // The r15 scheme moved new shards into the SAME final names the old
    // manifest referenced, so a crash mid-save over a store whose graphs
    // CHANGED left the old manifest pointing at a silent mix of old- and
    // new-generation files (each internally complete and param-
    // compatible). With unique names a crash at ANY point leaves the old
    // manifest referencing only untouched old-generation files; the new
    // generation becomes visible in the single atomic MANIFEST move.
    val dirPath = java.nio.file.Paths.get(dir)
    val genPat = java.util.regex.Pattern.compile("shard_\\d+\\.g(\\d+)\\.graph")
    val gen = {
      var maxGen = -1L
      val ls = java.nio.file.Files.list(dirPath)
      try ls.forEach { p =>
        val m0 = genPat.matcher(p.getFileName.toString)
        if (m0.matches()) maxGen = math.max(maxGen, m0.group(1).toLong)
        else if (p.getFileName.toString.matches("shard_\\d+\\.graph"))
          maxGen = math.max(maxGen, 0L) // legacy un-suffixed files = gen 0
      } finally ls.close()
      maxGen + 1
    }
    val fileOf = (i: Int) => s"shard_$i.g$gen.graph"
    java.util.stream.IntStream.range(0, entries.length).parallel()
      .forEach { (i: Int) =>
        // no tmp+move needed: nothing references the unique name until
        // the new MANIFEST lands, so a partial file is unreachable (and
        // swept as an unreferenced leftover by the next save's cleanup)
        entries(i)._2.writeStore(s"$dir/${fileOf(i)}")
      }
    entries.zipWithIndex.foreach { case ((key, _), i) =>
      manifest.append(key).append('\t').append(fileOf(i)).append('\n')
    }
    val mTmp = java.nio.file.Paths.get(s"$dir/MANIFEST.tmp")
    java.nio.file.Files.writeString(mTmp, manifest.toString)
    java.nio.file.Files.move(mTmp, java.nio.file.Paths.get(s"$dir/MANIFEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // best-effort sweep of prior generations + stray tmp files: the new
    // manifest is already durable, so a failed delete only wastes disk
    val referenced = (0 until entries.length).map(fileOf).toSet
    val sweep = java.nio.file.Files.list(dirPath)
    try sweep.forEach { p =>
      val f = p.getFileName.toString
      val isStoreFile = genPat.matcher(f).matches() ||
        f.matches("shard_\\d+\\.graph") || f.endsWith(".graph.tmp")
      if (isStoreFile && !referenced.contains(f)) {
        try { java.nio.file.Files.delete(p); () }
        catch { case _: java.io.IOException => () }
      }
    } finally sweep.close()
    entries.length
  }

  /** Restore a shard group saved by [[saveWarmed]] into this JVM's graph
    * cache under `cacheKey` — after this, [[searchWarm]]/[[searchLocal]]
    * serve exactly as if the graphs had been built here ([[readStore]]'s
    * identity guarantee). `mapped = true` keeps every payload off-heap.
    * Returns the number of shards restored.
    */
  def warmFromDisk(cacheKey: String, dir: String,
                   mapped: Boolean = false,
                   prefault: Boolean = false): Int = {
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/MANIFEST")).split('\n').filter(_.nonEmpty)
    val group = shardGroup(cacheKey)
    // restores run in parallel (independent files; header parse + heap
    // stream dominate) — the warm of a 1000-shard routed group is I/O,
    // and serial I/O would leave most of the drive idle. `prefault`
    // faults mapped payloads into the page cache here (sequential read
    // speed) instead of under serve traffic (random-fault speed) — see
    // [[ShardGraph.prefault]].
    java.util.stream.IntStream.range(0, lines.length).parallel()
      .forEach { (i: Int) =>
        val Array(key, f) = lines(i).split('\t')
        val g = group.computeIfAbsent(key, _ => readStore(s"$dir/$f", mapped))
        if (prefault) g.prefault()
        ()
      }
    // the return value is the number of manifest entries RESIDENT after
    // the restore — not lines.length: a group LRU-evicted mid-warm (other
    // threads cycling cacheKeys past maxKeys) would otherwise report a
    // full restore it didn't deliver, and an allowMissing serve over it
    // would silently drop shards (the a14 check rides on this count)
    lines.count(l => group.containsKey(l.split('\t')(0)))
  }

  /** Executor-level graph cache: shards are immutable once built, so a
    * non-empty `cacheKey` lets every later query batch (the bench loop,
    * repeated Verify executions in one JVM) reuse the built graphs — the
    * standard per-executor ANN-serving pattern; on-disk durability comes
    * from the parquet base table the build replays deterministically.
    *
    * BOUNDED: the outer map is an LRU over 4 cacheKeys, each holding its shards in an inner
    * concurrent map (shards of one key build in parallel tasks). A
    * long-lived serving executor cycling cacheKeys evicts whole
    * least-recently-used graph groups instead of leaking them, and
    * [[invalidate]] drops a key's shards explicitly (HnswSpec gates both).
    */
  private val maxCachedKeys = 4
  private val graphCache = new java.util.LinkedHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, ShardGraph]](
    16, 0.75f, /*accessOrder=*/ true)

  /** Fetch-or-create `cacheKey`'s shard group, evicting least-recently-used
    * groups beyond the bound (the new key enters at the recent end, so it
    * is never its own victim).
    */
  private def shardGroup(cacheKey: String) = graphCache.synchronized {
    var g = graphCache.get(cacheKey)
    if (g == null) {
      g = new java.util.concurrent.ConcurrentHashMap[String, ShardGraph]()
      graphCache.put(cacheKey, g)
      val it = graphCache.keySet().iterator()
      while (graphCache.size() > maxCachedKeys) { it.next(); it.remove() }
    }
    g
  }
  private def shardGroupIfPresent(cacheKey: String) =
    graphCache.synchronized(Option(graphCache.get(cacheKey)))

  /** Whether any shard graphs are warmed under `cacheKey` — lets a
    * serve-from-store caller warm once instead of re-mapping per call.
    */
  def warmed(cacheKey: String): Boolean =
    shardGroupIfPresent(cacheKey).exists(!_.isEmpty)

  /** Drop every shard graph built under `cacheKey` (explicit eviction for
    * long-lived serving JVMs retiring an index generation).
    */
  def invalidate(cacheKey: String): Unit =
    graphCache.synchronized { graphCache.remove(cacheKey); () }

  /** Build the i8 serve sidecar on every warmed shard under `cacheKey`
    * (see [[ShardGraph.quantizeStore]]) — call once before serving
    * `Flavor.I8`. Returns the number of shards quantized.
    */
  def quantizeWarmed(cacheKey: String): Int = {
    val group = shardGroupIfPresent(cacheKey).getOrElse(
      throw new IllegalStateException(
        s"no warmed hnsw graphs under '$cacheKey' to quantize"))
    val graphs = {
      val b = Vector.newBuilder[ShardGraph]
      group.forEach((_, g) => b += g)
      b.result()
    }
    // independent n·dim passes — parallel across shards
    java.util.stream.IntStream.range(0, graphs.length).parallel()
      .forEach((i: Int) => graphs(i).quantizeStore())
    graphs.length
  }

  /** Measure the serve-flavor crossover on every warmed shard under
    * `cacheKey` that has the i8 sidecar (see
    * [[ShardGraph.calibrateFlavor]]) — after this, `Flavor.Auto`
    * serving picks per (graph, ef) by MEASUREMENT instead of the
    * geometry-only byte heuristic. Call after [[quantizeWarmed]] (or a
    * v2+ store warm); graphs without the sidecar are skipped. Returns
    * the number of graphs calibrated. Shards calibrate SERIALLY: the
    * measurement times single-threaded walks, and parallel calibration
    * would contend for the memory bandwidth whose saturation is exactly
    * the signal being measured.
    */
  def calibrateWarmed(cacheKey: String,
                      efLadder: Array[Int] = Array(16, 32, 64, 128),
                      sampleQ: Int = 32): Int = {
    val group = shardGroupIfPresent(cacheKey).getOrElse(
      throw new IllegalStateException(
        s"no warmed hnsw graphs under '$cacheKey' to calibrate"))
    var done = 0
    group.forEach { (_, g) =>
      if (g.i8Available) { g.calibrateFlavor(efLadder, sampleQ); done += 1 }
    }
    done
  }

  /** Number of shard graphs warmed under `cacheKey` (0 if none) — the
    * completeness signal the SQL serving path checks before
    * allowMissing serving (a PARTIAL group would silently drop probed
    * shards; see AnnSql's non-contract flavors).
    */
  def warmedCount(cacheKey: String): Int =
    shardGroupIfPresent(cacheKey).map(_.size).getOrElse(0)

  /** Live (non-tombstoned) node count across `cacheKey`'s warmed shards —
    * the engine-side corpus cardinality a maintenance oracle compares
    * against the source-of-truth live set (a16 gates the agreement).
    */
  def liveCountWarmed(cacheKey: String): Long = {
    var total = 0L
    shardGroupIfPresent(cacheKey).foreach(_.forEach((_, g) =>
      total += g.liveSize))
    total
  }

  /** Tombstoned-slot count across `cacheKey`'s warmed shards — with
    * [[liveCountWarmed]], the group's tombstone fraction. The streaming
    * maintenance hook's compaction trigger reads it
    * ([[graft.streaming.IndexStream.upsertHnswStream]]): sustained
    * upsert/delete churn grows tombstones without bound unless something
    * measures and reclaims them.
    */
  def deletedCountWarmed(cacheKey: String): Long = {
    var total = 0L
    shardGroupIfPresent(cacheKey).foreach(_.forEach((_, g) =>
      total += g.deletedCount))
    total
  }

  /** Every warmed graph under `cacheKey` whose key routes to `shard`
    * (key layout `cacheKey|shard|dim|...` — one graph per shard, as a
    * group holds one dim).
    */
  private def shardGraphsByPrefix(cacheKey: String,
                                  shard: Int): Seq[ShardGraph] =
    shardGroupIfPresent(cacheKey).map { group =>
      val b = Vector.newBuilder[ShardGraph]
      val p = s"$cacheKey|$shard|"
      group.forEach((k, g) => if (k.startsWith(p)) b += g)
      b.result()
    }.getOrElse(Vector.empty)

  /** A graph key carries its dim, so a wrong-dim query or batch misses
    * every key; on such a miss this names the dim mismatch against the
    * group's graphs instead of reporting a missing shard.
    */
  private def requireGroupDim(
      group: java.util.concurrent.ConcurrentHashMap[String, ShardGraph],
      qdim: Int, op: String): Unit =
    group.values().stream().filter(_.dim >= 0).findFirst()
      .ifPresent(g => VectorKernels.requireDim(op, qdim, g.dim))

  /** Incremental UPSERT into a warmed shard group — the index-maintenance
    * half the reference's build-then-serve lifecycle lacks (its corpus is
    * a frozen file; a production corpus is not). Rows route to shards with
    * the SAME router the group was built under (centroid router when
    * `centroids` is given — [[searchRouted]]'s — else the hash router),
    * shuffle once on the shard key, and each task mutates its executor-
    * cached graph in place: ids that already exist live are TOMBSTONED
    * first (replace semantics, newest write wins), then the batch inserts
    * in id order through the same Algorithm-1 path the build uses — so an
    * APPEND-ONLY batch (every id above the graph's ceiling) leaves the
    * graph BIT-IDENTICAL to a from-scratch rebuild on the union
    * (HnswSpec gates it; out-of-order ids yield a valid but
    * non-canonical graph, recall-gated, canonicalizable via
    * [[compactDispatched]]). A quantized group stays servable: inserts
    * extend the i8 sidecar row-wise. Mapped groups refuse (read-only payload) —
    * restore `mapped = false`, maintain, [[saveWarmed]], re-map.
    *
    * Serving and maintenance are PHASE-SEPARATED by the caller (the
    * store generation machinery exists for exactly this): searches
    * concurrent with an in-flight upsert batch see a half-applied batch.
    *
    * `createMissing = true` permits a batch landing on a router cell
    * that had no base rows at build time (hence no graph) to seed a
    * fresh graph; the default is the loud-miss contract — a missing
    * graph usually means the warm step never ran or the group was
    * evicted, and silently building from just the batch would serve a
    * sliver of the corpus as if it were all of it.
    *
    * Returns one row per touched shard:
    * (shard, n_upserts, n_replaced, n_live).
    */
  def upsertWarmed(rows: DataFrame, cacheKey: String, nShards: Int,
                   metric: Metric = Metric.Dot, m: Int = 16,
                   efConstruction: Int = 100, seed: Long = 42L,
                   centroids: Array[Array[Float]] = null,
                   idCol: String = "id", vecCol: String = "vec",
                   createMissing: Boolean = false): DataFrame = {
    require(cacheKey.nonEmpty,
      "upsertWarmed needs the cacheKey the graphs were built under")
    val spark = rows.sparkSession
    import spark.implicits._
    require(shardGroupIfPresent(cacheKey).isDefined,
      s"no warmed hnsw graphs under '$cacheKey' — build or warmFromDisk " +
        "the group before upserting into it")
    // refuse a mapped group BEFORE any mutation: tombstoning first and
    // then failing on the read-only insert would leave the cache
    // half-mutated behind a "refused" upsert
    shardGroupIfPresent(cacheKey).foreach(_.forEach((k, g) =>
      require(!g.isMapped,
        s"warmed graph '$k' is mapped (read-only payload) — restore with " +
          "mapped = false to maintain, saveWarmed, then re-map for serving")))
    // REPLACE pre-pass, group-wide: under the centroid router an id whose
    // UPDATED vector routes to a different cell would leave its stale
    // twin live in the OLD cell's graph — the destination task can never
    // see it. Tombstone the batch's ids across every shard first (the
    // deleteWarmed shape: broadcast ids, hash-map miss per non-owner
    // shard), then insert; per-shard n_replaced attributes each
    // pre-tombstoned id to the shard its NEW vector lands in. The batch's
    // dims ride the same collect and are checked BEFORE the pre-pass:
    // tombstoning first would delete a wrong-dim batch's ids and then
    // refuse its inserts.
    val up = rows.select(col(idCol).cast("long"), size(col(vecCol)))
      .distinct().collect()
    shardGroupIfPresent(cacheKey).foreach(group =>
      up.collect { case r if !r.isNullAt(1) && r.getInt(1) >= 0 => r.getInt(1) }
        .distinct.foreach(requireGroupDim(group, _, "hnsw upsert")))
    val upIds = up.map(_.getLong(0)).distinct
    val replacedIds = deleteWarmedIds(spark, cacheKey, upIds, nShards).toSet
    val replacedBc = spark.sparkContext.broadcast(replacedIds)
    val shardExpr =
      if (centroids != null) Ivf.nearestCentroid(col(vecCol), centroids)
      else pmod(xxhash64(col(idCol)), lit(nShards.toLong)).cast("int")
    val efC = efConstruction
    rows.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        shardExpr.as("shard"))
      .as[(Long, Array[Float], Int)]
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .mapPartitions { it =>
        val out = collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
        val buf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        var cur = Int.MinValue
        def flush(): Unit = if (buf.nonEmpty) {
          val batch = buf.toArray
          buf.clear()
          val key = s"$cacheKey|$cur|${batch(0)._2.length}|$m|$efC|$seed|$metric"
          val group = shardGroupIfPresent(cacheKey).getOrElse(
            throw new IllegalStateException(
              s"no warmed hnsw graphs under '$cacheKey' — build or " +
                "warmFromDisk the group before upserting into it"))
          val existing = group.get(key)
          if (existing == null) requireGroupDim(group, batch(0)._2.length, "hnsw upsert")
          val preReplaced = batch.count(t => replacedBc.value.contains(t._1))
          if (existing == null) {
            require(createMissing,
              s"no warmed hnsw graph for shard $cur under '$cacheKey' — " +
                "a maintenance batch must land on the group it maintains " +
                "(createMissing=true seeds a legitimately empty router cell)")
            val g = group.computeIfAbsent(key,
              _ => buildShard(batch, m, efC, seed, metric))
            out += ((cur, batch.length.toLong, preReplaced.toLong,
              g.liveSize.toLong))
          } else existing.synchronized {
            var replaced = preReplaced.toLong
            batch.foreach { case (id, vec) =>
              // the pre-pass already tombstoned pre-existing twins; this
              // in-task delete only fires for IN-BATCH duplicates of the
              // same id (newest write wins)
              if (existing.delete(id)) replaced += 1
              existing.insert(id, vec)
            }
            existing.freeze() // re-trim + rebuild the serve CSR
            out += ((cur, batch.length.toLong, replaced,
              existing.liveSize.toLong))
          }
        }
        it.foreach { case (id, vec, shard) =>
          if (shard != cur) { flush(); cur = shard }
          buf += ((id, vec))
        }
        flush()
        out.iterator
      }
      .toDF("shard", "n_upserts", "n_replaced", "n_live")
  }

  /** Tombstone `delIds` across `cacheKey`'s warmed shards (one task per
    * shard, the id set broadcast — ids carry no shard hint, and a hash-
    * map miss per non-owner shard is cheaper than routing vectors
    * around). Deleted nodes stay in the graph as connectivity (hnswlib's
    * markDelete) and stop being emitted; [[saveWarmed]] persists the
    * tombstones (store v4) and [[compactDispatched]] reclaims them. Returns
    * the number of ids that were found live and tombstoned.
    */
  def deleteWarmed(spark: SparkSession, cacheKey: String,
                   delIds: Array[Long], nShards: Int): Long = {
    require(shardGroupIfPresent(cacheKey).isDefined,
      s"no warmed hnsw graphs under '$cacheKey' to delete from — a " +
        "silent zero-count takedown is a compliance hole, not a no-op")
    deleteWarmedIds(spark, cacheKey, delIds, nShards).length.toLong
  }

  /** [[deleteWarmed]]'s core, returning WHICH ids were found live and
    * tombstoned (bounded by the input) — the upsert pre-pass attributes
    * per-shard replace counts from it.
    */
  private def deleteWarmedIds(spark: SparkSession, cacheKey: String,
                              delIds: Array[Long],
                              nShards: Int): Array[Long] = {
    require(cacheKey.nonEmpty,
      "deleteWarmed needs the cacheKey the graphs were built under")
    val bc = spark.sparkContext.broadcast(delIds)
    import spark.implicits._
    dispatchShards(spark, 0 until nShards)
      .mapPartitions { it =>
        val hit = collection.mutable.ArrayBuffer.empty[Long]
        it.foreach { shard =>
          shardGraphsByPrefix(cacheKey, shard).foreach { g =>
            bc.value.foreach { id => if (g.delete(id)) hit += id }
          }
        }
        hit.iterator
      }
      .collect()
  }

  /** Compact every warmed shard graph under `cacheKey` that carries at
    * least one tombstone (r17, closing the r16 verdict finding that
    * compaction ran driver-local while its siblings dispatched): one task
    * per shard through the SAME [[dispatchShards]] lane as
    * [[upsertWarmed]]/[[deleteWarmed]], so the maintenance story's third
    * leg runs where the first two do. Each task rebuilds ITS JVM's
    * qualifying shard graphs from their live rows (canonical id-sorted
    * build — bit-identical to a from-scratch graph on the live set) and,
    * for graphs carrying the i8 serve sidecar, always re-runs
    * [[ShardGraph.quantizeStore]] IN-TASK (dead rows' codes must not
    * carry over, and a driver-side [[quantizeWarmed]] pass would only
    * reach the calling JVM).
    *
    * Mapped (read-only) qualifying graphs refuse, as in [[upsertWarmed]]:
    * the rebuild yields a HEAP graph, and silently swapping a
    * store-mapped group's serve flavor under compaction would change the
    * serving posture behind the caller's back — restore `mapped = false`,
    * maintain, [[saveWarmed]], re-map. Per-graph calibration
    * ([[calibrateWarmed]]) does not carry over a rebuild; re-run it where
    * the group serves `Flavor.Auto`.
    *
    * EAGER (maintenance DDL, not a query): returns one already-computed
    * row per dispatched shard — (shard, task_part, n_compacted,
    * n_reclaimed, n_live) — with `task_part` the task partition that
    * processed the shard (HnswUpsertSpec gates the one-shard-per-task
    * dispatch shape on it). Throws if NO task found a warmed graph: a
    * silent no-op compaction would leave tombstones accumulating behind
    * a "done" return, the same loud-miss contract as delete.
    */
  def compactDispatched(spark: SparkSession, cacheKey: String,
                        nShards: Int): DataFrame = {
    require(cacheKey.nonEmpty,
      "compactDispatched needs the cacheKey the graphs were built under")
    import spark.implicits._
    val rows = dispatchShards(spark, 0 until nShards)
      .mapPartitions { it =>
        val out = collection.mutable.ArrayBuffer
          .empty[(Int, Int, Long, Long, Long, Long)]
        it.foreach { shard =>
          val part = org.apache.spark.TaskContext.getPartitionId()
          var found = 0L
          var nComp = 0L
          var reclaimed = 0L
          var live = 0L
          shardGroupIfPresent(cacheKey).foreach { group =>
            val p = s"$cacheKey|$shard|"
            val picked = {
              val b = Vector.newBuilder[(String, ShardGraph)]
              group.forEach((k, g) => if (k.startsWith(p)) b += ((k, g)))
              b.result()
            }
            picked.foreach { case (key, g) =>
              found += 1
              if (g.deletedCount > 0) {
                require(!g.isMapped,
                  s"warmed graph '$key' is mapped (read-only payload) — " +
                    "restore with mapped = false to compact, saveWarmed, " +
                    "then re-map for serving")
                val ng = g.compacted()
                if (g.i8Available) ng.quantizeStore()
                group.put(key, ng)
                reclaimed += g.deletedCount
                nComp += 1
                live += ng.liveSize
              } else live += g.liveSize
            }
          }
          out += ((shard, part, found, nComp, reclaimed, live))
        }
        out.iterator
      }
      .collect()
    require(rows.map(_._3).sum > 0,
      s"no warmed hnsw graphs under '$cacheKey' on any dispatched shard " +
        "task — warm the group (or run compaction where it is warmed) " +
        "before compacting")
    spark.createDataset(rows.toSeq.map(r => (r._1, r._2, r._4, r._5, r._6)))
      .toDF("shard", "task_part", "n_compacted", "n_reclaimed", "n_live")
  }

  private[graft] def cacheSize: Int = graphCache.synchronized {
    var n = 0
    graphCache.values.forEach(g => n += g.size)
    n
  }

  /** Hash-sharded search: every query hits every shard.
    *
    * base: (idCol, vecCol); queries: (qid, qvec). Returns
    * (qid, id, score, rank) — [[Ivf.search]]'s shape, same eval harness.
    *
    * `evalCounter`, when set, accumulates per-query distance computations
    * (build excluded) — the sub-linearity evidence HnswSpec gates.
    */
  def search(base: DataFrame, queries: DataFrame, k: Int,
             metric: Metric = Metric.Dot, m: Int = 16,
             efConstruction: Int = 100, efSearch: Int = 64,
             nShards: Int = 8, seed: Long = 42L, cacheKey: String = "",
             idCol: String = "id", vecCol: String = "vec",
             evalCounter: Option[LongAccumulator] = None): DataFrame = {
    val sharded = base.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
      pmod(xxhash64(col(idCol)), lit(nShards.toLong)).cast("int").as("shard"))
    shardedSearch(sharded, collectQueryRows(queries), k, metric, m,
      efConstruction, efSearch, nShards, seed, cacheKey, None, evalCounter)
  }

  /** Routed-shard search — the 100 TB flavor. The IVF coarse quantizer
    * doubles as the shard router: shard = nearest centroid, and each query
    * probes only its `routeProbe` nearest shards
    * (`Ivf.nearestCentroids`), so per-query cost is
    * routeProbe · log(shard size) · efSearch — independent of the shard
    * COUNT, exactly IVF's nprobe/nlist pruning applied to graph serving.
    * Recall is monotone in routeProbe with the full-probe point equal to
    * hash-sharding quality (HnswSpec gates both).
    */
  def searchRouted(base: DataFrame, queries: DataFrame,
                   centroids: Array[Array[Float]], routeProbe: Int, k: Int,
                   metric: Metric = Metric.Dot, m: Int = 16,
                   efConstruction: Int = 100, efSearch: Int = 64,
                   seed: Long = 42L, cacheKey: String = "",
                   idCol: String = "id", vecCol: String = "vec",
                   evalCounter: Option[LongAccumulator] = None): DataFrame = {
    val nShards = centroids.length
    val sharded = base.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
      Ivf.nearestCentroid(col(vecCol), centroids).as("shard"))
    // ONE query-batch collect feeds routing AND the search broadcast
    // (r18, guide §1.2 — this path ran two jobs over the same tiny
    // batch). Probe sets come from the SAME kernel the base-side router
    // expression evaluates (CentroidOps.topNprobe → topNprobeF), so
    // assignment semantics still match exactly.
    val qRows = collectQueryRows(queries)
    val np = math.min(routeProbe, centroids.length)
    val probeSets = qRows.map { case (qid, qv) =>
      qid -> graft.functions.expressions.CentroidOps
        .topNprobeF(qv, centroids, np).toSet
    }.toMap
    shardedSearch(sharded, qRows, k, metric, m, efConstruction, efSearch,
      nShards, seed, cacheKey, Some(probeSets), evalCounter)
  }

  /** The one canonical bounded-query-batch collect of the graph family
    * (r18): (qid, qvec) sorted by qid — shared by the routed, warm, and
    * build-path searches so each execution pays exactly one query job.
    */
  private def collectQueryRows(queries: DataFrame): Array[(Long, Array[Float])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
  }

  /** Collision-free shard→task dispatch for [[searchWarm]]: exactly one
    * probed shard per task, by POSITION (`parallelize`'s equal slicing),
    * not by hash — a hash `repartition(n, col("shard"))` can land two
    * probed shards in one task while another sits empty, and at
    * nShards ≫ routeProbe the routed tail then pays up to 2× on the
    * critical path for nothing. HnswSpec gates the one-shard-per-task
    * invariant via glom.
    */
  private[graft] def dispatchShards(spark: SparkSession,
                                    shards: Seq[Int]): Dataset[Int] = {
    import spark.implicits._
    spark.createDataset(
      spark.sparkContext.parallelize(shards, math.max(shards.size, 1)))
  }

  /** Warm-path search: drive one task per shard against the
    * already-built executor-cached graphs — the base table is NOT
    * re-read. [[search]]/[[searchRouted]] stream the base to locate (and
    * on a cold cache, build) the shard graphs; once warm, serving only
    * needs the graphs themselves, so the per-query cost is nShards
    * in-memory beam searches plus scheduler overhead — the latency number
    * `Eval.hnswSweep` and the 1M bench record. On a cluster this is the
    * executor-affinity serving pattern (each executor holds its shards'
    * graphs); a miss fails loudly rather than silently rebuilding.
    *
    * `centroids`+`routeProbe` turn on routed pruning: only the
    * routeProbe nearest shards search each query (shard ids ==
    * centroid indices, matching [[searchRouted]]'s router).
    *
    * `flavor` picks every shard walk's distance source ([[Flavor]]):
    * `I8` needs the sidecar on every served graph ([[quantizeWarmed]], or
    * a v2+ store) and fails loudly without it; `Auto` picks per graph.
    */
  def searchWarm(queries: DataFrame, cacheKey: String, nShards: Int, k: Int,
                 metric: Metric = Metric.Dot, m: Int = 16,
                 efConstruction: Int = 100, efSearch: Int = 64,
                 seed: Long = 42L,
                 centroids: Array[Array[Float]] = null, routeProbe: Int = 0,
                 evalCounter: Option[LongAccumulator] = None,
                 allowMissing: Boolean = false,
                 flavor: Flavor = Flavor.Contract): DataFrame = {
    require(cacheKey.nonEmpty, "searchWarm needs the cacheKey the graphs were built under")
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = collectQueryRows(queries)
    val qBc = spark.sparkContext.broadcast(qRows)
    val dim = if (qRows.isEmpty) 0 else qRows(0)._2.length
    // routes from the collected batch, driver-side, with the router
    // expression's own kernel — the former second collect job is gone
    // (r18; see searchRouted)
    val probeSets: Option[Map[Long, Set[Int]]] =
      if (centroids == null || routeProbe <= 0) None
      else {
        val np = math.min(routeProbe, centroids.length)
        Some(qRows.map { case (qid, qv) =>
          qid -> graft.functions.expressions.CentroidOps
            .topNprobeF(qv, centroids, np).toSet
        }.toMap)
      }
    val probeBc = spark.sparkContext.broadcast(probeSets)
    // static shard pruning (the warm twin of Ivf.search's static
    // partition pruning): the union of probed shards is driver-known
    // before any task launches, so non-probed shards never even get a
    // task — at nShards ≫ routeProbe×Q this is most of them
    val probedUnion = probeSets.map(_.values.flatten.toSet)
    val shardList: Seq[Int] =
      probedUnion.map(_.toSeq.sorted).getOrElse(0 until nShards)
    val scored = dispatchShards(spark, shardList)
      .mapPartitions { it =>
        val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var searched = 0L
        it.foreach { shard =>
          val key = s"$cacheKey|$shard|$dim|$m|$efConstruction|$seed|$metric"
          val group = shardGroupIfPresent(cacheKey)
          val g = group.map(_.get(key)).orNull
          if (g == null) group.foreach(requireGroupDim(_, dim, "hnsw search"))
          // allowMissing: an EMPTY router cell legitimately has no graph
          // anywhere (the build only materializes shards with base
          // rows); the store/route compositions opt in so a probed
          // empty shard contributes nothing instead of crashing. The
          // default stays the loud-miss contract — a missing graph
          // usually means the warm step never ran.
          require(g != null || allowMissing,
            s"no warmed hnsw graph for shard $shard under '$cacheKey' — " +
              "run Hnsw.search(base, ..., cacheKey) once to build")
          if (g != null) {
            val before = g.evals
            qBc.value.foreach { case (qid, qvec) =>
              if (probeBc.value.forall(_(qid).contains(shard)))
                g.search(qvec, k, efSearch, flavor).foreach { case (id, s) =>
                  out += ((qid, id, s))
                }
            }
            searched += g.evals - before
          }
        }
        evalCounter.foreach(_.add(searched))
        out.iterator
      }
      .toDF("qid", "id", "score")
    TopK.perGroup(scored, "qid", "id", "score", k, metric.larger)
  }

  /** In-process serving call for a JVM that holds the shard graphs (the
    * driver in local mode; an executor-embedded server at scale): search
    * the cached graphs DIRECTLY, no Spark job at all. This is the honest
    * answer to the single-query latency floor — `searchWarm`'s per-query
    * cost at 1M×384d is ~0.26 s of which the graph work is microseconds
    * (evals/query says so); the rest is job launch + task scheduling,
    * which Spark pays per QUERY BATCH, not per query. A serving deployment
    * amortizes it by batching (the ann_hnsw_batch point) or by calling the
    * graphs in-process like this. Results are identical to a
    * routeProbe=0 [[searchWarm]] over the same graphs: same beam search,
    * same [[TopKAggregator]] tie-break on the merge (HnswSpec gates it).
    *
    * `flavor` picks the walk's distance source ([[Flavor]], search only
    * — never builds). `I8` walks the beam over
    * the i8 sidecar ([[quantizeWarmed]] first) and exact-re-ranks the
    * live survivors — 4× fewer bytes per gathered row against a
    * DRAM-bound walk; also recall-gated, with exact returned scores.
    * `Auto` picks `I8` or `Contract` per graph ([[ShardGraph.autoI8]]).
    *
    * Returns (id, score) rows, best-first, ≤ k.
    */
  def searchLocal(qvec: Array[Float], cacheKey: String, nShards: Int, k: Int,
                  metric: Metric = Metric.Dot, m: Int = 16,
                  efConstruction: Int = 100, efSearch: Int = 64,
                  seed: Long = 42L,
                  centroids: Array[Array[Float]] = null,
                  routeProbe: Int = 0,
                  allowMissing: Boolean = false,
                  flavor: Flavor = Flavor.Contract): Array[(Long, Double)] = {
    val dim = qvec.length
    val group = shardGroupIfPresent(cacheKey).getOrElse(
      throw new IllegalStateException(
        s"no warmed hnsw graphs under '$cacheKey' in this JVM — " +
          "searchLocal serves a colocated cache only"))
    // visited in ascending shard order
    val probed: Array[Int] =
      if (centroids == null || routeProbe <= 0) Array.range(0, nShards)
      else {
        // same selection kernel as the distributed router (distinct ids)
        val picked = graft.functions.expressions.CentroidOps.topNprobeF(
          qvec, centroids, routeProbe)
        java.util.Arrays.sort(picked)
        picked
      }
    val agg = new TopKAggregator(k, metric.larger)
    val buf = agg.zero
    probed.foreach { shard =>
      val key = s"$cacheKey|$shard|$dim|$m|$efConstruction|$seed|$metric"
      val g = group.get(key)
      if (g == null) requireGroupDim(group, dim, "hnsw search")
      // allowMissing mirrors searchWarm's empty-router-cell semantics:
      // a probed but legitimately empty cell (the build only
      // materializes shards with base rows) contributes nothing; the
      // default stays the loud-miss contract
      require(g != null || allowMissing,
        s"no warmed hnsw graph for shard $shard under '$cacheKey'")
      if (g != null)
        g.search(qvec, k, efSearch, flavor).foreach { case (id, s) =>
          agg.consider(buf, id, s)
        }
    }
    // best-first by (Double.compare on the oriented score, id); a
    // comparator rather than tuple keys boxes nothing per comparison
    def oriented(s: Double) = if (metric.larger) -s else s
    Array.tabulate(buf.n)(i => (buf.ids(i), buf.scores(i))).sortWith { (x, y) =>
      val o = java.lang.Double.compare(oriented(x._2), oriented(y._2))
      o < 0 || (o == 0 && x._1 < y._1)
    }
  }

  /** Shared core: repartition to co-locate shards, build-or-fetch each
    * shard's graph in its task, search the broadcast query batch, merge
    * per-shard top-k map-side.
    */
  private def shardedSearch(sharded: DataFrame,
                            qRows: Array[(Long, Array[Float])], k: Int,
                            metric: Metric, m: Int, efC: Int, efS: Int,
                            nShards: Int, seed: Long, cacheKey: String,
                            probeSets: Option[Map[Long, Set[Int]]],
                            evalCounter: Option[LongAccumulator]): DataFrame = {
    val spark = sharded.sparkSession
    import spark.implicits._
    // query batch: bounded by contract (like every broadcast query side),
    // collected ONCE by the caller (collectQueryRows)
    val qBc = spark.sparkContext.broadcast(qRows)
    val probeBc = spark.sparkContext.broadcast(probeSets)

    val perShard = sharded.as[(Long, Array[Float], Int)]
      // one shuffle of the base per build; with a warm cacheKey the rows
      // only re-partition to locate their (already-built) shard graphs
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .mapPartitions { it =>
        val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var searched = 0L
        // consecutive runs of one shard (sorted) — group, build, search
        val buf = collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        var curShard = Int.MinValue
        def flush(): Unit = if (buf.nonEmpty) {
          val rows = buf.toArray
          buf.clear()
          // dim in the key comes from the BASE rows (the graph's own
          // property) — searchWarm reconstructs it from the query side,
          // which must match for the search to be well-formed at all
          val key = s"$cacheKey|$curShard|${rows(0)._2.length}|$m|$efC|$seed|$metric"
          val g =
            if (cacheKey.isEmpty) buildShard(rows, m, efC, seed, metric)
            else shardGroup(cacheKey).computeIfAbsent(key,
              _ => buildShard(rows, m, efC, seed, metric))
          val shardOf = curShard
          val before = g.evals
          qBc.value.foreach { case (qid, qvec) =>
            if (probeBc.value.forall(_(qid).contains(shardOf))) {
              g.search(qvec, k, efS).foreach { case (id, s) =>
                out += ((qid, id, s))
              }
            }
          }
          searched += g.evals - before
        }
        while (it.hasNext) {
          val (id, vec, shard) = it.next()
          if (shard != curShard) { flush(); curShard = shard }
          buf += ((id, vec))
        }
        flush()
        evalCounter.foreach(_.add(searched))
        out.iterator
      }
      .toDF("qid", "id", "score")
    TopK.perGroup(perShard, "qid", "id", "score", k, metric.larger)
  }
}

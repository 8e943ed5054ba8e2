package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic vector table in the TESTDATA embeddings shape
  * (id, vec: array<float>) at ARBITRARY scale — the driver testdata tops
  * out at 2k vectors, far below where ANN index invariants can break
  * (probe-pruning payoff, candidate sub-linearity, PQ compression
  * ratios), so the ANN scale gates build their own corpus.
  *
  * Cluster structure, all derived from seeded hashes (no RNG state, fully
  * reproducible, generated distributed — no driver loop): vector `i`
  * belongs to center `i mod nCenters`; each dimension is the center's
  * value plus per-vector noise. Coarse k-means therefore has real
  * structure to find, ground-truth neighbors concentrate inside clusters
  * (probing few lists CAN reach high recall — the property IVF sells),
  * and two vectors of one center are near-duplicates the LSH buckets
  * must catch.
  */
object SyntheticVectors {

  /** Uniform in [-1, 1] from a 64-bit hash (20001 buckets: exact in
    * doubles, no float-denormal edge cases).
    */
  private def u(h: org.apache.spark.sql.Column) =
    (pmod(h, lit(20001L)) - lit(10000L)).cast("double") / 10000.0

  /** Driver-side twin of [[u]] for plan-constant matrices: splitmix64
    * finalizer, then the same 20001-bucket fold to [-1, 1].
    */
  private def uLocal(x0: Long): Double = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a12905e02cb5L
    z ^= (z >>> 31)
    (java.lang.Math.floorMod(z, 20001L) - 10000L) / 10000.0
  }

  def table(spark: SparkSession, n: Long, dim: Int, nCenters: Int,
            noise: Double = 0.3, seed: Long = 42L): DataFrame = {
    require(n > 0 && dim > 0 && nCenters > 0)
    spark.range(n).select(col("id"),
      transform(sequence(lit(1), lit(dim)), d =>
        (u(xxhash64(pmod(col("id"), lit(nCenters.toLong)), d, lit(seed))) +
          u(xxhash64(col("id"), d, lit(seed + 1))) * noise).cast("float"))
        .as("vec"))
  }

  /** Unit-normalized corpus with LOW INTRINSIC DIMENSION: `x_i = A z_i /
    * |A z_i|` with `z_i` uniform in `[-1,1]^intrinsic` and `A` a fixed
    * seeded `dim × intrinsic` mixing matrix (a plan literal — no RNG
    * state, fully reproducible, generated distributed).
    *
    * Why this shape and not iid-uniform or a tight mixture — both were
    * measured and both make an ANN frontier degenerate, in opposite
    * directions:
    *
    *  - a mixture whose generative centers k-means can recover puts each
    *    query's entire top-k inside one inverted list → recall reads 1.0
    *    at every nprobe;
    *  - iid uniform in high dim has no neighbor contrast (distance
    *    concentration), and k-means centroids collapse toward the mean —
    *    at 1M×384d the 8 nearest lists held ~80% of the corpus, so
    *    "probe cost ∝ nprobe/nlist" fails even though recall climbs.
    *
    * Real embedding tables are neither: they concentrate near a
    * low-dimensional manifold. Restricting the data to an
    * `intrinsic`-dim subspace restores genuine nearest-neighbor
    * contrast (k-means cells partition the manifold into near-balanced
    * cells; a query's top-k straddles a few adjacent cells, so recall
    * climbs with nprobe without saturating at 1) and gives sign-LSH real
    * angular structure. Normalizing to unit length makes Dot ≡ Cosine ≡
    * monotone-in-L2, so the Euclidean k-means probe and a dot-product
    * ground truth rank identically — no metric-mismatch artifacts in
    * the recorded frontier.
    */
  /** Unit-normalized iid corpus — FULL intrinsic dimension, the opposite
    * end of the hardness spectrum from [[lowRank]]: every direction
    * carries equal variance, distances concentrate, nearest-neighbor
    * margins shrink toward zero. k-means collapses on it (documented in
    * [[lowRank]] — never use this for IVF cost axes), but that is exactly
    * what makes it the HARD corpus for graph-ANN frontiers: beam search
    * must separate near-ties, so recall@efSearch bends below 1.0 the way
    * the reference's HNSW curve does (0.8773@16 → 0.9982@256,
    * `Performance.md:452-456`) instead of reading 1.0 everywhere.
    * O(dim) per row — no mixing matrix, cheap at any scale.
    */
  def iidUnit(spark: SparkSession, n: Long, dim: Int,
              seed: Long = 42L): DataFrame = {
    require(n > 0 && dim > 0)
    spark.range(n)
      .select(col("id"),
        transform(sequence(lit(1), lit(dim)), d =>
          u(xxhash64(col("id"), d, lit(seed)))).as("x"))
      .select(col("id"), col("x"),
        sqrt(aggregate(col("x"), lit(0.0d), (acc, e) => acc + e * e)).as("nrm"))
      .select(col("id"),
        transform(col("x"), e => (e / greatest(col("nrm"), lit(1e-12d)))
          .cast("float")).as("vec"))
  }

  /** JVM-loop twin of [[lowRank]] for larger intrinsic dims. The SQL
    * flavor nests `aggregate` inside `transform` — dim × intrinsic
    * expression-tree steps per row — which leaves whole-stage codegen
    * (nested higher-order functions don't compile) and interprets at
    * ~µs/element: at 1M×384d×intrinsic=32 that is HOURS. This generator
    * computes the same structure (fixed seeded mixing matrix × per-row
    * uniform z, unit-normalized) in a tight loop: seconds at 1M.
    * Deterministic like everything here (splitmix64 per (seed, id, j));
    * NOT bit-compatible with [[lowRank]]'s draw — use one flavor per
    * corpus key (the lr8 corpus predates this and stays on [[lowRank]]).
    */
  def lowRankFast(spark: SparkSession, n: Long, dim: Int, intrinsic: Int,
                  seed: Long = 42L): DataFrame = {
    require(n > 0 && dim > 0 && intrinsic > 0 && intrinsic <= dim)
    val mix: Array[Array[Double]] = Array.tabulate(dim, intrinsic)((d, j) =>
      uLocal(seed * 0x51_7c_c1b7L + d.toLong * intrinsic + j))
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        val z = Array.tabulate(intrinsic)(j =>
          uLocal(id * 1000003L + j.toLong * 7919L + seed * 0x9e3779b9L))
        val x = new Array[Double](dim)
        var nrm2 = 0.0
        var d = 0
        while (d < dim) {
          val row = mix(d)
          var acc = 0.0
          var j = 0
          while (j < intrinsic) { acc += row(j) * z(j); j += 1 }
          x(d) = acc; nrm2 += acc * acc
          d += 1
        }
        val inv = 1.0 / math.max(math.sqrt(nrm2), 1e-12)
        (id, x.map(v => (v * inv).toFloat))
      }
    }.toDF("id", "vec")
  }

  def lowRank(spark: SparkSession, n: Long, dim: Int, intrinsic: Int = 8,
              seed: Long = 42L): DataFrame = {
    require(n > 0 && dim > 0 && intrinsic > 0 && intrinsic <= dim)
    val mix: Seq[Seq[Double]] = Seq.tabulate(dim, intrinsic)((d, j) =>
      uLocal(seed * 0x51_7c_c1b7L + d.toLong * intrinsic + j))
    val a = typedLit(mix)
    spark.range(n)
      .select(col("id"),
        transform(sequence(lit(1), lit(intrinsic)), j =>
          u(xxhash64(col("id"), j, lit(seed)))).as("z"))
      .select(col("id"),
        transform(sequence(lit(1), lit(dim)), d =>
          aggregate(sequence(lit(1), lit(intrinsic)), lit(0.0d), (acc, j) =>
            acc + element_at(element_at(a, d), j) * element_at(col("z"), j)))
          .as("x"))
      .select(col("id"), col("x"),
        sqrt(aggregate(col("x"), lit(0.0d), (acc, e) => acc + e * e)).as("nrm"))
      .select(col("id"),
        transform(col("x"), e => (e / greatest(col("nrm"), lit(1e-12d)))
          .cast("float")).as("vec"))
  }
}

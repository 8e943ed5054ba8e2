package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.ops.{Ivf, Kmeans, Pq}
import graft.tools.SyntheticVectors

/** The driver Lloyd trainer behind Ivf.train and Pq.train (see Kmeans's
  * Scaladoc): run-to-run determinism (the property the seeded index
  * oracles contract on), centroids bitwise equal to digests pinned from
  * the trainer the cached index artifacts were built with, one Spark job
  * per fit, no empty clusters after the FAISS-style re-seed, the Hamerly
  * skip's exactness (same assignments as a full rescan), and k-means++
  * seeding beating a uniform draw on spread-sensitive data.
  */
class KmeansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private def synth(n: Int, dim: Int, seed: Long) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextFloat() * 4 - 2))
    (0 until n).map { i =>
      val c = centers(i % 8)
      c.map(x => x + (rng.nextFloat() - 0.5f) * 0.2f)
    }.toDF("vec")
  }

  /** 20K uniform 12-d points (seed 31), the fold-shape cases' input. */
  private def uniform20k = {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    (0 until 20000).map(_ => Array.fill(12)(rng.nextFloat())).toDF("vec")
  }

  /** 24K points around 24 planted centers, every 7th an exact duplicate
    * of its center: near-tie pressure on the Hamerly bounds.
    */
  private def hamerlyPoints: IndexedSeq[Array[Float]] = {
    val rng = new scala.util.Random(47)
    val centers = Array.fill(24)(Array.fill(16)(rng.nextFloat() * 4 - 2))
    (0 until 24000).map { i =>
      val c = centers(i % 24)
      if (i % 7 == 0) c.clone() // exact duplicates: tie pressure
      else c.map(x => x + (rng.nextFloat() - 0.5f) * 0.3f)
    }
  }

  /** First 8 bytes of SHA-256 over the centroids' float bits, row-major. */
  private def digest(m: Array[Array[Float]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(4)
    m.foreach(_.foreach { x =>
      bb.clear(); bb.putInt(java.lang.Float.floatToRawIntBits(x)); md.update(bb.array())
    })
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  test("fit is deterministic run-to-run (bitwise centroids)") {
    val df = synth(2000, 24, seed = 3)
    val a = Kmeans.fit(df, k = 16, seed = 7L, maxIter = 5)
    val b = Kmeans.fit(df, k = 16, seed = 7L, maxIter = 5)
    assert(a.length == 16 && b.length == 16)
    a.zip(b).foreach { case (ca, cb) =>
      assert(ca.sameElements(cb), "same seed+input must give bitwise-equal centroids")
    }
    val c = Kmeans.fit(df, k = 16, seed = 8L, maxIter = 5)
    assert(!a.zip(c).forall { case (x, y) => x.sameElements(y) },
      "different seed should draw a different init")
  }

  test("clusters the planted mixture: low quantization error, no empties") {
    import spark.implicits._
    val df = synth(4000, 24, seed = 5).cache()
    val cents = Kmeans.fit(df, k = 8, seed = 42L, maxIter = 10)
    val rows = df.as[Array[Float]].collect()
    val assign = rows.map { v =>
      cents.zipWithIndex.minBy { case (c, _) =>
        graft.functions.expressions.VectorKernels.l2Sq(v, c) }._2
    }
    assert(assign.distinct.length == 8, "an empty cluster survived training")
    val mse = rows.zip(assign).map { case (v, a) =>
      graft.functions.expressions.VectorKernels.l2Sq(v, cents(a)) }.sum / rows.length
    // planted noise is U(-0.1, 0.1)^24: per-dim var 0.1^2/3 → mse ≈ 0.08.
    // A collapsed/degenerate fit reads the between-center variance (≈ 4².)
    assert(mse < 0.2, s"quantization error $mse says the mixture was not recovered")
  }

  test("distributed large-k path (k >= 256) is deterministic and covers all clusters") {
    import spark.implicits._
    // k = 256 skips the small-sample restarts and takes the content-hash
    // uniform init — the exact path the 1M nlist=1024 build runs
    val rng = new scala.util.Random(11)
    val df = (0 until 20000).map(_ => Array.fill(12)(rng.nextFloat())).toDF("vec").cache()
    val a = Kmeans.fit(df, k = 256, seed = 5L, maxIter = 3)
    val b = Kmeans.fit(df, k = 256, seed = 5L, maxIter = 3)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "large-k path not deterministic run-to-run")
    assert(a.length == 256 && a.forall(_ != null))
    df.unpersist()
  }

  test("two-level combine path (> 8 sample partitions) is deterministic run-to-run") {
    import spark.implicits._
    // > combineGroupSize partitions forces the two-level group fold;
    // k >= 256 takes the seeded single-run Lloyd. The association tree is
    // a pure function of the partition layout, so two runs over the SAME
    // layout must be bitwise identical.
    val rng = new scala.util.Random(23)
    val df = (0 until 20000).map(_ => Array.fill(12)(rng.nextFloat()))
      .toDF("vec").repartition(20).cache()
    df.count()
    val a = Kmeans.fit(df, k = 256, seed = 5L, maxIter = 3)
    val b = Kmeans.fit(df, k = 256, seed = 5L, maxIter = 3)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "two-level combine not deterministic run-to-run")
    assert(a.length == 256 && a.forall(_ != null))
    df.unpersist()
  }

  test("centroids equal the pinned trainer digests, bitwise") {
    // fold shapes, mid-size k, Hamerly, stable stop, local restarts,
    // Ivf.train at the perfbench shape, Pq.train ksub 256
    import spark.implicits._
    // Digests of the trainer that built every cached t6 artifact (the
    // sidecar oracles and target/ivf_cache files depend on these bits),
    // recorded by running this case's fits on that trainer. Re-derive
    // only with a trainer tag bump: a mismatch means the centroids moved.
    val u = uniform20k.cache()
    // every mismatch is reported with its new digest, so a run on the
    // trainer being pinned prints the whole table at once
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(name: String, cents: Array[Array[Float]], want: String): Unit = {
      val got = digest(cents)
      if (got != want) moved += s"$name: $got (pinned $want)"
    }
    // flat (<= 8 partitions) and two-level (> 8) fold trees
    check("flat fold, maxParts 4",
      Kmeans.fit(u, k = 256, seed = 5L, maxIter = 3, maxParts = 4), "7b62df880449570c")
    check("two-level fold, maxParts 20",
      Kmeans.fit(u, k = 256, seed = 5L, maxIter = 3, maxParts = 20), "7b62df880449570c")
    // k < 256 above the local bound: k-means++ over a 4096-row hash draw
    check("mid-size k 64", Kmeans.fit(u, k = 64, seed = 5L, maxIter = 3), "54e204199b09c558")
    u.unpersist()
    check("Hamerly 24K, 12 iterations",
      Kmeans.fit(hamerlyPoints.toDF("vec"), k = 256, seed = 11L, maxIter = 12),
      "d0fda53577706c72")
    check("stableFrac 0.5 stop",
      Kmeans.fit(synth(20000, 24, seed = 9), k = 256, seed = 5L, maxIter = 12,
        stableFrac = 0.5), "25d4bc3970f0942a")
    if (Kmeans.lastRunIters.get() != 2)
      moved += s"stableFrac 0.5 stop: ${Kmeans.lastRunIters.get()} iterations (pinned 2)"
    check("local restarts (fit)",
      Kmeans.fit(synth(2000, 24, seed = 3), k = 16, seed = 7L, maxIter = 5), "3329aca525358ad4")
    val rng = new scala.util.Random(21)
    val pts = Array.fill(600)(Array.fill(5)(rng.nextFloat()))
    check("local restarts (fitLocal, recall selection)",
      Kmeans.fitLocal(pts, k = 16, seed = 4L, selectByRecall = true), "fd6edc3dfd9cf6a1")
    // the perfbench ann_lifecycle shape: nlist 256 over 16,384 × 32 points
    val lr = SyntheticVectors.lowRankFast(spark, 16384L, 32, intrinsic = 16).cache()
    check("Ivf.train nlist 256, 16384 x 32",
      Ivf.train(lr, nlist = 256, ntrain = 16384, seed = 1001L), "31a2510d5598cb3d")
    val books = Pq.train(lr, m = 4, ksub = 256, ntrain = 4096, seed = 3L)
    Seq("685610777841f726", "d5432c41bec41fa5", "718b85bd97aee81d", "70df7bda21d39ca8")
      .zipWithIndex.foreach { case (want, s) =>
        check(s"Pq.train ksub 256, sub-codebook $s", books(s), want)
      }
    lr.unpersist()
    assert(moved.isEmpty, moved.mkString("centroids moved:\n", "\n", ""))
  }

  test("one Kmeans.fit at k=256, n=20K submits at most 2 Spark jobs") {
    // the sample is laid out and collected once; every Lloyd iteration
    // runs on the driver
    val u = uniform20k
    val jobs = SparkJobs.of(spark)(Kmeans.fit(u, k = 256, seed = 5L, maxIter = 3))
    assert(jobs.length <= 2, s"fit submitted ${jobs.length} jobs")
  }

  test("Hamerly skip path == full-rescan trainer, bitwise (many iterations)") {
    // The skip test (u < l after directed-rounding adjustments) certifies
    // a strictly-unique argmin, so assignments — and the folded centroids —
    // must be BITWISE identical to the reference that rescans every point
    // every iteration. Planted mixture + exact duplicate points keep
    // near-tie pressure on the bounds; maxIter high enough that late
    // iterations are dominated by skips (the path under test); 20
    // partitions take the two-level fold.
    val pts = hamerlyPoints.toArray
    val parts = Array.tabulate(20)(p => pts.indices.filter(_ % 20 == p).map(pts).toArray)
    val init = Array.tabulate(256)(i => pts(i * 93))
    val (fast, fastIters) = Kmeans.lloyd(parts, init, seed = 11L, maxIter = 12, tol = 1e-4)
    val (slow, slowIters) = Kmeans.lloyd(parts, init, seed = 11L, maxIter = 12, tol = 1e-4,
      hamerly = false)
    assert(fastIters == slowIters)
    assert(fast.zip(slow).forall { case (x, y) => x.sameElements(y) },
      "Hamerly-skip trainer diverged from the full-rescan trainer")
  }

  test("assignment-stability early stop == full trainer at the stop " +
    "iteration, bitwise; off by default") {
    import spark.implicits._
    // k = 256 takes the single seeded Lloyd run, where the stability
    // counter lives. stableFrac=0.5 fires as soon as under half the sample
    // changes assignment — early, so the gate exercises a genuine mid-run
    // stop.
    val df = synth(20000, 24, seed = 9)
    val stopped = Kmeans.fit(df, k = 256, seed = 5L, maxIter = 12,
      stableFrac = 0.5)
    val iters = Kmeans.lastRunIters.get()
    assert(iters > 0 && iters < 12, s"early stop never fired (iters=$iters)")
    // stopping must be the ONLY difference: the full trainer capped at
    // the same iteration count produces bitwise-identical centroids
    val capped = Kmeans.fit(df, k = 256, seed = 5L, maxIter = iters)
    assert(stopped.length == capped.length)
    assert(stopped.zip(capped).forall { case (x, y) => x.sameElements(y) },
      "early-stopped centroids diverge from the iteration-capped trainer")
    // and stableFrac=0 (the default) keeps running past the stability
    // point (it can still stop on the movement tol, which is unchanged)
    val full = Kmeans.fit(df, k = 256, seed = 5L, maxIter = 12)
    assert(Kmeans.lastRunIters.get() >= iters,
      "default run stopped before the stability point")
    assert(full.length == 256)
  }

  test("k-means++ seeding spreads over a uniform draw (planted far cluster)") {
    // 31 tight points + 1 far outlier cluster: uniform seeding misses the
    // outlier with high probability; D² seeding must pick it
    val pts = Array.fill(31)(Array.fill(8)(0.0f + util.Random.nextFloat() * 0.01f)) :+
      Array.fill(8)(50.0f)
    val picked = Kmeans.kmeansPlusPlus(pts, k = 2, seed = 1L)
    assert(picked.exists(_.exists(_ > 25f)),
      "k-means++ failed to seed the distant mass")
  }
}

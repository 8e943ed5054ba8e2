package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.io.QuantizedTables
import graft.ops.{Ivf, Kmeans, Pq}

/** The index set-up path does each piece of work once and in parallel,
  * with every artifact bitwise what the sequential path built:
  *  - `Pq.train`'s concurrent sub-fits equal a sequential per-subspace
  *    `Kmeans.fit` loop, on the small-sample path and both seeded-Lloyd ones;
  *  - one coarse quantizer per key, trained once whichever builder runs
  *    first, and equal to a fresh `Ivf.train`;
  *  - the clustered pq4 writer runs `defaultParallelism` write tasks and
  *    still leaves one file per cell;
  *  - partition discovery of a 256-cell table runs on the driver, not in
  *    a job with a task per cell directory.
  */
class BuildPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  /** (id, vec) rows with dense positional ids around 8 seeded centers. */
  private def vectors(n: Int, dim: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextFloat() * 4 - 2))
    (0 until n).map { i =>
      (i.toLong, centers(rng.nextInt(8)).map(x => x + (rng.nextFloat() - 0.5f) * 0.5f))
    }.toDF("id", "vec").repartition(3)
  }

  /** The per-subspace trainer as it ran before the sub-fits went
    * concurrent: one `Kmeans.fit` per subspace, in order.
    */
  private def sequentialTrain(base: DataFrame, m: Int, ksub: Int, ntrain: Int,
                              seed: Long): Pq.Codebooks = {
    val sample = Ivf.trainSample(base, ntrain, "id").select(col("vec")).cache()
    try {
      val dim = sample.select(size(col("vec"))).head().getInt(0)
      val dsub = dim / m
      (0 until m).map { s =>
        val sub = sample.select(slice(col("vec"), s * dsub + 1, dsub).as("vec"))
        Kmeans.fit(sub, ksub, seed + s, maxIter = 15)
      }.toArray
    } finally sample.unpersist()
  }

  private def bits(m: Array[Array[Float]]): Seq[Seq[Int]] =
    m.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))

  private def assertBitwise(got: Pq.Codebooks, want: Pq.Codebooks): Unit = {
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), s) =>
      assert(bits(g) == bits(w), s"sub-codebook $s differs from the sequential trainer's")
    }
  }

  test("Pq.train == the sequential per-subspace trainer, driver-local path " +
    "(ksub 16, n <= 16384, dsub 5)") {
    val base = vectors(3000, 20, seed = 11)
    assert(Kmeans.localEligible(16, 2500))
    assertBitwise(Pq.train(base, m = 4, ksub = 16, ntrain = 2500, seed = 5L),
      sequentialTrain(base, m = 4, ksub = 16, ntrain = 2500, seed = 5L))
  }

  test("Pq.train == the sequential per-subspace trainer, distributed k >= 256 " +
    "(ksub 256, dsub 6)") {
    val base = vectors(2048, 12, seed = 12)
    assert(!Kmeans.localEligible(256, 2048))
    assertBitwise(Pq.train(base, m = 2, ksub = 256, ntrain = 2048, seed = 9L),
      sequentialTrain(base, m = 2, ksub = 256, ntrain = 2048, seed = 9L))
  }

  test("Pq.train == the sequential per-subspace trainer, distributed k < 256 " +
    "(ksub 16, n > 16384, dsub 3)") {
    val base = vectors(16500, 6, seed = 13)
    assert(!Kmeans.localEligible(16, 16500))
    assertBitwise(Pq.train(base, m = 2, ksub = 16, ntrain = 16500, seed = 3L),
      sequentialTrain(base, m = 2, ksub = 16, ntrain = 16500, seed = 3L))
  }

  test("Kmeans.fitLocal is a function of the point multiset, not its order") {
    val rng = new scala.util.Random(21)
    val pts = Array.fill(600)(Array.fill(5)(rng.nextFloat()))
    val a = Kmeans.fitLocal(pts, k = 16, seed = 4L)
    val b = Kmeans.fitLocal(rng.shuffle(pts.toSeq).toArray, k = 16, seed = 4L)
    assert(bits(a) == bits(b))
  }

  /** Trains counted by [[Ivf.coarse]] while `body` runs. */
  private def coarseTrainsOf[T](body: => T): (T, Int) = {
    val before = Ivf.coarseTrains.get()
    val r = body
    (r, Ivf.coarseTrains.get() - before)
  }

  private def deleteArtifacts(paths: String*): Unit = paths.foreach { p =>
    val f = new java.io.File(p)
    if (f.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(f)
    else f.delete()
  }

  for (ivfFirst <- Seq(true, false)) {
    val order = if (ivfFirst) "IVF first, then pq4" else "pq4 first, then IVF"
    test(s"one coarse quantizer per key, trained once ($order), " +
      "bitwise a fresh Ivf.train") {
      val base = vectors(2000, 16, seed = 31)
      // unique per run: the sidecars persist on disk across JVMs
      val key = s"buildpathspec-$ivfFirst-${System.nanoTime()}"
      def ivf() = Ivf.buildOrGet(spark, base, key, nlist = 8, ntrain = 2000, seed = 7L)
      def pq4() = Pq.buildOrGetIvf4(spark, base, key, nlist = 8, m4 = 4,
        ntrain = 2000, seed = 7L)
      val ((ivfIdx, pq4Idx), trains) = coarseTrainsOf {
        if (ivfFirst) { val i = ivf(); (i, pq4()) }
        else { val p = pq4(); (ivf(), p) }
      }
      try {
        assert(trains == 1, s"coarse quantizer trained $trains times")
        val fresh = Ivf.train(base, nlist = 8, ntrain = 2000, seed = 7L)
        assert(bits(ivfIdx.centroids) == bits(fresh))
        assert(bits(pq4Idx.coarse) == bits(fresh))
        val onDisk = Ivf.loadMatrix(s"${pq4Idx.path}.coarse.bin").get
        assert(bits(onDisk) == bits(fresh))
      } finally deleteArtifacts(ivfIdx.clusteredPath, s"${ivfIdx.clusteredPath}.centroids.bin",
        pq4Idx.path, s"${pq4Idx.path}.coarse.bin", s"${pq4Idx.path}.books.bin")
    }
  }

  private def jobsOf(body: => Unit): Seq[Int] = SparkJobs.of(spark)(body)

  private def parquetFiles(dir: java.io.File): Int =
    dir.listFiles().count(_.getName.endsWith(".parquet"))

  test("clustered pq4 writer: defaultParallelism write tasks on a sub-MB " +
    "input, one file per cell, rows equal to a single-partition write") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    // 1,000 rows of 8 nibble codes (< 1 MB): cell 0 takes 400 rows (four
    // 128-row blocks, the last ragged), cells 1-5 share the rest
    val rows = (0 until 1000).map { i =>
      val cell = if (i % 5 < 2) 0 else 1 + rng.nextInt(5)
      (i.toLong, cell, Array.fill(8)(rng.nextInt(16).toByte))
    }.toDF("id", "cluster_id", "codes")
    val tmp = java.nio.file.Files.createTempDirectory("pq4_writer").toString
    val par = spark.sparkContext.defaultParallelism
    val writeJobs = jobsOf {
      QuantizedTables.writePq4BlockedClustered(rows.repartition(3), s"$tmp/spread")
    }
    assert(writeJobs.nonEmpty && writeJobs.last == par,
      s"write ran ${writeJobs.lastOption} tasks, want $par (jobs: $writeJobs)")
    QuantizedTables.writePq4BlockedClustered(rows.coalesce(1), s"$tmp/single")
    def stored(path: String) = {
      val cells = new java.io.File(path).listFiles().filter(_.getName.startsWith("cluster_id="))
      assert(cells.length == 6)
      cells.foreach(c => assert(parquetFiles(c) == 1, s"${c.getName} holds several files"))
      spark.read.parquet(path).select("cluster_id", "ids", "codes")
        .as[(Int, Array[Long], Array[Byte])].collect()
        .map { case (c, ids, b) => (c, ids.toSeq, b.toSeq) }.sortBy(r => (r._1, r._2.head)).toSeq
    }
    val spread = stored(s"$tmp/spread")
    assert(spread.count(_._1 == 0) == 4, "cell 0 must span four blocks")
    assert(spread.map(_._2.length).sum == 1000)
    assert(spread == stored(s"$tmp/single"))
  }

  test("reading a 256-cell clustered table lists its directories on the driver") {
    val tmp = java.nio.file.Files.createTempDirectory("listing").toString
    spark.range(512).withColumn("cluster_id", col("id") % 256)
      .repartition(4, col("cluster_id"))
      .write.partitionBy("cluster_id").parquet(tmp + "/t")
    val jobs = jobsOf { spark.read.parquet(tmp + "/t") }
    // the one job left is parquet's schema inference, a one-task footer
    // read; a listing job would run one task per cell directory
    assert(jobs == Seq(1), s"reading the table submitted jobs with these task counts: $jobs")
  }
}

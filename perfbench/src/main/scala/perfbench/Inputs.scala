package perfbench

import java.io._
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.{SyntheticCorpus, SyntheticVectors}

/** Seeded workload inputs, generated before set-up and cached per seed
  * under the inputs directory, so a repeated seed skips the generation and
  * the ground truth. Only the generated tables reach the engine.
  */
object Inputs {

  /** A vector corpus: one table of lowRankFast points whose id ranges are the base
    * and the held-out draws (queries, appended batches), plus the exact
    * top-`depth` of every query over every id segment.
    */
  final case class Vectors(dir: String, n: Int,
                           queries: Array[Array[Float]],
                           truth: Array[Array[Array[(Long, Double)]]]) {
    /** All generated rows: (id, vec) parquet. */
    def table(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/rows")
    def base(spark: SparkSession): DataFrame = table(spark).filter(col("id") < n)
  }

  val Depth = 20
  val GeometrySeed = 42L

  private def done(dir: String) = new File(s"$dir/_DONE").isFile

  /** Generate (or load) `n` base rows plus held-out rows. `queryIds` are
    * the held-out ids whose vectors become queries; `segments` splits the
    * searched ids into ranges [s(i), s(i+1)) whose top-`Depth` lists are
    * kept separately, so the truth over base ∪ any prefix of appended
    * batches is a merge of cached lists.
    */
  def vectors(spark: SparkSession, parent: String, seed: Long, n: Int,
              total: Int, dim: Int, intrinsic: Int, queryIds: Array[Long],
              segments: Array[Long]): Vectors = {
    val dir = s"$parent/vectors-$n-$total-$dim-$intrinsic"
    if (!done(dir)) {
      // One point set for every seed (fixed mixing matrix and draws); the
      // seed orders it, so each seed splits it differently into base,
      // queries and appended batches. Ids are dense and positional in that
      // order, as the index trainers require.
      import spark.implicits._
      val points = SyntheticVectors.lowRankFast(spark, total, dim, intrinsic, GeometrySeed)
        .as[(Long, Array[Float])].collect()
        .sortBy { case (id, _) => (splitmix(id ^ (seed * 0x9e3779b97f4a7c15L)), id) }
        .map(_._2)
      points.indices.map(i => (i.toLong, points(i))).toDF("id", "vec")
        .write.mode("overwrite").parquet(s"$dir/rows")
      val queries = queryIds.map(i => points(i.toInt))
      writeVectors(dir, queries, groundTruth(points, queries, segments))
      Files.write(Paths.get(s"$dir/_DONE"), Array[Byte]())
    }
    val (queries, truth) = readVectors(dir)
    Vectors(dir, n, queries, truth)
  }

  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a12905e02cb5L
    z ^ (z >>> 31)
  }

  /** Brute-force top-`Depth` per (query, segment) with the benchmark's own
    * double-accumulation kernel, queries in parallel on the driver.
    */
  private def groundTruth(points: Array[Array[Float]], queries: Array[Array[Float]],
                          segments: Array[Long]): Array[Array[Array[(Long, Double)]]] = {
    val dim = queries(0).length
    val segs = (0 until segments.length - 1).map { s =>
      val lo = segments(s).toInt
      val hi = segments(s + 1).toInt
      val flat = new Array[Float]((hi - lo) * dim)
      (lo until hi).foreach(i => System.arraycopy(points(i), 0, flat, (i - lo) * dim, dim))
      (flat, Array.tabulate(hi - lo)(i => (lo + i).toLong))
    }
    val out = new Array[Array[Array[(Long, Double)]]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      out(qi) = segs.map { case (flat, ids) =>
        Stats.topKDot(flat, ids, dim, queries(qi), Depth) }.toArray
    }
    out
  }

  private def writeVectors(dir: String, queries: Array[Array[Float]],
                           truth: Array[Array[Array[(Long, Double)]]]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(s"$dir/truth.bin")))
    try {
      out.writeInt(queries.length); out.writeInt(queries(0).length)
      queries.foreach(_.foreach(out.writeFloat))
      out.writeInt(truth(0).length)
      truth.foreach(_.foreach { l =>
        out.writeInt(l.length)
        l.foreach { case (id, s) => out.writeLong(id); out.writeDouble(s) }
      })
    } finally out.close()
  }

  private def readVectors(dir: String)
      : (Array[Array[Float]], Array[Array[Array[(Long, Double)]]]) = {
    val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(s"$dir/truth.bin")))
    try {
      val nq = in.readInt(); val dim = in.readInt()
      val queries = Array.fill(nq, dim)(in.readFloat())
      val nSeg = in.readInt()
      val truth = Array.fill(nq, nSeg) {
        Array.fill(in.readInt())((in.readLong(), in.readDouble()))
      }
      (queries, truth)
    } finally in.close()
  }

  /** Near-duplicate documents: one fixed generator corpus of `target`
    * documents in families of `familySize`, written in an order drawn from
    * the seed. The duplicate graph, and with it the connected-components
    * iteration count that sets a pass's time, is the same for every seed:
    * drawing a seeded subset of the families moved that count between 3
    * and 5 from seed to seed.
    */
  def documents(spark: SparkSession, parent: String, seed: Long, target: Int,
                familySize: Int): String = {
    val dir = s"$parent/docs-$target-$familySize"
    if (!done(dir)) {
      SyntheticCorpus.documents(spark, target, familySize)
        .orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/docs")
      Files.write(Paths.get(s"$dir/_DONE"), Array[Byte]())
    }
    s"$dir/docs"
  }
}

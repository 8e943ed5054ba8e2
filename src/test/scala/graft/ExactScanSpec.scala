package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.functions.VectorFunctions
import graft.io.QuantizedTables
import graft.ops.{Metric, Search, TopK}

/** Every exact flat-scan layout against the cross-join oracle
  * ([[Search.exactTopK]] for f32, its per-pair-kernel twin for f16/i8):
  * same (qid, id, rank) rows and bitwise-equal scores. The data carries
  * the regimes the fixtures never reach: exact score ties (duplicate
  * vectors under fresh ids, cut at the lowest id), k above the row count,
  * empty partitions, and a null-vector row that must never be returned.
  */
class ExactScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private val dim = 20
  private val nRows = 200
  private val nullId = 999L
  private val dupIds = 1000L to 1004L // copies of row 7's vector
  private val kTie = 3
  private val kAll = 250 // above the 205 non-null rows

  private lazy val vecs: Map[Long, Array[Float]] = {
    val rng = new scala.util.Random(17)
    val rows = (0L until nRows).map(i => i -> Array.fill(dim)(rng.nextFloat() * 2 - 1)).toMap
    rows ++ dupIds.map(_ -> rows(7L).clone())
  }

  /** Pads `df` with three empty partitions. */
  private def withEmptyParts(df: DataFrame): DataFrame =
    df.union(spark.createDataFrame(spark.sparkContext.parallelize(Seq.empty[Row], 3), df.schema))

  private lazy val base: DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false))))
    val rows = vecs.toSeq.map { case (id, v) => Row(id, v.toSeq) } :+ Row(nullId, null)
    withEmptyParts(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
  }

  // qid 0 is row 7's vector: it ties exactly with ids 1000–1004
  private lazy val queries: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    (Seq(vecs(7L), vecs(13L), vecs(42L)) ++ Seq.fill(3)(Array.fill(dim)(rng.nextFloat() * 2 - 1)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("qid", "qvec")
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long, Int, Long)] =
    df.select("qid", "id", "rank", "score").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  /** The scan must equal the oracle at both k, cut the qid-0 tie group
    * at its lowest ids, and never return the null-vector row.
    */
  private def checkParity(name: String, oracle: Int => DataFrame,
                          scan: Int => DataFrame): Unit =
    for (k <- Seq(kTie, kAll)) {
      val want = rowsOf(oracle(k))
      val got = rowsOf(scan(k))
      assert(got == want, s"$name k=$k diverged from the oracle: " +
        s"missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
      assert(!got.exists(_._2 == nullId), s"$name k=$k returned the null-vector row")
      val perQuery = got.groupBy(_._1).map { case (q, rs) => q -> rs.size }
      assert(perQuery == (0L until 6L).map(_ -> math.min(k, vecs.size)).toMap,
        s"$name k=$k row counts $perQuery")
      if (k == kTie)
        assert(got.filter(_._1 == 0L).toSeq.sortBy(_._3).map(_._2) == Seq(7L, 1000L, 1001L),
          s"$name: the exact tie at qid 0 was not cut at the lowest ids")
    }

  /** Per-pair-kernel cross-join twin of [[Search.exactTopK]] (dot only). */
  private def bnlj(table: DataFrame, score: Column, k: Int): DataFrame =
    TopK.perGroup(table.crossJoin(broadcast(queries))
      .select(col("qid"), col("id").as("gid"), score.as("score")),
      "qid", "gid", "score", k, larger = true)

  test("the padded inputs really hold empty partitions") {
    assert(base.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0) >= 3)
  }

  test("f32 flat scan == exactTopK for Dot, L2 and Cosine") {
    for (m <- Seq(Metric.Dot, Metric.L2, Metric.Cosine))
      checkParity(s"f32 $m", k => Search.exactTopK(base, queries, k, m),
        k => Search.exactTopKFused(base, queries, k, m))
  }

  test("f16 and i8 scans, array and packed, == their per-pair cross joins") {
    val hbase = base.select(col("id"), VectorFunctions.halfEncode(col("vec")).as("hbits"))
    val qbase = base.select(col("id"), VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    val oHalf = (k: Int) => bnlj(hbase, VectorFunctions.dotHalf(col("qvec"), col("hbits")), k)
    val oI8 = (k: Int) =>
      bnlj(qbase, VectorFunctions.dotI8(col("qvec"), col("codes"), col("scale")), k)
    checkParity("f16 array", oHalf, k => Search.exactTopKFusedHalf(hbase, queries, k))
    checkParity("i8 array", oI8, k => Search.exactTopKFusedI8(qbase, queries, k))

    val tmp = java.nio.file.Files.createTempDirectory("exact_scan_packed").toString
    QuantizedTables.writeF16Packed(base, s"$tmp/f16p")
    QuantizedTables.writeI8Packed(base, s"$tmp/i8p")
    val hPacked = withEmptyParts(QuantizedTables.readF16(spark, s"$tmp/f16p"))
    val iPacked = withEmptyParts(QuantizedTables.readI8(spark, s"$tmp/i8p"))
    assert(hPacked.schema("bits").dataType == BinaryType)
    assert(iPacked.schema("codes").dataType == BinaryType)
    checkParity("f16 packed", oHalf,
      k => Search.exactTopKFusedHalf(hPacked, queries, k, bitsCol = "bits"))
    checkParity("i8 packed", oI8, k => Search.exactTopKFusedI8(iPacked, queries, k))
  }

  test("blocked f32/f16/i8 scans with a ragged tail == the row-wise oracles") {
    // the blocked writers pack non-null vectors only; 205 rows in blocks
    // of 96 leave a ragged last block
    val nonNull = base.filter(col("vec").isNotNull)
    val hbase = base.select(col("id"), VectorFunctions.halfEncode(col("vec")).as("hbits"))
    val qbase = base.select(col("id"), VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    val tmp = java.nio.file.Files.createTempDirectory("exact_scan_blocked").toString
    QuantizedTables.writeF32Blocked(nonNull, s"$tmp/f32b", block = 96)
    QuantizedTables.writeF16Blocked(nonNull, s"$tmp/f16b", block = 96)
    QuantizedTables.writeI8Blocked(nonNull, s"$tmp/i8b", block = 96)
    def blocked(layout: String) =
      withEmptyParts(QuantizedTables.readBlocked(spark, s"$tmp/$layout"))
    checkParity("f32 blocked", k => Search.exactTopK(base, queries, k, Metric.Dot),
      k => Search.exactTopKFusedBlocked(blocked("f32b"), queries, k))
    checkParity("f16 blocked",
      k => bnlj(hbase, VectorFunctions.dotHalf(col("qvec"), col("hbits")), k),
      k => Search.exactTopKFusedBlocked(blocked("f16b"), queries, k))
    checkParity("i8 blocked",
      k => bnlj(qbase, VectorFunctions.dotI8(col("qvec"), col("codes"), col("scale")), k),
      k => Search.exactTopKFusedBlocked(blocked("i8b"), queries, k))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.functions.VectorFunctions
import graft.io.QuantizedTables
import graft.ops.{Hnsw, Ivf, LshAnn, Metric, Pq, Search, TopK}
import graft.tools.SyntheticVectors

/** One dimension per index: every serving entry refuses a query whose
  * dim differs from the index's, shorter or longer, with an error naming
  * both dims — it never scores a prefix. A ragged HNSW insert, a
  * wrong-dim upsert batch (before it tombstones anything) and a graph
  * store whose header is not one-dim are refused too. At a dim that is
  * not a multiple of the SIMD lane count (37), the exact scans, a
  * full-probe IVF and an HNSW walk at ef ≥ n equal the `exactTopK` oracle.
  */
class DimContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    VectorFunctions.register(s)
    s
  }

  private val dim = 32
  private val n = 600

  private lazy val base: DataFrame =
    SyntheticVectors.lowRankFast(spark, n, dim, intrinsic = 8).cache()

  /** Queries of dim `d` (seeded, unit-norm). */
  private def queriesOf(d: Int): DataFrame =
    SyntheticVectors.lowRankFast(spark, 4, d, intrinsic = 4, seed = 7L)
      .select(col("id").as("qid"), col("vec").as("qvec"))

  private def qvecOf(d: Int): Array[Float] =
    queriesOf(d).head().getSeq[Float](1).toArray

  private val wrongDims = Seq(16, 48)

  /** `body` fails, somewhere in its cause chain, with the dim error
    * naming the query's dim and the index's.
    */
  private def assertDimError(what: String, qdim: Int)(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(m => m.contains("dim mismatch") &&
      m.contains(s"query $qdim") && m.contains(s"index $dim")),
      s"$what at query dim $qdim: ${msgs.headOption.getOrElse("")}")
  }

  private def eachWrongDim(what: String)(entry: (DataFrame, Array[Float]) => Any): Unit =
    for (qd <- wrongDims) assertDimError(what, qd)(entry(queriesOf(qd), qvecOf(qd)))

  test("exact scans, fused scan, exactTopK and the SQL kernels refuse a wrong-dim query") {
    val hbase = base.select(col("id"), VectorFunctions.halfEncode(col("vec")).as("hbits"))
    val qbase = base.select(col("id"), VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    val tmp = java.nio.file.Files.createTempDirectory("dim_blocked").toString
    QuantizedTables.writeF32Blocked(base, s"$tmp/f32b", block = 96)
    QuantizedTables.writeF16Blocked(base, s"$tmp/f16b", block = 96)
    QuantizedTables.writeI8Blocked(base, s"$tmp/i8b", block = 96)
    for (m <- Seq(Metric.Dot, Metric.L2, Metric.Cosine)) {
      eachWrongDim(s"exactTopK $m")((q, _) => Search.exactTopK(base, q, 5, m).collect())
      eachWrongDim(s"exactTopKFused $m")((q, _) =>
        Search.exactTopKFused(base, q, 5, m).collect())
    }
    eachWrongDim("groundTruthBoth")((q, _) => Search.groundTruthBoth(base, q, 5).collect())
    eachWrongDim("f16 scan")((q, _) => Search.exactTopKFusedHalf(hbase, q, 5).collect())
    eachWrongDim("i8 scan")((q, _) => Search.exactTopKFusedI8(qbase, q, 5).collect())
    for (layout <- Seq("f32b", "f16b", "i8b"))
      eachWrongDim(s"blocked $layout")((q, _) => Search.exactTopKFusedBlocked(
        QuantizedTables.readBlocked(spark, s"$tmp/$layout"), q, 5).collect())
    base.createOrReplaceTempView("dim_base")
    for (qd <- wrongDims) {
      queriesOf(qd).createOrReplaceTempView("dim_q")
      for (fn <- Seq("graft_dot", "graft_l2sq", "graft_cosine"))
        assertDimError(fn, qd)(spark.sql(
          s"SELECT $fn(vec, qvec) FROM dim_base CROSS JOIN dim_q").collect())
    }
  }

  test("IVF probe, PQ, Spark pq4 and searchLocalIvf4 refuse a wrong-dim query") {
    val cents = Ivf.train(base, nlist = 4, ntrain = n)
    val assigned = Ivf.assign(base, cents)
    eachWrongDim("ivf probe")((q, _) => Ivf.search(assigned, q, cents, 2, 5).collect())
    val books = Pq.train(base, m = dim / 4, ksub = 16, ntrain = n)
    val encoded = Pq.encode(base, books)
    eachWrongDim("pq search")((q, _) => Pq.search(encoded, q, books, 5).collect())
    val tmp = java.nio.file.Files.createTempDirectory("dim_pq4").toString
    QuantizedTables.writeBytesBlocked(encoded, s"$tmp/blocked", bytesCol = "codes")
    val blocked = QuantizedTables.readBlocked(spark, s"$tmp/blocked")
    eachWrongDim("pq searchBatchedBlocked")((q, _) =>
      Pq.searchBatchedBlocked(blocked, q, books, 5).collect())
    QuantizedTables.writePq4Blocked(encoded, s"$tmp/codes")
    eachWrongDim("pq4 fastscan")((q, _) =>
      Pq.searchFastScan(spark.read.parquet(s"$tmp/codes"), q, books, 5).collect())
    val ivf4 = Pq.buildOrGetIvf4(spark, base, "dimspec_ivf4", nlist = 4,
      m4 = dim / 4, ntrain = n)
    eachWrongDim("pq4 ivf")((q, _) =>
      Pq.searchFastScanIvf(ivf4, spark, q, nprobe = 2, k = 5).collect())
    Pq.warmLocalIvf4(spark, ivf4, "dimspec_ivf4_local", base)
    try {
      // the right dim serves
      assert(Pq.searchLocalIvf4(qvecOf(dim), ivf4, "dimspec_ivf4_local",
        nprobe = 2, k = 5, refineK = 20).length == 5)
      eachWrongDim("searchLocalIvf4")((_, v) => Pq.searchLocalIvf4(v, ivf4,
        "dimspec_ivf4_local", nprobe = 2, k = 5, refineK = 20))
    } finally Pq.invalidateLocal("dimspec_ivf4_local")
  }

  test("a reused cacheKey at another dim fails at its first probe") {
    val key = "dimspec_reused_key"
    Ivf.buildOrGet(spark, base, key, nlist = 4, ntrain = n)
    // same key, a 16-d corpus: the cache hands back the 32-d index
    val base16 = SyntheticVectors.lowRankFast(spark, n, 16, intrinsic = 8)
    val idx = Ivf.buildOrGet(spark, base16, key, nlist = 4, ntrain = n)
    assertDimError("reused cacheKey", 16)(
      Ivf.search(idx.clustered(spark), queriesOf(16), idx.centroids, 2, 5).collect())
  }

  test("HNSW search, searchWarm and searchLocal refuse a wrong-dim query, heap and mapped") {
    val key = "dimspec_hnsw"
    val right = queriesOf(dim)
    Hnsw.search(base, right, k = 5, nShards = 2, cacheKey = key).collect()
    eachWrongDim("hnsw search")((q, _) =>
      Hnsw.search(base, q, k = 5, nShards = 2, cacheKey = key).collect())
    // a wrong-dim upsert of live ids fails before it tombstones any
    eachWrongDim("hnsw upsert")((q, _) => Hnsw.upsertWarmed(q, key, nShards = 2,
      idCol = "qid", vecCol = "qvec").collect())
    assert(Hnsw.liveCountWarmed(key) == n && Hnsw.deletedCountWarmed(key) == 0)
    val tmp = java.nio.file.Files.createTempDirectory("dim_hnsw").toString
    Hnsw.saveWarmed(key, s"$tmp/group")
    for (mapped <- Seq(false, true)) {
      Hnsw.invalidate(key)
      Hnsw.warmFromDisk(key, s"$tmp/group", mapped = mapped)
      assert(Hnsw.searchLocal(qvecOf(dim), key, nShards = 2, k = 5).length == 5)
      for (allowMissing <- Seq(false, true)) {
        eachWrongDim(s"searchWarm mapped=$mapped")((q, _) => Hnsw.searchWarm(q, key,
          nShards = 2, k = 5, allowMissing = allowMissing).collect())
        eachWrongDim(s"searchLocal mapped=$mapped")((_, v) => Hnsw.searchLocal(v, key,
          nShards = 2, k = 5, allowMissing = allowMissing))
      }
    }
    Hnsw.invalidate(key)
    val rows = base.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val g = Hnsw.probeBuild(rows.take(200), m = 8, efC = 32, seed = 42L, metric = Metric.L2)
    g.writeStore(s"$tmp/g.graph")
    for (graph <- Seq(g, Hnsw.readStore(s"$tmp/g.graph", mapped = true)))
      eachWrongDim("ShardGraph.search")((_, v) => graph.search(v, 5, 32))
  }

  test("a ragged HNSW insert throws; a store that is not one-dim is refused") {
    val rows = base.limit(50).collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ragged = rows.take(49) :+ (rows(49)._1, rows(49)._2.take(16))
    assertDimError("hnsw insert", 16)(
      Hnsw.probeBuild(ragged, m = 8, efC = 32, seed = 42L, metric = Metric.Dot))
    val g = Hnsw.probeBuild(rows, m = 8, efC = 32, seed = 42L, metric = Metric.Dot)
    val tmp = java.nio.file.Files.createTempDirectory("dim_store").toString
    g.writeStore(s"$tmp/g.graph")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/g.graph"))
    val hdrLen = java.nio.ByteBuffer.wrap(bytes, 8, 4).getInt()
    // header: m, efC, seed, metric (UTF), n, entry, dim, uniform, then
    // per node (id, offset, length, level)
    val metricLen = java.nio.ByteBuffer.wrap(bytes, 20 + 16, 2).getShort()
    val uniformAt = 20 + 16 + 2 + metricLen + 12
    assert(bytes(uniformAt) == 1 &&
      java.nio.ByteBuffer.wrap(bytes, uniformAt - 4, 4).getInt() == dim)
    /** `bytes` with `patch` applied and the header CRC re-sealed. */
    def patched(name: String)(patch: Array[Byte] => Unit): String = {
      val b = bytes.clone()
      patch(b)
      val crc = new java.util.zip.CRC32C
      crc.update(b, 20, hdrLen)
      java.nio.ByteBuffer.wrap(b, 12, 4).putInt(crc.getValue.toInt)
      val f = s"$tmp/$name.graph"
      java.nio.file.Files.write(java.nio.file.Paths.get(f), b)
      f
    }
    val notUniform = patched("not_uniform")(b => b(uniformAt) = 0)
    val badLength = patched("bad_length")(b =>
      java.nio.ByteBuffer.wrap(b, uniformAt + 1 + 8 + 4, 4).putInt(dim + 1))
    for (f <- Seq(notUniform, badLength); mapped <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException](Hnsw.readStore(f, mapped))
      assert(e.getMessage.contains(f), e.getMessage)
    }
    // the untouched file still reads, and serves what the graph serves
    val q = rows(3)._2
    assert(Hnsw.readStore(s"$tmp/g.graph").search(q, 5, 32).toSeq == g.search(q, 5, 32).toSeq)
  }

  test("LSH refuses a wrong-dim query") {
    eachWrongDim("lsh")((q, _) => LshAnn.search(base, q, 5, dim = dim).collect())
  }

  // ---- 37-d: a dim that is not a multiple of any SIMD lane count ----

  private val odd = 37
  private lazy val base37: DataFrame =
    SyntheticVectors.lowRankFast(spark, 400, odd, intrinsic = 12).cache()
  private lazy val queries37: DataFrame =
    SyntheticVectors.lowRankFast(spark, 6, odd, intrinsic = 12, seed = 9L)
      .select(col("id").as("qid"), col("vec").as("qvec"))

  private def rowsOf(df: DataFrame): Set[(Long, Long, Int, Long)] =
    df.select("qid", "id", "rank", "score").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  private def assertSame(what: String, want: DataFrame, got: DataFrame): Unit = {
    val w = rowsOf(want)
    val g = rowsOf(got)
    assert(w.size == 6 * 10 && g == w, s"$what at 37-d diverged from the oracle: " +
      s"missing ${(w -- g).take(3)}, extra ${(g -- w).take(3)}")
  }

  /** Per-pair-kernel cross-join twin of `exactTopK` (dot). */
  private def bnlj(table: DataFrame, score: Column): DataFrame =
    TopK.perGroup(table.crossJoin(broadcast(queries37))
      .select(col("qid"), col("id").as("gid"), score.as("score")),
      "qid", "gid", "score", 10, larger = true)

  test("at 37-d the exact scans equal their oracles") {
    for (m <- Seq(Metric.Dot, Metric.L2, Metric.Cosine))
      assertSame(s"fused $m", Search.exactTopK(base37, queries37, 10, m),
        Search.exactTopKFused(base37, queries37, 10, m))
    val hbase = base37.select(col("id"), VectorFunctions.halfEncode(col("vec")).as("hbits"))
    val qbase = base37.select(col("id"), VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    val oHalf = bnlj(hbase, VectorFunctions.dotHalf(col("qvec"), col("hbits")))
    val oI8 = bnlj(qbase, VectorFunctions.dotI8(col("qvec"), col("codes"), col("scale")))
    assertSame("f16", oHalf, Search.exactTopKFusedHalf(hbase, queries37, 10))
    assertSame("i8", oI8, Search.exactTopKFusedI8(qbase, queries37, 10))
    val tmp = java.nio.file.Files.createTempDirectory("dim37_blocked").toString
    QuantizedTables.writeF32Blocked(base37, s"$tmp/f32b", block = 96)
    QuantizedTables.writeF16Blocked(base37, s"$tmp/f16b", block = 96)
    QuantizedTables.writeI8Blocked(base37, s"$tmp/i8b", block = 96)
    def blocked(layout: String) =
      Search.exactTopKFusedBlocked(QuantizedTables.readBlocked(spark, s"$tmp/$layout"),
        queries37, 10)
    assertSame("f32 blocked", Search.exactTopK(base37, queries37, 10), blocked("f32b"))
    assertSame("f16 blocked", oHalf, blocked("f16b"))
    assertSame("i8 blocked", oI8, blocked("i8b"))
  }

  test("at 37-d a full-probe IVF and HNSW at ef >= n equal exactTopK") {
    val cents = Ivf.train(base37, nlist = 4, ntrain = 400)
    val assigned = Ivf.assign(base37, cents)
    for (metric <- Seq(Metric.Dot, Metric.L2)) {
      val exact = Search.exactTopK(base37, queries37, 10, metric)
      assertSame(s"ivf full probe $metric", exact,
        Ivf.search(assigned, queries37, cents, nprobe = 4, k = 10, metric = metric))
      assertSame(s"hnsw ef=n $metric", exact, Hnsw.search(base37, queries37, k = 10,
        metric = metric, m = 8, efConstruction = 64, efSearch = 400, nShards = 1))
    }
  }
}

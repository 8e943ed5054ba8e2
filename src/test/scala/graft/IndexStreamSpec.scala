package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.ops.{Ivf, Metric}
import graft.streaming.IndexStream

/** Incremental IVF maintenance: streamed assign+append must agree with the
  * batch assign, survive a second incremental batch exactly-once, and the
  * grown table must stay probeable (partition pruning intact).
  */
class IndexStreamSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  test("streamed index append == batch assign; second batch appends exactly-once") {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Ivf.train(base, nlist = 8, ntrain = 500)

    val src = Files.createTempDirectory("idxstream_src").toString
    val tbl = Files.createTempDirectory("idxstream_tbl").toString
    val ckpt = Files.createTempDirectory("idxstream_ckpt").toString
    base.write.mode("append").parquet(src)

    def drain(): Unit = {
      val q = IndexStream.appendStream(
        spark.readStream.schema(base.schema).parquet(src), cents, tbl, ckpt)
      q.awaitTermination()
    }
    drain()

    val streamed = spark.read.parquet(tbl)
      .select(col("id"), col("cluster_id").cast("int").as("cluster_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = Ivf.assign(base, cents)
      .select(col("id"), col("cluster_id").cast("int").as("cluster_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed == batch, "streamed assignment diverged from batch")

    // second incremental batch: 5 shifted copies land as NEW files; the
    // checkpoint must skip the already-committed first batch (exactly-once)
    val extra = base.filter(col("id") < 5)
      .select((col("id") + 100000).as("id"), col("vec"))
    extra.write.mode("append").parquet(src)
    drain()
    val grown = spark.read.parquet(tbl)
    assert(grown.count() == base.count() + 5,
      s"expected ${base.count() + 5} rows after increment, got ${grown.count()}")

    // the grown table stays probeable and the appended twin of vector 3
    // is reachable through the pruned probe (same vector ⇒ same cluster)
    val q3 = base.filter(col("id") === 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val hits = Ivf.search(
      grown.select(col("id"), col("vec"),
        col("cluster_id").cast("int").as("cluster_id")),
      q3, cents, nprobe = 1, k = 2, Metric.L2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(3L, 100003L),
      s"probe over grown table missed the appended twin: $hits")
  }

  test("streamed HNSW upsert: maintained group == cold build on the union") {
    import graft.ops.Hnsw
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val old = all.filter(col("id") < 350)
    val fresh = all.filter(col("id") >= 350)
    val qs = all.filter(col("id") < 6)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val key = "idxstream_hnsw_upsert"
    Hnsw.invalidate(key)
    Hnsw.search(old, qs, k = 10, Metric.Dot, m = 8, efConstruction = 64,
      efSearch = 64, nShards = 4, cacheKey = key).count()

    val src = Files.createTempDirectory("idxstream_hnsw_src").toString
    val ckpt = Files.createTempDirectory("idxstream_hnsw_ckpt").toString
    fresh.write.mode("append").parquet(src)
    IndexStream.upsertHnswStream(
      spark.readStream.schema(all.schema).parquet(src), key, nShards = 4,
      checkpoint = ckpt, Metric.Dot, m = 8, efConstruction = 64)
      .awaitTermination()

    // compaction canonicalizes any micro-batch split, then the warm
    // group must equal a cold build on the full union bit-for-bit
    Hnsw.compactDispatched(spark, key, nShards = 4)
    assert(Hnsw.liveCountWarmed(key) == all.count())
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val warm = results(Hnsw.searchWarm(qs, key, nShards = 4, k = 10,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 64))
    val cold = results(Hnsw.search(all, qs, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 64, nShards = 4))
    assert(warm == cold,
      "stream-maintained group diverged from the cold union build")
    Hnsw.invalidate(key)
  }

  test("sustained replace churn keeps tombstones bounded via the " +
    "compaction trigger; without it they grow per batch (r17)") {
    import graft.ops.Hnsw
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val replBatch = all.filter(col("id") < 200) // same ids, same vectors
    val nAll = all.count()

    def churn(key: String, rounds: Int, knob: Double,
              perRound: Long => Unit): Unit = {
      Hnsw.invalidate(key)
      val qs = all.filter(col("id") < 4)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Hnsw.search(all, qs, k = 10, Metric.Dot, m = 8, efConstruction = 64,
        efSearch = 64, nShards = 4, cacheKey = key).count()
      val src = Files.createTempDirectory(s"idxstream_churn_src").toString
      val ckpt = Files.createTempDirectory(s"idxstream_churn_ckpt").toString
      (1 to rounds).foreach { r =>
        replBatch.write.mode("append").parquet(src) // new files, same rows
        IndexStream.upsertHnswStream(
          spark.readStream.schema(all.schema).parquet(src), key,
          nShards = 4, checkpoint = ckpt, Metric.Dot, m = 8,
          efConstruction = 64, compactAtDeletedFraction = knob)
          .awaitTermination()
        perRound(r.toLong)
      }
    }

    // every round replaces 200 of 500 live rows → 200 fresh tombstones,
    // fraction 200/700 ≈ 0.29 over the default 0.25 knob: the trigger
    // must compact each batch, so dead slots never accumulate
    val key = "idxstream_churn_on"
    churn(key, rounds = 3, knob = 0.25, perRound = r => {
      assert(Hnsw.deletedCountWarmed(key) == 0,
        s"round $r: trigger left ${Hnsw.deletedCountWarmed(key)} tombstones")
      assert(Hnsw.liveCountWarmed(key) == nAll,
        s"round $r: live count drifted under churn")
    })
    // and the post-churn group is CANONICAL: replacing rows with their
    // own vectors then compacting must serve exactly like the cold build
    val qs = all.filter(col("id") < 4)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(results(Hnsw.searchWarm(qs, key, nShards = 4, k = 10, Metric.Dot,
        m = 8, efConstruction = 64, efSearch = 64))
      == results(Hnsw.search(all, qs, k = 10, Metric.Dot, m = 8,
        efConstruction = 64, efSearch = 64, nShards = 4)),
      "churned+compacted group diverged from the cold build")
    Hnsw.invalidate(key)

    // control: knob disabled (≥1.0) — the same churn accumulates 200
    // tombstones per round, the unbounded-growth mode the trigger exists
    // to prevent
    val keyOff = "idxstream_churn_off"
    churn(keyOff, rounds = 2, knob = 2.0, perRound = r => {
      assert(Hnsw.deletedCountWarmed(keyOff) == 200 * r,
        s"round $r: expected ${200 * r} accumulated tombstones, got " +
          s"${Hnsw.deletedCountWarmed(keyOff)}")
    })
    Hnsw.invalidate(keyOff)
  }
}

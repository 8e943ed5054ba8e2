package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Hnsw, Ivf, Metric}

/** Incremental IVF index maintenance — the online half of index DDL.
  * Additive surface (the reference has no streaming, SURVEY §2.9; its
  * index lifecycle is build-then-serve): a production ingest pipeline
  * appends new vectors continuously, and re-clustering the whole corpus
  * per batch is not an option at 100 TB.
  *
  * Design mirrors FAISS's own add-after-train split (and the reference's
  * `nvdb_ivf_build` train→add staging, `apps/nvdb_ivf_build.cpp:59-92`):
  * the coarse quantizer is FROZEN at training time; arriving vectors are
  * assigned to their nearest centroid with the broadcast-centroid codegen
  * expression — a narrow, shuffle-free map — and appended to the
  * cluster-partitioned table. Probing sees new rows on the next scan
  * (partition pruning keeps working: appends land inside their
  * cluster_id=... directory). Centroid RE-training stays an offline DDL
  * decision (drift monitoring is the operator's call), exactly as with
  * any IVF deployment.
  */
object IndexStream {

  /** Assign a micro-batch/stream of (id, vec) rows to frozen centroids.
    * Narrow projection — valid on both batch and streaming DataFrames;
    * stream==batch equality is gated in IndexStreamSpec.
    */
  def assign(vectors: DataFrame, centroids: Array[Array[Float]],
             vecCol: String = "vec"): DataFrame =
    Ivf.assign(vectors, centroids, vecCol)

  /** Continuous append into the clustered (partitioned) index table.
    * Exactly-once via the file-sink commit log + checkpoint; each
    * micro-batch writes only the cluster partitions it touches.
    */
  def appendStream(vectors: DataFrame, centroids: Array[Array[Float]],
                   tablePath: String, checkpoint: String,
                   vecCol: String = "vec"): StreamingQuery =
    assign(vectors, centroids, vecCol)
      .writeStream
      .partitionBy("cluster_id")
      .format("parquet")
      .option("path", tablePath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Continuous UPSERT into a warmed HNSW shard group — the graph-index
    * twin of [[appendStream]] (r16; see [[graft.ops.Hnsw.upsertWarmed]]
    * for routing/replace semantics and the append-only == rebuild
    * guarantee). Each micro-batch shuffles once on the shard key and
    * mutates the executor-cached graphs in place; the group must be
    * warmed BEFORE the stream starts (loud-miss contract).
    *
    * Replay semantics: the checkpoint gives at-least-once batch
    * delivery into a non-transactional sink, and an upsert replay is
    * SEMANTICALLY idempotent — the replayed ids tombstone their live
    * twins and re-insert, so the live (id → vector) map is unchanged —
    * but each replay leaves tombstones
    * ([[graft.ops.Hnsw.compactDispatched]] reclaims them, restoring the
    * canonical graph). Persist with
    * [[graft.ops.Hnsw.saveWarmed]] on the caller's checkpoint cadence.
    *
    * TOMBSTONE HYGIENE (r17): sustained churn — every replaced id is a
    * tombstone — grows dead slots without bound, and the serve-through
    * cost measured at +2 % for a 5 % delete fraction does not stay
    * there. After each batch the hook reads the group's tombstone
    * fraction ([[graft.ops.Hnsw.deletedCountWarmed]] over live+dead
    * slots) and, at or above `compactAtDeletedFraction`, compacts
    * through [[graft.ops.Hnsw.compactDispatched]] — the executor-side
    * path, so the trigger works where the upserts themselves run. The
    * canonical rebuild also re-canonicalizes out-of-order upsert
    * batches, so a long-lived stream converges back to the
    * build-equivalent graphs each time the trigger fires. Set the knob
    * ≥ 1.0 (or `Double.MaxValue`) to disable and manage compaction on
    * an external cadence; IndexStreamSpec gates that the default keeps
    * `deletedCountWarmed` bounded under replace churn.
    */
  def upsertHnswStream(vectors: DataFrame, cacheKey: String, nShards: Int,
                       checkpoint: String,
                       metric: Metric = Metric.Dot, m: Int = 16,
                       efConstruction: Int = 100, seed: Long = 42L,
                       centroids: Array[Array[Float]] = null,
                       createMissing: Boolean = false,
                       compactAtDeletedFraction: Double = 0.25): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Hnsw.upsertWarmed(batch, cacheKey, nShards, metric, m,
          efConstruction, seed, centroids,
          createMissing = createMissing).count()
        val dead = Hnsw.deletedCountWarmed(cacheKey)
        val total = dead + Hnsw.liveCountWarmed(cacheKey)
        if (dead > 0 && total > 0 &&
            dead.toDouble / total >= compactAtDeletedFraction) {
          Hnsw.compactDispatched(batch.sparkSession, cacheKey, nShards)
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}

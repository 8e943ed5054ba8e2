package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Quantized-table sinks/sources — the Spark analogue of the reference's
  * vecbin converters (`tools/nvdb_convert_f16.cpp`, `apps/nvdb_quantize_i8
  * .cpp`): storage-format ladder FP32 → FP16 bits → INT8+scale as parquet
  * schemas, with scoring fused against the stored representation (no
  * re-materialization of f32 at scan time).
  */
object QuantizedTables {

  /** (id, vec f32) → (id, bits array<smallint>) parquet. */
  def writeF16(base: DataFrame, path: String, idCol: String = "id",
               vecCol: String = "vec"): Unit =
    base.select(col(idCol), VectorFunctions.halfEncode(col(vecCol)).as("bits"))
      .write.mode("overwrite").parquet(path)

  def readF16(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** (id, vec f32) → (id, codes array<tinyint>, scale float) parquet. */
  def writeI8(base: DataFrame, path: String, idCol: String = "id",
              vecCol: String = "vec"): Unit =
    base.select(col(idCol), VectorFunctions.quantizeI8(col(vecCol)).as("q"))
      .select(col(idCol), col("q.codes").as("codes"), col("q.scale").as("scale"))
      .write.mode("overwrite").parquet(path)

  def readI8(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  // ---- PACKED flavors: one BINARY blob per row (LE shorts for f16, raw
  // codes for i8) — the vecbin payload layout carried into parquet.
  // Measured at 1M×384d they scan at PARITY with the array<> schemas
  // (the fixed ~16 µs/row pipeline cost dominates both, not the decode)
  // — kept because blob rows are the building block of the BLOCKED
  // layout below, which is the layout that actually moves the needle.
  // The array flavors above remain the introspectable form (halfDecode
  // etc. operate on them directly).

  /** (id, vec f32) → (id, bits BINARY) parquet — LE-packed fp16 rows. */
  def writeF16Packed(base: DataFrame, path: String, idCol: String = "id",
                     vecCol: String = "vec"): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.functions.expressions.{HalfEncode, PackShortsLE}
    val bits = Bridge.column(PackShortsLE(
      HalfEncode(Bridge.expression(col(vecCol)))))
    base.select(col(idCol), bits.as("bits"))
      .write.mode("overwrite").parquet(path)
  }

  /** (id, vec f32) → (id, codes BINARY, scale float) parquet. */
  def writeI8Packed(base: DataFrame, path: String, idCol: String = "id",
                    vecCol: String = "vec"): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.functions.expressions.PackBytes
    base.select(col(idCol), VectorFunctions.quantizeI8(col(vecCol)).as("q"))
      .select(col(idCol),
        Bridge.column(PackBytes(Bridge.expression(col("q.codes")))).as("codes"),
        col("q.scale").as("scale"))
      .write.mode("overwrite").parquet(path)
  }

  // ---- BLOCKED flavors: up to `block` id-sorted vectors per STORED row
  // (ids array<long> + one contiguous payload blob + per-vector scales
  // for i8). The 1M quantized scans measured ~16 µs/row of fixed
  // pipeline cost (parquet row assembly, expression eval, encoder) —
  // 10× the kernel time — so bytes/vector could never dominate;
  // 128 vectors per stored row amortizes that fixed cost 128× and the
  // scan becomes the reference's contiguous-payload walk
  // (`src/vector_dataset.cpp:121-151`) inside one Spark row. The fused
  // scorers slice the blob per vector with decode math identical to the
  // per-row kernels, so ranks stay bitwise-equal (SearchSpec gates it).

  /** Deterministic pre-pack layout: rows land in the partition of
    * `floor(id / rowsPerPart)` (rowsPerPart rounded UP to a multiple of
    * `block`) and sort by id within it. `repartitionByRange` would look
    * natural here but its range boundaries come from reservoir sampling
    * seeded by the RDD id — session-history dependent — so the stored
    * blocks (and with them stored_mb and scan timing) would not be
    * run-to-run reproducible. With the explicit id-range key the group an
    * id belongs to is a pure function of the id set, and because group
    * size is block-aligned, every packed block holds `block` consecutive
    * ids of one group (only the globally-last group has a ragged tail) —
    * the artifact is byte-reproducible across sessions regardless of
    * which partition the hash placed each group in. Assumes the engine's
    * dense positional ids; sparse ids only unbalance group sizes, never
    * determinism.
    */
  private def idRangeLayout(df: DataFrame, block: Int): DataFrame = {
    val spark = df.sparkSession
    val nParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val maxId = df.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)
    val perPart = (maxId + 1 + nParts - 1) / nParts
    val rowsPerPart = math.max(block.toLong, ((perPart + block - 1) / block) * block)
    // integral division (`div`), not Divide-then-cast: double division is
    // exact only below ~2^53, and a boundary id landing in the adjacent
    // group would break the block-aligned-group invariant the
    // byte-reproducibility argument relies on
    df.repartition(nParts, expr(s"id div ${rowsPerPart}L"))
      .sortWithinPartitions("id")
  }

  private def packBlocks(rows: Iterator[(Long, Array[Byte])],
                         block: Int): Iterator[(Array[Long], Array[Byte])] =
    rows.grouped(block).map { g =>
      val ids = g.map(_._1).toArray
      val blob = new Array[Byte](g.map(_._2.length).sum)
      var off = 0
      g.foreach { case (_, b) =>
        System.arraycopy(b, 0, blob, off, b.length); off += b.length
      }
      (ids, blob)
    }

  /** (id, vec f32) → (ids array<long>, vecs BINARY) parquet, LE floats. */
  def writeF32Blocked(base: DataFrame, path: String, idCol: String = "id",
                      vecCol: String = "vec", block: Int = 128): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.functions.expressions.PackFloatsLE
    val spark = base.sparkSession
    import spark.implicits._
    idRangeLayout(base.select(col(idCol).cast("long").as("id"),
        Bridge.column(PackFloatsLE(Bridge.expression(col(vecCol)))).as("b")), block)
      .as[(Long, Array[Byte])]
      .mapPartitions(packBlocks(_, block))
      .toDF("ids", "vecs")
      .write.mode("overwrite").parquet(path)
  }

  /** (id, vec f32) → (ids array<long>, bits BINARY) parquet, LE f16. */
  def writeF16Blocked(base: DataFrame, path: String, idCol: String = "id",
                      vecCol: String = "vec", block: Int = 128): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.functions.expressions.{HalfEncode, PackShortsLE}
    val spark = base.sparkSession
    import spark.implicits._
    idRangeLayout(base.select(col(idCol).cast("long").as("id"),
        Bridge.column(PackShortsLE(HalfEncode(Bridge.expression(col(vecCol))))).as("b")), block)
      .as[(Long, Array[Byte])]
      .mapPartitions(packBlocks(_, block))
      .toDF("ids", "bits")
      .write.mode("overwrite").parquet(path)
  }

  /** (id, vec f32) → (ids, codes BINARY, scales array<float>) parquet. */
  def writeI8Blocked(base: DataFrame, path: String, idCol: String = "id",
                     vecCol: String = "vec", block: Int = 128): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.functions.expressions.PackBytes
    val spark = base.sparkSession
    import spark.implicits._
    idRangeLayout(base.select(col(idCol).cast("long").as("id"),
        VectorFunctions.quantizeI8(col(vecCol)).as("q"))
      .select(col("id"),
        Bridge.column(PackBytes(Bridge.expression(col("q.codes")))).as("b"),
        col("q.scale").as("scale")), block)
      .as[(Long, Array[Byte], Float)]
      .mapPartitions { rows =>
        rows.grouped(block).map { g =>
          val ids = g.map(_._1).toArray
          val scales = g.map(_._3).toArray
          val blob = new Array[Byte](g.map(_._2.length).sum)
          var off = 0
          g.foreach { case (_, b, _) =>
            System.arraycopy(b, 0, blob, off, b.length); off += b.length
          }
          (ids, blob, scales)
        }
      }
      .toDF("ids", "codes", "scales")
      .write.mode("overwrite").parquet(path)
  }

  def readBlocked(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Generic blocked sink for fixed-stride byte rows — (id, bytes BINARY)
    * → (ids array<long>, codes BINARY) with `block` id-sorted rows per
    * stored row. The PQ code table's blocked layout rides this (m bytes
    * per vector; the 1M ADC scan pays ~µs/row of per-row plan overhead —
    * 48 B of codes per 1 stored row — until blocking amortizes it the
    * same way the vector scans' blocked ladder did).
    */
  def writeBytesBlocked(rows: DataFrame, path: String, idCol: String = "id",
                        bytesCol: String = "bytes", block: Int = 128): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    import graft.functions.expressions.PackBytes
    val spark = rows.sparkSession
    import spark.implicits._
    // accept array<byte> (e.g. PQ codes) as well as BINARY
    val asBin =
      if (rows.schema(bytesCol).dataType == BinaryType) col(bytesCol)
      else Bridge.column(PackBytes(Bridge.expression(col(bytesCol))))
    idRangeLayout(rows.select(col(idCol).cast("long").as("id"),
        asBin.as("b")), block)
      .as[(Long, Array[Byte])]
      .mapPartitions(packBlocks(_, block))
      .toDF("ids", "codes")
      .write.mode("overwrite").parquet(path)
  }

  /** Fastscan (PQ4) sink: (id, codes array<byte> of m4 4-bit values) →
    * (ids array<long>, codes BINARY) with `block` id-sorted rows per
    * stored row, codes GROUP-TRANSPOSED and nibble-packed — the FAISS
    * `IndexPQFastScan` register layout re-expressed for 64-row groups:
    * within each 64-row group, byte `sp*64 + r` packs row r's codes for
    * subquantizers 2sp (low nibble) and 2sp+1 (high nibble), so ONE
    * 64-byte register load feeds two `selectFrom` table lookups for all
    * 64 rows (`Simd.pq4Group`). 48 B/vector at m4=96 — identical
    * footprint to the m=48 8-bit code table. A ragged final group pads
    * codes with 0; `ids.length` is the true row count and every scan
    * bounds its consider loop by it, so pad lanes never surface.
    * Same deterministic id-range layout as every other blocked sink
    * (`block` must divide into 64-row groups).
    */
  def writePq4Blocked(rows: DataFrame, path: String, idCol: String = "id",
                      codesCol: String = "codes", block: Int = 128): Unit = {
    require(block % 64 == 0, s"pq4 block must be a multiple of 64, got $block")
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    import graft.functions.expressions.PackBytes
    val spark = rows.sparkSession
    import spark.implicits._
    val asBin =
      if (rows.schema(codesCol).dataType == BinaryType) col(codesCol)
      else Bridge.column(PackBytes(Bridge.expression(col(codesCol))))
    idRangeLayout(rows.select(col(idCol).cast("long").as("id"),
        asBin.as("b")), block)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(block).map { g =>
          (g.map(_._1).toArray, pq4Pack(g.length, g.map(_._2)))
        }
      }
      .toDF("ids", "codes")
      .write.mode("overwrite").parquet(path)
  }

  /** Group-transpose + nibble-pack `nRows` code rows into the 64-lane
    * fastscan blob (see [[writePq4Blocked]] for the layout contract). */
  private def pq4Pack(nRows: Int, codes: Seq[Array[Byte]]): Array[Byte] = {
    val m4 = codes.head.length
    require(m4 % 2 == 0, s"pq4 m4 must be even, got $m4")
    val spMax = m4 / 2
    val groups = (nRows + 63) / 64
    val blob = new Array[Byte](groups * spMax * 64)
    var r = 0
    while (r < nRows) {
      val cs = codes(r)
      val gBase = (r / 64) * spMax * 64
      val lane = r % 64
      var sp = 0
      while (sp < spMax) {
        blob(gBase + sp * 64 + lane) =
          ((cs(2 * sp) & 0x0f) | ((cs(2 * sp + 1) & 0x0f) << 4)).toByte
        sp += 1
      }
      r += 1
    }
    blob
  }

  /** [[writePq4Blocked]] partitioned by IVF coarse cell — the fastscan
    * layout for the IVF-pruned probe ([[graft.ops.Pq.searchFastScanIvf]],
    * FAISS `IndexIVFPQFastScan`'s storage shape). Rows pack densely PER
    * CELL in id order (rank-within-cell blocks, not global id ranges:
    * cell membership is sparse in id space, and the register kernel needs
    * dense 64-lane groups), written `partitionBy(cluster_id)` so a probe
    * prunes unprobed cells at the parquet-partition level. The layout is
    * a pure function of (ids, cell assignment, block): window rank within
    * cell, blocks of `block` rows, rows id-sorted inside each block —
    * deterministic like every other blocked sink.
    *
    * The rows hash-repartition on cluster_id to `defaultParallelism`
    * partitions before the window. A repartition to a fixed count is never
    * coalesced by AQE; without it, AQE merges the small post-shuffle stage
    * into ONE task that writes every cell directory alone (measured on a
    * 4-core box at 50K × 32d, nlist = 256: one 2.1 s task for a < 1 MB
    * shuffle). Each cell still lands whole in one task, so the blocks are
    * the same and each cell directory still holds exactly one file — the
    * layout `Pq.searchLocalIvf4` and the fastscan probes contract on.
    */
  def writePq4BlockedClustered(rows: DataFrame, path: String,
                               idCol: String = "id",
                               codesCol: String = "codes",
                               clusterCol: String = "cluster_id",
                               block: Int = 128,
                               mode: String = "overwrite"): Unit = {
    require(block % 64 == 0, s"pq4 block must be a multiple of 64, got $block")
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.expressions.Window
    import graft.functions.expressions.PackBytes
    val spark = rows.sparkSession
    import spark.implicits._
    val asBin =
      if (rows.schema(codesCol).dataType == BinaryType) col(codesCol)
      else Bridge.column(PackBytes(Bridge.expression(col(codesCol))))
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("id"))
    rows.select(col(clusterCol).cast("int").as("cluster_id"),
        col(idCol).cast("long").as("id"), asBin.as("b"))
      .repartition(spark.sparkContext.defaultParallelism, col("cluster_id"))
      .withColumn("rk", row_number().over(w))
      // integral `div` (same boundary-exactness argument as idRangeLayout)
      .withColumn("blk", expr(s"(rk - 1) div $block"))
      .groupBy(col("cluster_id"), col("blk"))
      .agg(sort_array(collect_list(struct(col("id").as("_1"), col("b").as("_2"))))
        .as("rows"))
      .select(col("cluster_id"), col("rows"))
      .as[(Int, Seq[(Long, Array[Byte])])]
      .map { case (cid, g) =>
        (cid, g.map(_._1).toArray, pq4Pack(g.length, g.map(_._2)))
      }
      .toDF("cluster_id", "ids", "codes")
      .write.mode(mode).partitionBy("cluster_id").parquet(path)
  }
}

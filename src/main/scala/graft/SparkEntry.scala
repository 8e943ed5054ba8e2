package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{TextFunctions, VectorFunctions}
import graft.ops.{Dedup, Hnsw, Ivf, LshAnn, Metric, Opq, Pq, Search, TextAnalysis, TopK}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a
  * training-data-pipeline extension) exercised end-to-end on the driver
  * testdata; `oracleSql` holds the DuckDB-equivalent SQL for the hash gate.
  * Column names and rounding are aligned between both sides.
  */
object SparkEntry {

  /** Flagship query (reference `apps/nvdb_bench.cpp` flat scan in Spark):
    * exact top-10 dot-product search of 5 query vectors against the
    * embeddings base via broadcast cross join + codegen dot + map-side
    * combining top-k. Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    knnDot(spark, "/root/testdata/sf0.001")

  private def embBase(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** `documents`, scan-parallelized (see [[Tables.parallelized]]) — used
    * ONLY where downstream per-row work is heavy enough to beat the
    * redistribution shuffle it may add. r18 measured the whole d/t/s
    * family both ways on the single-row-group fixture: only
    * d3_jaccard_pairs (O(|A|+|B|) merge kernel per crossJoin pair — ~0.8 s
    * of single-core kernel work) wins (norm 1.04→0.77 s); every per-row
    * kernel query (minhash/simhash/text profiles) LOST 1.5-3× because the
    * raw-text shuffle + extra stage cost more than the parallelized kernel
    * saved. Row-identical either way (per-row columns don't depend on
    * placement; downstream aggregates exact) — d3's oracle re-gates.
    */
  private def docsPar(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.documents(spark, dir))

  private def embQueries(spark: SparkSession, dir: String, nq: Int = 5): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** The a1–a4 recall-eval query set (wider than embQueries' 5 so the
    * recall scalar has resolution). Mirrored by the oracle GT's
    * `WHERE q.vec_id < 20`.
    */
  private def recallQueries(spark: SparkSession, dir: String): DataFrame =
    embQueries(spark, dir, nq = 20)

  /** Embeddings-table metadata — (row count, vector dim) — memoized per
    * (session, dir) like [[Ivf.cachedGroundTruth]] (r17, guide §1.2/§5:
    * no redundant driver-side passes in a query path). The a12/a13/a15
    * queries derived m4 with a `head()` job and a16/a17 the corpus cut
    * with a `count()` job on EVERY execution; both are immutable fixture
    * metadata a production engine reads from index/table metadata once.
    * One aggregate job on first touch, zero afterwards. Session-keyed via
    * sessionUUID so a stopped session can never serve a new one.
    */
  private val embMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()

  private def embMeta(spark: SparkSession, dir: String): (Long, Int) = {
    // bounded memo (r18, ADVICE r17): entries are session-keyed and a
    // long-lived JVM hosting many sessions would accumulate them forever.
    // The values hold no session reference (plain scalars), so a stopped-
    // session purge has nothing to test against — instead the map is
    // size-capped and simply cleared past 64 entries: it is a pure memo of
    // one cheap aggregate, so eviction costs at most one re-run per
    // (session, dir) while the bound makes the leak impossible.
    if (embMetaCache.size > 64) embMetaCache.clear()
    embMetaCache.computeIfAbsent(
      s"${graft.core.GraftSession.uuid(spark)}|$dir", _ => {
        val r = Tables.embeddings(spark, dir)
          .agg(count(lit(1)), min(size(col("embedding")))).head()
        (r.getLong(0), r.getInt(1))
      })
  }

  /** Under Verify only (system property `graft.predSidecar=1`): persist
    * the (qid, id) prediction pairs — the single piece of a1–a4 that SQL
    * cannot derive (KMeans clustering) — so [[oracleSql]] can inline them
    * as VALUES and recompute ground truth + recall independently in
    * DuckDB. Verify runs every query BEFORE dumping oracle_sql.json, so
    * the sidecar is always fresh for the dump that references it. A no-op
    * under Bench (per-run materialization would distort timings); the
    * predictions are oracle-bounded (≤ 20 queries × k ids).
    */
  /** Driver-collect bound for a sidecar dump (Vecbin.guardExport's policy
    * applied here): the a-family is ≤ 20×k pairs, but d4's candidate set
    * scales with the verify corpus — past this bound the sidecar is
    * SKIPPED with a loud note and the driver falls back to the rows-only
    * oracle, instead of an unbounded collect() / a multi-MB VALUES blob.
    */
  private val sidecarMaxRows = 50000

  private def predSidecar(name: String, pred: DataFrame,
                          aCol: String = "qid", bCol: String = "id"): DataFrame = {
    if (sys.props.get("graft.predSidecar").contains("1")) {
      val d = new java.io.File("target/pred_sidecar")
      d.mkdirs()
      val rows = pred.select(col(aCol).cast("long"), col(bCol).cast("long"))
        .limit(sidecarMaxRows + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      if (rows.length > sidecarMaxRows) {
        System.err.println(s"[sidecar] $name: > $sidecarMaxRows pairs — " +
          "skipping VALUES oracle (rows-only fallback)")
        new java.io.File(d, s"$name.csv").delete()
      } else {
        val w = new java.io.PrintWriter(new java.io.File(d, s"$name.csv"))
        try rows.foreach { case (q, i) => w.println(s"$q,$i") } finally w.close()
      }
    }
    pred
  }

  /** [[predSidecar]] with a third DOUBLE column (e.g. d14's per-member
    * centroid distance). Doubles print via `Double.toString` — the
    * shortest round-trip decimal — so DuckDB re-reads bit-equal values
    * and re-applies ordering rules (argmax ties included) on exactly the
    * scalars the Spark keeper window ranked.
    */
  private def predSidecar3(name: String, pred: DataFrame,
                           aCol: String, bCol: String,
                           dCol: String): DataFrame = {
    if (sys.props.get("graft.predSidecar").contains("1")) {
      val d = new java.io.File("target/pred_sidecar")
      d.mkdirs()
      val rows = pred.select(col(aCol).cast("long"), col(bCol).cast("long"),
        col(dCol).cast("double"))
        .limit(sidecarMaxRows + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      if (rows.length > sidecarMaxRows) {
        System.err.println(s"[sidecar] $name: > $sidecarMaxRows rows — " +
          "skipping VALUES oracle (rows-only fallback)")
        new java.io.File(d, s"$name.csv").delete()
      } else {
        val w = new java.io.PrintWriter(new java.io.File(d, s"$name.csv"))
        try rows.foreach { case (q, i, x) => w.println(s"$q,$i,$x") }
        finally w.close()
      }
    }
    pred
  }

  /** J1+K1+A1 via J2: exact flat-scan top-k (dot) — the base streams once,
    * each row scores all queries into per-partition top-k buffers
    * (`apps/nvdb_bench.cpp:47-159`, `Search.exactTopKFused`); bit-identical
    * to the broadcast-NLJ path (ScaleSpec gates equality).
    */
  private def knnDot(spark: SparkSession, dir: String): DataFrame =
    Search.exactTopKFused(embBase(spark, dir), embQueries(spark, dir), k = 10, Metric.Dot)
      .select(col("qid"), col("id"), round(col("score"), 4).as("score"))
      .orderBy(col("qid"), col("score").desc, col("id"))

  /** K3/K4: exact k-nearest under squared L2 (the same flat scan). */
  private def knnL2(spark: SparkSession, dir: String): DataFrame =
    Search.exactTopKFused(embBase(spark, dir), embQueries(spark, dir), k = 10, Metric.L2)
      .select(col("qid"), col("id"), round(col("score"), 4).as("dist"))
      .orderBy(col("qid"), col("dist"), col("id"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational / aggregation family (A2, P-family, J-family) ----
    // Money columns are exact ≤2-decimal doubles; aggregate them through
    // exact DECIMAL casts so Spark and the DuckDB oracle sum identically
    // (double-order-dependent sums + round() are engine-dependent at .5
    // boundaries; decimal sums are exact in both).
    "q1_pricing_summary" -> ((s, dir) => {
      // Exact money aggregation without decimal-buffer sums. Money columns
      // carry exactly 2 decimals (4 for the discount product, 6 for the
      // charge product), so round(x*10^s) is an exact integer. Stage 1 sums
      // those longs per (group, input partition) — whole-stage-codegen
      // primitive adds, measured 2.2x faster than decimal sums; the partial
      // is overflow-safe for partitions under ~8e7 rows (charge_scaled
      // ≤ 1.13e11/row vs Long.Max), far above a 128 MB parquet split.
      // Stage 2 merges the few per-partition partials as decimal(38,0) —
      // exact at any scale, negligible row count (groups × partitions).
      // The final decimal→double conversion and divisions are performed
      // identically by the DuckDB oracle on the same exact integers.
      // floor(x*10^s + 0.5), not round(): Spark's Round on doubles goes
      // through BigDecimal.valueOf (a per-value string parse); floor is a
      // single codegen'd Math.floor. The scaled values sit within 1e-7 of
      // an integer, so nearest-integer == floor(x + 0.5) on both engines.
      def cents(c: org.apache.spark.sql.Column, s: Int) =
        floor(c * math.pow(10, s).toLong + lit(0.5)).cast("long")
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val charge = disc * (lit(1) + col("l_tax"))
      val partial = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2000-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          spark_partition_id().as("pid"))
        .agg(
          sum(cents(col("l_quantity"), 2)).as("s_qty"),
          sum(cents(col("l_extendedprice"), 2)).as("s_ep"),
          sum(cents(disc, 4)).as("s_disc"),
          sum(cents(charge, 6)).as("s_charge"),
          sum(cents(col("l_discount"), 2)).as("s_dsc"),
          count(lit(1)).as("pn"))
      def tot(c: String) = sum(col(c).cast("decimal(38,0)")).cast("double")
      partial
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (tot("s_qty") / 100.0).as("sum_qty"),
          (tot("s_ep") / 100.0).as("sum_base_price"),
          (tot("s_disc") / 10000.0).as("sum_disc_price"),
          (tot("s_charge") / 1000000.0).as("sum_charge"),
          (tot("s_qty") / 100.0 / sum(col("pn"))).as("avg_qty"),
          (tot("s_ep") / 100.0 / sum(col("pn"))).as("avg_price"),
          (tot("s_dsc") / 100.0 / sum(col("pn"))).as("avg_disc"),
          sum(col("pn")).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q2_top_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),
    "q3_segment_revenue" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),
    "q4_event_percentiles" -> ((s, dir) => {
      // ONE array-percentile aggregate (single per-group buffer) instead of
      // three scalar percentile calls — at 100× each extra exact-percentile
      // buffer re-materializes every group value in one reducer.
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, array(0.5D, 0.95D, 0.99D))").as("pcts"),
          (sum(col("value").cast("decimal(18,8)")).cast("double") / count(lit(1))).as("avg_value"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          round(col("pcts").getItem(0), 4).as("p50"),
          round(col("pcts").getItem(1), 4).as("p95"),
          round(col("pcts").getItem(2), 4).as("p99"),
          col("avg_value"), col("n"))
        .orderBy(col("event_type"))
    }),
    "q5_filter_project" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-02-01") && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          // single IEEE multiply — bitwise identical in any engine, no round
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Catalyst join-reorder showcase: 3-table join with selective filters
    // on every side (TPC-H Q3 shape); broadcast for the small dim side.
    "q6_ship_priority" -> ((s, dir) => {
      def dec8(c: org.apache.spark.sql.Column) = c.cast("decimal(28,8)")
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1997-06-01"))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1997-06-01"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec8(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }),
    // Window function family: exact running total per customer (decimal
    // accumulation -> order-independent, engine-exact).
    "q7_running_total" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir).filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- vector search family (J1/K1, F1/F5/F8) ----
    "v1_knn_dot" -> ((s, dir) => knnDot(s, dir)),
    "v2_knn_l2" -> ((s, dir) => knnL2(s, dir)),
    // Radius search (FAISS range_search shape, additive): broadcast
    // queries, codegen score, map-side threshold filter — no top-k state,
    // no shuffle. r=1.6 sits 5e-4 from the nearest pair distance, far
    // outside both engines' float→double accumulation noise.
    "v10_range_l2" -> ((s, dir) => {
      Search.rangeSearch(embBase(s, dir), embQueries(s, dir),
        radius = 1.6, Metric.L2)
        .select(col("qid"), col("id"), round(col("score"), 4).as("dist"))
        .orderBy(col("qid"), col("dist"), col("id"))
    }),
    "v3_vector_norms" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          round(VectorFunctions.norm2(col("embedding")), 6).as("norm"),
          VectorFunctions.allFinite(col("embedding")).as("finite"))
        .orderBy(col("vec_id"))
    }),

    // ---- quantization ladder (F2/F3/F6/F7, S5/S6) ----
    "v4_quantize_i8" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir)
        .select(col("vec_id"), VectorFunctions.quantizeI8(col("embedding")).as("q"))
      q.select(
        col("vec_id"),
        col("q.scale").cast("double").as("scale"),
        aggregate(col("q.codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        array_min(col("q.codes")).cast("int").as("code_min"),
        array_max(col("q.codes")).cast("int").as("code_max"))
        .orderBy(col("vec_id"))
    }),
    "v5_half_roundtrip" -> ((s, dir) => {
      // invariant query: every vector survives f16 RNE round-trip within
      // the 2^-11 relative error bound; oracle = plain row count
      val e = Tables.embeddings(s, dir)
      val dec = VectorFunctions.halfDecode(VectorFunctions.halfEncode(col("embedding")))
      val maxErr = array_max(zip_with(col("embedding"), dec, (a, b) => abs(a - b)))
      val bound = array_max(transform(col("embedding"), a => abs(a))) * lit(1.0 / 2048) + lit(1e-7)
      e.filter(maxErr <= bound).agg(count(lit(1)).as("n_ok"))
    }),
    // C5+J4+A3: GT build with both metrics must agree on normalized vectors.
    // r18 (guide §2.4): ONE base scan builds BOTH metrics' ground truth
    // (Search.groundTruthBoth — flat-scan kernels, negated-L2 shared top-k,
    // spec-gated element-equal to the two-groundTruth shape); the former
    // plan scanned and scored the base twice and joined the results.
    "v6_dot_l2_recall" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Search.groundTruthBoth(base, qs, 10)
        .select((size(array_intersect(col("dot_ids"), col("l2_ids"))).cast("double") / 10).as("recall"))
        .agg(avg(col("recall")).as("mean_recall"), count(lit(1)).as("n_queries"))
    }),

    // F2: top-k scored through the fp16 kernel — dotHalf(q, halfEncode(b));
    // oracle dequantizes to the half grid arithmetically in DuckDB.
    "v7_knn_half" -> ((s, dir) => {
      val hbase = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
        VectorFunctions.halfEncode(col("embedding")).as("hbits"))
      Search.exactTopKFusedHalf(hbase, embQueries(s, dir), k = 10)
        .select(col("qid"), col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("score").desc, col("id"))
    }),
    // F3: top-k scored through the int8 kernel — dotI8(q, codes)*scale;
    // oracle replicates v4's bitwise-proven quantization then a double dot.
    "v8_knn_i8" -> ((s, dir) => {
      val qbase = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
        VectorFunctions.quantizeI8(col("embedding")).as("q"))
        .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
      Search.exactTopKFusedI8(qbase, embQueries(s, dir), k = 10)
        .select(col("qid"), col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("score").desc, col("id"))
    }),
    // Cosine top-k (the same exact flat-scan plan, cosine kernel).
    "v9_knn_cosine" -> ((s, dir) => {
      Search.exactTopKFused(embBase(s, dir), embQueries(s, dir), k = 10, Metric.Cosine)
        .select(col("qid"), col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("score").desc, col("id"))
    }),

    // C1/C2/J5: IVF probe recall vs exact scan. Index build + GT are cached
    // DDL (build once, probe per execution — `nvdb_ivf_build` vs
    // `nvdb_ivf_eval`). KMeans isn't SQL-expressible, but the RECALL is:
    // under Verify the predicted ids persist to a sidecar, oracleSql
    // inlines them as VALUES, and DuckDB independently recomputes GT +
    // exact-integer recall — hash-green, with only the clustering itself
    // left to IvfSpec's recall gate.
    "a1_ivf_recall" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val idx = Ivf.buildOrGet(s, base, dir, nlist = 16, ntrain = 2000)
      val pred = predSidecar("a1_ivf_recall",
        Ivf.search(idx.clustered(s), qs, idx.centroids, nprobe = 8, k = 10))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),
    // J5 with a FULL hash oracle: probing ALL nlist lists is exhaustive —
    // every base row sits in exactly one inverted list, so the partition-
    // pruned probe plan (explode nearest-centroids → equi-join on
    // cluster_id → map-side top-k) must reproduce the exact scan bit for
    // bit. Anchors the whole IVF probe machinery against DuckDB at the
    // exactness boundary; the <nlist pruning/recall behavior stays gated
    // in IvfSpec/a1.
    "a6_ivf_fullprobe" -> ((s, dir) => {
      val qs = embQueries(s, dir)
      val idx = Ivf.buildOrGet(s, embBase(s, dir), dir, nlist = 16, ntrain = 2000)
      Ivf.search(idx.clustered(s), qs, idx.centroids, nprobe = 16, k = 10)
        .select(col("qid"), col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("score").desc, col("id"))
    }),
    // C3-rotation exactness anchor (a4's analogue of a6): rotate base AND
    // queries with the cached OPQ rotation, build an IVF index on the
    // rotated space, probe ALL nlist lists. An orthogonal rotation
    // preserves dot-product ranking, so the ids must equal the UNROTATED
    // exact scan's top-k ids (scores are excluded: float rotation perturbs
    // the low bits). Pins rotate → assign → partition-pruned probe end to
    // end against DuckDB; a4's recall behavior stays gated in OpqSpec.
    "a7_opq_fullprobe" -> ((s, dir) => {
      val base = embBase(s, dir)
      val rot = Opq.trainRotationCached(dir, base, m = 8, ksub = 64,
        ntrain = 300, iters = 3)
      val rbase = Opq.rotateTable(base, rot, "vec")
      val rqs = Opq.rotateTable(embQueries(s, dir), rot, "qvec")
      val idx = Ivf.buildOrGet(s, rbase, s"$dir|opqrot", nlist = 16, ntrain = 2000)
      Ivf.search(idx.clustered(s), rqs, idx.centroids, nprobe = 16, k = 10)
        .select(col("qid"), col("id"))
        .orderBy(col("qid"), col("id"))
    }),

    // C4's HNSW-role stand-in: sign-LSH candidate generation + exact
    // re-score — the graph-ANN operating point on the recall/latency
    // frontier, answered by a bucketed equi-join instead of per-query
    // pointer chasing (SURVEY §2.7). Sidecar hash oracle like a1 (seeded
    // Gaussian planes aren't SQL-expressible; the recall computation is);
    // the frontier sweep itself is gated in EvalSpec. Operating point
    // picked from the measured (planes × tables × probes) grid: recall
    // 0.95 at 4 tables × 4 multi-probes — query-side probes carry the
    // recall (free at corpus scale) instead of the old 16-table config
    // whose bucket table was 16× the base (4× here).
    "a8_lsh_recall" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val pred = predSidecar("a8_lsh_recall",
        LshAnn.search(base, qs, k = 10, Metric.Dot, nPlanes = 4, nTables = 4,
          probes = 4, dim = embMeta(s, dir)._2))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C4 proper: sharded HNSW — a true graph-ANN build+search
    // (`apps/nvdb_hnsw_build.cpp:38-49` M/efConstruction,
    // `nvdb_hnsw_search.cpp:33-43` efSearch). The graph builds per shard
    // inside one mapPartitions pass (deterministic: seeded levels,
    // id-sorted insertion), per-shard top-k merges map-side. Sidecar hash
    // oracle like a1/a8 — graph traversal isn't SQL-expressible, the
    // recall of its predicted ids is; graph invariants + the efSearch
    // frontier are gated in HnswSpec/EvalSpec.
    "a9_hnsw_recall" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val pred = predSidecar("a9_hnsw_recall",
        Hnsw.search(base, qs, k = 10, Metric.Dot, m = 8, efConstruction = 64,
          efSearch = 64, nShards = 4, cacheKey = s"$dir|hnsw"))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C4's declared 100 TB serving path, oracle-pinned: ROUTED shard
    // pruning — an 8-centroid coarse quantizer doubles as the shard
    // router (shard = nearest centroid; cached DDL like a1's index), each
    // query probes only its routeProbe=4 of 8 shards, so half the graphs
    // never see the query. Same sidecar hash-oracle pattern as a9
    // (traversal isn't SQL-expressible, the recall of the predicted ids
    // is); the recall-vs-full-fanout and eval-reduction gates for THIS
    // config live in HnswSpec.
    "a11_hnsw_routed" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val router = Ivf.buildOrGet(s, base, dir, nlist = 8, ntrain = 2000)
      val pred = predSidecar("a11_hnsw_routed",
        Hnsw.searchRouted(base, qs, router.centroids, routeProbe = 4, k = 10,
          Metric.Dot, m = 8, efConstruction = 64, efSearch = 64,
          cacheKey = s"$dir|hnswrouted"))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C4's full serving STACK, oracle-pinned end-to-end: the a11 routed
    // flavor answered from the GRAPH STORE. Build once under this key
    // (cached-DDL shape, like a1's index: the store persists under
    // target/ and later runs restore instead of rebuilding), persist
    // with saveWarmed, drop the in-JVM group, restore with
    // warmFromDisk(mapped = true) — the payload stays OFF-HEAP, served
    // through the bitwise-equal ByteBuffer kernel twins — and serve via
    // searchWarm's routed static shard pruning. Store round-trip
    // identity and the mapped read-only contract are gated in HnswSpec;
    // this query pins the composed path (build → persist → mmap-restore
    // → routed serve) under the same sidecar hash oracle as a9/a11.
    "a14_hnsw_store" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val router = Ivf.buildOrGet(s, base, dir, nlist = 8, ntrain = 2000)
      val key = s"$dir|hnswstore"
      // "g1" versions the store format — a format bump must MISS, not
      // misparse (readStore validates magic/version loudly either way)
      val storeDir = s"target/hnsw_store/${Ivf.cacheDigest(s"$key|m8|efc64|s42|Dot|g1")}"
      if (!new java.io.File(s"$storeDir/MANIFEST").isFile) {
        // cold: build the routed group (one action), then persist it
        Hnsw.searchRouted(base, qs, router.centroids, routeProbe = 4,
          k = 10, Metric.Dot, m = 8, efConstruction = 64, efSearch = 64,
          cacheKey = key).count()
        Hnsw.saveWarmed(key, storeDir)
        // drop the build-time heap graphs: the group serving below must
        // be the store-restored one
        Hnsw.invalidate(key)
      }
      // warm ONCE per JVM (re-mapping per execution churns address
      // space: old MappedByteBuffers linger until GC unmaps them).
      // The restore must be COMPLETE before serving with allowMissing:
      // a partial restore (or an LRU-evicted group) would silently drop
      // shards and the sidecar oracle — which recomputes recall from the
      // same degraded predictions — would still agree. Requiring the
      // restored count to equal the manifest keeps the loud-miss
      // contract allowMissing's comment promises.
      if (!Hnsw.warmed(key)) {
        val manifestShards = java.nio.file.Files
          .readString(java.nio.file.Paths.get(s"$storeDir/MANIFEST"))
          .split('\n').count(_.nonEmpty)
        val restored = Hnsw.warmFromDisk(key, storeDir, mapped = true)
        require(restored == manifestShards,
          s"partial store restore: $restored of $manifestShards shards")
      }
      // allowMissing: an empty router cell has no graph anywhere — a
      // probed empty shard must contribute nothing, not crash (the a11
      // direct path has the same semantics implicitly)
      val pred = predSidecar("a14_hnsw_store",
        Hnsw.searchWarm(qs, key, nShards = 8, k = 10, Metric.Dot, m = 8,
          efConstruction = 64, efSearch = 64,
          centroids = router.centroids, routeProbe = 4,
          allowMissing = true))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C4 INCREMENTAL MAINTENANCE, oracle-pinned (r16): the reference's
    // index lifecycle is build-then-serve over a frozen file; a
    // production corpus mutates. This query runs the full maintenance
    // composition — build the routed group on the OLD corpus slice,
    // UPSERT the new slice plus a replace batch (Hnsw.upsertWarmed:
    // tombstone live twin, canonical re-insert), tombstone-DELETE a
    // broadcast id set (Hnsw.deleteWarmed), persist (store v4 carries
    // the tombstones), mmap-restore, serve routed — and gates it
    // against DuckDB, which recomputes ground truth over the LIVE set
    // (the delete predicate is SQL-expressible by construction), the
    // recall of the sidecar predictions, the leaked-tombstone count
    // (must re-derive 0), and the live-corpus cardinality the engine's
    // tombstone bookkeeping reports (n_live) — a disagreement between
    // the graph group's liveSize sum and SQL's live count hash-fails
    // the round. Append/replace/delete semantics are spec-gated
    // bit-exactly in HnswUpsertSpec.
    "a16_hnsw_upsert" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val nAll = embMeta(s, dir)._1
      val cut = (nAll * 3 / 4).toInt
      val router = Ivf.buildOrGet(s, base, dir, nlist = 8, ntrain = 2000)
      val key = s"$dir|hnswupsert"
      val storeDir =
        s"target/hnsw_store/${Ivf.cacheDigest(s"$key|m8|efc64|s42|Dot|v4g1")}"
      if (!new java.io.File(s"$storeDir/MANIFEST").isFile) {
        Hnsw.searchRouted(base.filter(col("id") < cut), qs,
          router.centroids, routeProbe = 4, k = 10, Metric.Dot, m = 8,
          efConstruction = 64, efSearch = 64, cacheKey = key).count()
        // upsert: the new slice + every 97th old id re-writing its own
        // vector (replace semantics — tombstone + canonical re-insert);
        // createMissing: a router cell empty in the old slice may first
        // materialize here
        Hnsw.upsertWarmed(
          base.filter(col("id") >= cut || col("id") % 97 === 5), key,
          nShards = 8, Metric.Dot, m = 8, efConstruction = 64,
          centroids = router.centroids, createMissing = true).count()
        val delIds = base.filter(col("id") % 17 === 3)
          .select(col("id").cast("long")).collect().map(_.getLong(0))
        Hnsw.deleteWarmed(s, key, delIds, nShards = 8)
        Hnsw.saveWarmed(key, storeDir)
        Hnsw.invalidate(key)
      }
      if (!Hnsw.warmed(key)) {
        val manifestShards = java.nio.file.Files
          .readString(java.nio.file.Paths.get(s"$storeDir/MANIFEST"))
          .split('\n').count(_.nonEmpty)
        val restored = Hnsw.warmFromDisk(key, storeDir, mapped = true)
        require(restored == manifestShards,
          s"partial store restore: $restored of $manifestShards shards")
      }
      val pred = predSidecar("a16_hnsw_upsert",
        Hnsw.searchWarm(qs, key, nShards = 8, k = 10, Metric.Dot, m = 8,
          efConstruction = 64, efSearch = 64,
          centroids = router.centroids, routeProbe = 4,
          allowMissing = true))
      val liveBase = base.filter(col("id") % 17 =!= 3)
      val gt = Ivf.cachedGroundTruth(s"$dir|a16live", liveBase, qs, 10,
        Metric.Dot)
      val leaked = pred.filter(col("id") % 17 === 3).count()
      val nLive = Hnsw.liveCountWarmed(key)
      Ivf.recallHits(pred, gt, 10)
        .select(col("n_hits"), col("n_queries"), col("mean_recall"),
          lit(leaked).as("leaked_deleted"), lit(nLive).as("n_live"))
    }),

    // C3's in-process serving TIER, oracle-pinned: `Pq.searchLocalIvf4`
    // answers per-query from a JVM-warmed image of the nibble table +
    // full-precision store (Pq4Spec pins the tier identical to the batch
    // probe; the p50 ~1 ms latency numbers live in BENCH_SCALE). This
    // query routes every oracle query THROUGH the tier and hash-gates
    // the recall of the tier's own predictions — with a14, BOTH
    // in-process tiers (pq4 image, HNSW store) now sit under the DuckDB
    // gate, so a tier serving anything but the batch plan's results
    // fails the round, not a latency footnote.
    "a15_pq4_serve" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val m4 = embMeta(s, dir)._2 / 4
      val idx = Pq.buildOrGetIvf4(s, base, s"$dir|pq4ivf", nlist = 16,
        m4 = m4, ntrain = 100000)
      Pq.warmLocalIvf4(s, idx, s"$dir|pq4serve", base)
      val qRows = qs.select(col("qid").cast("long"), col("qvec"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val rows = qRows.toIndexedSeq.flatMap { case (qid, qv) =>
        Pq.searchLocalIvf4(qv, idx, s"$dir|pq4serve", nprobe = 8, k = 10,
          refineK = 100).map { case (id, score) => (qid, id, score) }
      }
      val pred = predSidecar("a15_pq4_serve",
        s.createDataFrame(rows).toDF("qid", "id", "score"))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C3's batch-Q regime: 4-bit FASTSCAN PQ (André et al. VLDB'15 /
    // FAISS IndexPQFastScan re-expressed on the JDK Vector API — vpermb
    // in-register LUT, exact u16 sums, float-ADC re-rank of survivors).
    // Cached DDL (books + group-transposed code table); same sidecar
    // hash-oracle pattern as a9 (the register kernel isn't
    // SQL-expressible, the recall of its predicted ids is). SIMD==scalar
    // bitwise + pruning gates live in Pq4Spec.
    "a12_pq4_fastscan" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val digest = Ivf.cacheDigest(s"$dir|pq4|v1")
      val booksFile = s"target/pq4_cache/$digest.books.bin"
      val books = Pq.loadBooks(booksFile).getOrElse {
        val m4 = embMeta(s, dir)._2 / 4
        val b = Pq.train(base, m = m4, ksub = 16, ntrain = 100000)
        new java.io.File("target/pq4_cache").mkdirs()
        Pq.saveBooks(booksFile, b)
        b
      }
      val path = s"target/pq4_cache/$digest"
      if (!new java.io.File(s"$path/_SUCCESS").isFile)
        graft.io.QuantizedTables.writePq4Blocked(Pq.encode(base, books), path)
      val pred = predSidecar("a12_pq4_fastscan",
        Pq.searchFastScan(s.read.parquet(path), qs, books, k = 10,
          l2 = false, cand = 64))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C3 at the 100 TB shape: IVF-pruned 4-bit fastscan (FAISS
    // IndexIVFPQFastScan re-expressed — cluster-partitioned nibble table,
    // per-(query, cell) RESIDUAL register LUTs with per-cell reservoirs,
    // parquet partition pruning as the inverted-list skip), candidates
    // refined with exact vectors (a3's refined-arm convention). Sidecar
    // hash oracle like a12; full-probe ≡ row-wise residual-ADC equality,
    // clustered-layout round-trip, and recall gates live in Pq4Spec.
    "a13_pq4_ivf" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val m4 = embMeta(s, dir)._2 / 4
      val idx = Pq.buildOrGetIvf4(s, base, s"$dir|pq4ivf", nlist = 16,
        m4 = m4, ntrain = 100000)
      // refineK=100 is the r12 operating point: the refine budget — not
      // the 4-bit codebook — bound the r11 recall plateau (the r12 sweep
      // at 1M, COVERAGE.md row C3: rk50 0.950 → rk100 0.975, matching the
      // reference's PQ+Refine 0.9758 @ R=100, Performance.md:708-711). r13:
      // the refine FETCH is partition-pruned to the probed cells via the
      // same-quantizer clustered table (the flat flavor's corpus scan was
      // the 3M probe wall) — results identical, and this oracle hash-gates
      // the pruned path end to end.
      val refIdx = Ivf.buildOrGet(s, base, s"$dir|pq4ivf", nlist = 16,
        ntrain = 100000)
      val pred = predSidecar("a13_pq4_ivf",
        Pq.searchFastScanIvfRefinedClustered(refIdx, idx, qs,
          nprobe = 8, k = 10, refineK = 100))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C3 INCREMENTAL MAINTENANCE, oracle-pinned (r16): the PQ family's
    // half of the index-maintenance story (a16 covers the graph family).
    // Both DDL artifacts — the blocked nibble table AND the clustered
    // full-precision refine table — train FROZEN on the old 3/4 slice,
    // then the new slice appends to both under the frozen quantizer +
    // codebooks (Pq.appendIvf4 / Ivf.appendClustered: FAISS's
    // add-after-train split; appended rows land inside their coarse
    // cells, so partition pruning keeps working over the grown tables).
    // The probe then serves the FULL corpus through the maintained
    // artifacts and this oracle hash-gates its recall against the
    // full-corpus DuckDB ground truth — an appended row the probe can't
    // reach (a missed relation invalidation, a block the kernel skips, a
    // refine fetch missing new vectors) drops recall and hash-fails.
    "a17_pq4_append" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val nAll = embMeta(s, dir)._1
      val cut = (nAll * 3 / 4).toInt
      val old = base.filter(col("id") < cut)
      val m4 = embMeta(s, dir)._2 / 4
      val idx = Pq.buildOrGetIvf4(s, old, s"$dir|pq4app", nlist = 16,
        m4 = m4, ntrain = 100000)
      val refIdx = Ivf.buildOrGet(s, old, s"$dir|pq4app", nlist = 16,
        ntrain = 100000)
      // append exactly once per artifact generation, CRASH-SAFE (r17,
      // replacing the r16 STARTED-sentinel + manual-wipe remedy): each
      // append stages under a token and commits through
      // graft.io.StagedAppend, so a crash at ANY point leaves the old
      // tables servable and this very call path recovers on the next
      // run — committed tokens skip, a planted crash replays (Pq4Spec
      // gates the planted-crash recovery). The legacy `_APPENDED`
      // marker still short-circuits: a pre-r17 cached artifact already
      // HOLDS the appended rows, and re-running the (differently-
      // marked) staged appends over it would double-encode the slice.
      val legacyMarker = new java.io.File(s"${idx.path}/_APPENDED")
      if (!legacyMarker.isFile) {
        require(!new java.io.File(s"${idx.path}/_APPEND_STARTED").isFile,
          s"a pre-r17 a17 append crashed mid-way over ${idx.path} — that " +
            "protocol cannot be recovered; wipe this pq4 cache dir and " +
            "the paired ivf cache dir to rebuild under the staged one")
        Pq.appendIvf4(idx, base.filter(col("id") >= cut), token = "a17")
        Ivf.appendClustered(refIdx, base.filter(col("id") >= cut),
          token = "a17")
      }
      val pred = predSidecar("a17_pq4_append",
        Pq.searchFastScanIvfRefinedClustered(refIdx, idx, qs,
          nprobe = 8, k = 10, refineK = 100))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // Predicate-constrained k-NN (additive — the reference has no metadata
    // columns): exact pre-filter anchor, full hash oracle. The widened-IVF
    // and HNSW-post-filter flavors + the auto chooser are recall/plan-gated
    // in FilteredSearchSpec; this pins the semantics they are judged by.
    "a10_filtered_knn" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"), col("label"))
      graft.ops.FilteredSearch.exact(base, col("label") < 5,
        embQueries(s, dir), k = 10)
        .select(col("qid"), col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("score").desc, col("id"))
    }),

    // §3.2 staged composite: IVF probe for k_search = max(refine_k, k)
    // candidates -> exact-L2 refine to k -> recall vs GT
    // (`apps/nvdb_ivf_eval.cpp:310-782`; widening at `:329`). Sidecar
    // hash oracle like a1; the recall ordering gate (refined >=
    // unrefined, refine-skip identity) lives in IvfSpec.
    "a2_ivf_refine_recall" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val idx = Ivf.buildOrGet(s, base, dir, nlist = 16, ntrain = 2000)
      val pred = predSidecar("a2_ivf_refine_recall",
        Ivf.searchRefined(idx.clustered(s), qs, idx.centroids,
          nprobe = 4, k = 10, refineK = 30))
      Ivf.recallHits(pred, Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot), 10)
    }),

    // C3: IVF-PQ — coarse quantizer + residual product codes + ADC probe,
    // then exact-L2 refine of widened candidates
    // (`apps/nvdb_ivfpq_build.cpp:76-129`; PQ+Refine operating point,
    // `Performance.md:621-623`). Build is cached DDL. Rows-only oracle;
    // recall gates live in PqSpec.
    "a3_pq_recall" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val idx = Pq.buildOrGet(s, base, dir, nlist = 16, m = 8, ksub = 256,
        ntrain = 100000)
      val gt = Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot)
      // ONE ADC probe feeds both arms (r17, guide §2.4 — share the pass):
      // the k=40 top-k is prefix-consistent with k=10 under TopKAggregator's
      // strict (score, id) total order, so rank <= 10 of the k=40 probe IS
      // the k=10 probe's rows (same (qid, id, score, rank) values — the
      // adc sidecar and hash gate re-pin this). The former separate
      // adc(k=10) subtree was a second full scan of the encoded code table
      // plus its own TopK shuffle; now both arms grow from one subtree and
      // AQE reuses the exchange. Plan: pq_cache scanned 2× -> 1×.
      val probe40 = Pq.ivfpqSearch(idx, s, qs, nprobe = 8, k = 40)
      val adc = predSidecar("a3_pq_recall.adc",
        probe40.filter(col("rank") <= 10))
      val cands = probe40
        .groupBy("qid").agg(collect_list(col("id")).as("cand_ids"))
        .join(qs, Seq("qid")).select(col("qid"), col("qvec"), col("cand_ids"))
      val refined = predSidecar("a3_pq_recall.refined",
        Search.refine(base, cands, 10))
      Ivf.recallHits(adc, gt, 10)
        .select(col("n_hits").as("adc_hits"), col("n_queries"))
        .crossJoin(Ivf.recallHits(refined, gt, 10)
          .select(col("n_hits").as("refined_hits")))
        .select(col("adc_hits"), col("refined_hits"), col("n_queries"),
          (col("adc_hits").cast("double") / (lit(10L) * col("n_queries")))
            .as("adc_recall"),
          (col("refined_hits").cast("double") / (lit(10L) * col("n_queries")))
            .as("refined_recall"))
    }),

    // C3 (OPQ variant): learned orthogonal rotation → IVF-PQ on the
    // rotated space — the reference's OPQ-PQ index
    // (`apps/nvdb_ivfpq_build.cpp:78-91`). GT is shared with a1-a3
    // (orthogonal rotation preserves L2/dot ranking). Rows-only; gates in
    // OpqSpec.
    "a4_opq_recall" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = recallQueries(s, dir)
      val rot = Opq.trainRotationCached(dir, base, m = 8, ksub = 64,
        ntrain = 300, iters = 3)
      val idx = Pq.buildOrGet(s, Opq.rotateTable(base, rot, "vec"),
        s"$dir|opq", nlist = 16, m = 8, ksub = 256, ntrain = 100000)
      val pred = predSidecar("a4_opq_recall",
        Pq.ivfpqSearch(idx, s, Opq.rotateTable(qs, rot, "qvec"),
          nprobe = 8, k = 10))
      val gt = Ivf.cachedGroundTruth(dir, base, qs, 10, Metric.Dot)
      Ivf.recallHits(pred, gt, 10)
    }),

    // J3 with a FULL hash oracle: the reference's composite stage B
    // (`apps/nvdb_ivf_eval.cpp:278-307`) — candidates from a
    // SQL-expressible generator (per-query exact top-40 by dot), re-ranked
    // by the refine join (explode + equi-join on base id + exact L2
    // top-10). The a2/a3 paths exercise the same join with IVF/PQ
    // candidates; this entry pins its exact semantics against DuckDB.
    "a5_refine_exact" -> ((s, dir) => {
      val base = embBase(s, dir)
      val qs = embQueries(s, dir)
      val cands = Search.exactTopKFused(base, qs, k = 40, Metric.Dot)
        .groupBy("qid").agg(collect_list(col("id")).as("cand_ids"))
        .join(qs, Seq("qid"))
        .select(col("qid"), col("qvec"), col("cand_ids"))
      Search.refine(base, cands, k = 10)
        .select(col("qid"), col("id"), round(col("score"), 4).as("dist"))
        .orderBy(col("qid"), col("dist"), col("id"))
    }),

    // ---- projection / limit / sampling (P1-P3) ----
    "p1_limit_prefix" -> ((s, dir) => {
      Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
        .orderBy(col("vec_id")).limit(100)
    }),
    "p2_sample_hash" -> ((s, dir) => {
      // deterministic hash sample (seeded-sample analogue, engine-agnostic)
      Tables.documents(s, dir)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // P3: seeded random DISTINCT exact-size sample
    // (`tools/nvdb_make_query.cpp:56-75`): rank rows by a seed-keyed hash,
    // take the first qn — distinct by construction, engine-agnostic
    // determinism (same rows in Spark and the oracle for seed "42").
    "p3_seeded_sample" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("rk", md5(concat(lit("42-"), col("doc_id").cast("string"))))
        .orderBy(col("rk"), col("doc_id")).limit(50)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup / text family ----
    "d1_exact_dedup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("h"))
    }),
    "d2_minhash" -> ((s, dir) => {
      // one fused kernel pass computes both signature components. Two
      // components, not four (r9): this hex-digest flavor exists ONLY as
      // the DuckDB-anchored twin of the production sig64 path (d7, which
      // keeps its 4 components at one digest/shingle) — it pays k FULL md5
      // digests per shingle, and k=2 pins the per-component semantics at
      // half the recurring bench cost (d2 was the slowest non-oracle-
      // exempt query at k=4).
      val sig = TextFunctions.minhashSignature(col("text"), 5, 2)
      Tables.documents(s, dir).select(
        col("doc_id"),
        element_at(sig, 1).as("mh0"),
        element_at(sig, 2).as("mh1"))
        .orderBy(col("doc_id"))
    }),
    // r10 workload trim (same discipline as d2's r9 k-halving, recorded
    // in COVERAGE.md's bench-workload ledger): the left sample is 1/100
    // instead of 1/50 — this is a declared LSH correctness oracle (the
    // only sanctioned cross join), so the sample only needs to exercise
    // the jaccard kernel against DuckDB, not carry throughput.
    "d3_jaccard_pairs" -> ((s, dir) => {
      // ONE constant feeds both the prefilter and the threshold (r18,
      // ADVICE r17): the minJaccard length prefilter in ngramJaccardPairs
      // is row-preserving only while minJaccard <= the downstream
      // threshold — splitting the literal invited an edit that silently
      // drops valid pairs. The streamed side is docsPar: the per-pair
      // O(|A|+|B|) merge kernel is the one d/t-family consumer where
      // parallelizing the under-split scan beats the added shuffle
      // (measured norm 1.04 -> 0.77 s; see Tables.parallelized).
      val minJ = 0.25
      Dedup.ngramJaccardPairs(docsPar(s, dir), 5,
        col("doc_id") % 100 === 0, minJaccard = minJ)
        .filter(col("jaccard") >= minJ)
        .orderBy(col("a"), col("b"))
    }),
    // Embedding-cosine near-dup pairs via sign-LSH bucket join (no cross
    // join). The Gaussian planes aren't SQL-expressible, but the verify
    // stage is: the bucket-colliding candidate pairs persist to a sidecar
    // under Verify and DuckDB recomputes cosine + threshold + aggregate
    // from the embeddings itself (the kernel's exact dot/(sqrt·sqrt)
    // formulation, v9-pinned) — full hash oracle; the collision gate
    // stays in PipelineSpec.
    "d4_embedding_dups" -> ((s, dir) => {
      val cand = predSidecar("d4_embedding_dups",
        Dedup.embeddingCandidates(Tables.embeddings(s, dir),
          dim0 = embMeta(s, dir)._2), "a", "b")
      cand.filter(col("cos") >= 0.95)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(round(avg(col("cos")), 4), lit(0.0)).as("mean_cos"))
    }),
    // SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup bucketed
    // by k-means cluster — within-cluster cosine >= tau pairs form dup
    // groups (connected components), min-id keeper per group. Reuses the
    // a2-anchored coarse quantizer (same buildOrGet key), and reads the
    // assignment from the index's CLUSTERED table — cluster_id is a
    // stored partition column, so the whole dedup plan carries ZERO
    // assignment-kernel passes (PlanSpec gates the absence; r12 ran the
    // screened argmin twice per call). FULL pipeline hash oracle
    // downstream of k-means: the (id, cluster) assignments persist to a
    // sidecar and DuckDB re-derives the within-cluster pairs, recomputes
    // cosines (v9-pinned formulation), re-runs the components as a
    // recursive CTE, and re-applies the keeper rule.
    "d13_semantic_dedup" -> ((s, dir) => {
      val idx = Ivf.buildOrGet(s, embBase(s, dir), dir, nlist = 16, ntrain = 2000)
      val assigned = idx.clustered(s).select(col("id").as("vec_id"),
        col("vec").as("embedding"), col("cluster_id"))
      predSidecar("d13_semantic_dedup", assigned, "vec_id", "cluster_id")
      Dedup.semanticDedupAssigned(assigned, tau = 0.95)
        .orderBy(col("vec_id"))
    }),
    // SemDeDup under the PAPER's keep rule (far-from-centroid: keep the
    // least prototypical member, §3 of 2303.09540) — same clustered-table
    // source and candidate/component derivation as d13, but the keeper is
    // argmax over each member's distance to its own cluster centroid.
    // That distance is a per-member SCALAR, so it rides the sidecar
    // (vec_id, cluster_id, cdist) and DuckDB re-applies the argmax rule
    // (ties on smaller id) exactly like d13's min-id — the far rule is
    // oracle-gated end to end, not just spec-gated.
    "d14_semantic_keepers" -> ((s, dir) => {
      val idx = Ivf.buildOrGet(s, embBase(s, dir), dir, nlist = 16, ntrain = 2000)
      val assigned = Dedup.withCentroidDist(
        idx.clustered(s).select(col("id").as("vec_id"),
          col("vec").as("embedding"), col("cluster_id")),
        idx.centroids)
      predSidecar3("d14_semantic_keepers", assigned, "vec_id", "cluster_id", "cdist")
      Dedup.semanticDedupAssigned(assigned, tau = 0.95,
        keepRule = "far_from_centroid")
        .orderBy(col("vec_id"))
    }),
    // r15: the skew-GUARDED SemDeDup path under the full DuckDB gate.
    // The guard's LSH+salt candidate generation isn't SQL-expressible
    // (Gaussian planes, like d4's), so the CANDIDATE PAIRS persist to
    // the sidecar and DuckDB re-derives everything downstream — cosine
    // verify (the v9-pinned formulation), components (recursive CTE),
    // min-id keeper — over exactly the pairs the guarded stage emitted.
    // The planted assignment (a 40 % flood cell + thin 5-row cells) is a
    // pure vec_id expression, so the oracle recomputes it in SQL instead
    // of riding a second sidecar; cap 8 with 4-plane blocks forces BOTH
    // guard arms AND the salt split at fixture scale (flood blocks ~12
    // rows > cap → 2 salt groups per table).
    "d15_semantic_skew" -> ((s, dir) => {
      val assigned = Tables.embeddings(s, dir).select(
        col("vec_id"), col("embedding"),
        when(col("vec_id") < 200, lit(0))
          .otherwise((col("vec_id") % 60 + 1).cast("int")).as("cluster_id"))
      // ONE materialized candidate frame feeds both the sidecar and the
      // decision pass — the oracle's pair set and the dedup's are the
      // same image by construction, and the guarded stage runs once
      val cand = Dedup.semanticCandidatesAssigned(assigned,
        maxCellSize = 8, nBlockPlanes = 4, nBlockTables = 2,
        dim = embMeta(s, dir)._2)
        .localCheckpoint()
      predSidecar("d15_semantic_skew", cand, "a", "b")
      Dedup.semanticDedupFromCandidates(assigned, cand, tau = 0.95)
        .orderBy(col("vec_id"))
    }),
    // r16 (VERDICT r15 #2): d15's skew-guarded candidates under the
    // PAPER's far-from-centroid keeper — the exact composition a 100 TB
    // duplicate-flood run uses: the flood component's candidates come
    // through the salt blocks, and the keeper is argmax(cdist) over that
    // component. The fixture's cdist is each member's distance to the
    // ORIGIN (a shared degenerate centroid — `norm2(embedding)`): the
    // rule's semantics (rank a per-member scalar, ties on smaller id)
    // are exercised identically to d14's real centroid distances, and
    // the exact Spark-ranked doubles ride the d14-style triple sidecar
    // so DuckDB re-applies the argmax over bit-equal scalars (recomputed
    // norms could flip near-ties — the flood's members are all
    // unit-norm-ish, which makes this fixture the adversarial case for
    // exactly that). Candidates ride a second (pairs) sidecar, d15-style.
    "d16_semantic_skew_far" -> ((s, dir) => {
      val assigned = Tables.embeddings(s, dir).select(
        col("vec_id"), col("embedding"),
        when(col("vec_id") < 200, lit(0))
          .otherwise((col("vec_id") % 60 + 1).cast("int")).as("cluster_id"),
        VectorFunctions.norm2(col("embedding")).as("cdist"))
      val cand = Dedup.semanticCandidatesAssigned(assigned,
        maxCellSize = 8, nBlockPlanes = 4, nBlockTables = 2,
        dim = embMeta(s, dir)._2)
        .localCheckpoint()
      predSidecar("d16_semantic_skew_far_pairs", cand, "a", "b")
      predSidecar3("d16_semantic_skew_far", assigned,
        "vec_id", "cluster_id", "cdist")
      Dedup.semanticDedupFromCandidates(assigned, cand, tau = 0.95,
        keepRule = "far_from_centroid")
        .orderBy(col("vec_id"))
    }),
    // Keeper selection over exact-dup groups via the REAL operator
    // (Dedup.exact → explode group members → keep flag) — the per-document
    // canonical-copy decision a dedup pipeline ships downstream, hash-gated
    // end to end.
    "d5_exact_keepers" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir))
        .select(col("h"), col("keep_id"), explode(col("doc_ids")).as("doc_id"))
        .select(col("doc_id"), col("h"),
          (col("doc_id") === col("keep_id")).as("keep"))
        .orderBy(col("doc_id"))
    }),
    // The composite corpus-cleaning pass every training pipeline ships:
    // language gate + quality floor + exact-dup keeper in ONE plan — a
    // single narrow projection computes quality/lang/content-hash, and the
    // keeper decision is a window min over the content hash on that SAME
    // projection, so `documents` (and md5 over its largest column) is
    // scanned exactly once; the only shuffle is the hash-partitioned
    // window. At 100 TB the former second scan-and-hash pass over the full
    // text column was the dominant redundant cost.
    "d6_clean_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val enriched = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), TextAnalysis.defaultStopwords).as("quality"),
        TextFunctions.langId(col("text")).as("pred_lang"),
        md5(col("text")).as("h"))
      enriched
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("h"))))
        .filter(col("doc_id") === col("keep_id") &&
          col("pred_lang") === lit("en") && col("quality") >= 0.75)
        .select(col("doc_id"), col("pred_lang"), col("quality"))
        .orderBy(col("doc_id"))
    }),
    // Scale-path MinHash signature (`HashKernels.minhashSig64`): ONE md5
    // per shingle + k multiply-shift minima, vs d2's k digests per shingle
    // — the per-shingle digest count is THE kernel cost at 100 TB. Full
    // hash oracle: DuckDB reproduces the identical signature from
    // `md5_number_lower(shingle) % P` mixed with the same constants
    // (generated by `HashKernels.mixSqlExpr` — one source of truth), which
    // also pins the md5Lower64 == md5_number_lower equivalence.
    "d7_minhash64" -> ((s, dir) => {
      val sig = VectorFunctions.minhashSig64(col("text"), n = 5, k = 4)
      Tables.documents(s, dir).select(
        col("doc_id"),
        element_at(sig, 1).as("mh0"),
        element_at(sig, 2).as("mh1"),
        element_at(sig, 3).as("mh2"),
        element_at(sig, 4).as("mh3"))
        .orderBy(col("doc_id"))
    }),
    // SimHash with md5-lower-64 token hashes: the whole 64-bit fingerprint
    // is reproduced bit for bit in SQL (per-bit majority votes over
    // `md5_number_lower(token)`), hash-anchoring the vote rule and the
    // signed-long bit packing end to end. The FNV flavor stays the fast
    // default (SimHashSpec gates the family properties).
    "d8_simhash_md5" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        VectorFunctions.simhashMd5(TextFunctions.tokens(col("text"))).as("sig"))
        .orderBy(col("doc_id"))
    }),
    // Banded-LSH candidate generation with a FULL hash oracle: the sig64
    // family is md5-reproducible in SQL, so — unlike the seeded-Gaussian
    // d4 LSH — the entire candidate pass (signature → band keys → bucket
    // self-join → distinct pairs) pins against DuckDB exactly.
    // bands=4 × rowsPerBand=4: still ONE digest per shingle, and 4-row
    // band keys keep buckets healthy on templated synthetic text
    // (2-row keys collapse half the corpus into one bucket).
    "d9_lsh64_pairs" -> ((s, dir) => {
      Dedup.minhashLshPairs64(Tables.documents(s, dir), shingleSize = 5,
        bands = 4, rowsPerBand = 4)
        .orderBy(col("a"), col("b"))
    }),
    // SimHash-banded near-dup detection, candidate-then-verify, with a
    // FULL hash oracle: the md5-flavor fingerprint, its 16-bit band
    // slices, the bucket self-join, and the Hamming verification are all
    // reproduced in SQL. Completes the dedup family's oracle coverage:
    // exact (d1/d5), MinHash hex (d2), MinHash sig64 (d7), MinHash-LSH
    // candidates (d9), SimHash fingerprint (d8) + banded pairs (here),
    // and the embedding LSH (d4) via its candidate-pair sidecar.
    "d10_simhash_dups" -> ((s, dir) => {
      Dedup.simhashNearDups(Tables.documents(s, dir), maxHamming = 8, bands = 4)
        .orderBy(col("a"), col("b"))
    }),
    // Benchmark decontamination: flag training docs sharing any token
    // 4-gram with the held-out benchmark slice (doc_id % 97 == 0) — the
    // eval-set-overlap removal pass every training pipeline runs (13-gram
    // in the published recipes; 4 here because the synthetic corpus has no
    // longer shared spans). Benchmark grams broadcast; the corpus never
    // shuffles to discover hits.
    "d11_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        corpus = docs.filter(col("doc_id") % 97 =!= 0),
        benchmark = docs.filter(col("doc_id") % 97 === 0),
        gramTokens = 4)
        .orderBy(col("doc_id"))
    }),
    // Exact-size stratified sample (10 per language), seeded + engine-
    // reproducible: per-stratum counts drive a map-side rank-cutoff filter
    // so the row_number window sees ~80 rows per stratum, not the corpus.
    // The 20-bit rank is md5_lower64 & 0xFFFFF — the d7/d8-pinned DuckDB
    // md5_number_lower equivalence, power-of-two mod so signedness is moot.
    "p4_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedSample(Tables.documents(s, dir),
        col("lang"), n = 10, idCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // Epoch-mixing sampler: a 100-doc corpus sample allocated across
    // sources by TOKEN share (downsample overrepresented sources) — the
    // weighted flavor of p4. Quotas come from mixingStats' exact token
    // shares; floor(x+0.5) rounding (not round(): banker's-vs-half-up
    // differs across engines, q1's lesson).
    "p5_weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // ONE aggregation feeds both the quota AND the sampler's stratum
      // count (quotas carry cnt) — the corpus is scanned twice total
      // (stats pass + sample pass), exactly the oracle's shape. The token
      // grand total is a one-row broadcast crossJoin, not an empty-
      // partition window (same cost, no single-task window node).
      val per = docs.groupBy(col("source").as("stratum"))
        .agg(count(lit(1)).as("cnt"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"))
      val quotas = per.crossJoin(broadcast(tot)).select(col("stratum"), col("cnt"),
        floor(col("n_tokens").cast("double") / col("tot_tokens") * 100 + lit(0.5))
          .cast("long").as("n"))
      graft.ops.Sampling.weightedSample(docs, col("source"), quotas, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // CCNet-style boilerplate signal: token 3-grams shared by >= 5 docs
    // are boilerplate; each doc reports its boilerplate fraction. Gram
    // doc-frequency is one shuffle-on-gram agg; the boilerplate set joins
    // back as a plain equi-join (it grows with the corpus — not
    // broadcastable, unlike d11's fixed-size benchmark).
    "d12_boilerplate" -> ((s, dir) => {
      Dedup.boilerplateRatio(Tables.documents(s, dir), gramTokens = 3, minDocs = 5)
        .orderBy(col("doc_id"))
    }),
    "t1_text_stats" -> ((s, dir) => {
      TextAnalysis.textStats(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_chars_text").cast("long").as("n_chars_text"),
          col("n_tokens").cast("long").as("n_tokens"), col("punct_ratio"),
          col("stopword_ratio"), col("avg_token_len"), col("quality"))
        .orderBy(col("doc_id"))
    }),
    "t2_langid" -> ((s, dir) => {
      TextAnalysis.langId(Tables.documents(s, dir))
        .select(col("doc_id"), col("en_hits").cast("long").as("en_hits"),
          col("de_hits").cast("long").as("de_hits"),
          col("fr_hits").cast("long").as("fr_hits"),
          col("es_hits").cast("long").as("es_hits"), col("pred_lang"))
        .orderBy(col("doc_id"))
    }),
    "t3_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprints(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),
    // Within-doc repetition signals (Gopher-style quality filters):
    // distinct-token ratio + token-3-gram duplicate fraction, HOF-only.
    "t5_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),
    // Corpus mixing stats per source: token totals, share, and the
    // upsample factor for a uniform token mix across sources.
    "t6_mixing_stats" -> ((s, dir) => {
      TextAnalysis.mixingStats(Tables.documents(s, dir))
        .orderBy(col("source"))
    }),

    // S8: ingest pipeline — chunk + sidecar metadata join
    // (`scripts/build_vecbin_chunked.py:155-225,345-352`). Token-window
    // chunking here because the synthetic docs have no sentence
    // punctuation AND it is SQL-expressible for the oracle; the
    // sentence-aware greedy chunker + stub embed are gated in IngestSpec.
    "s8_chunks" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // lang rides the chunk explode (r17): the former join back to
      // `documents` for a column already on the doc row scanned the corpus
      // twice — chunks ⊆ docs on doc_id, so the carried flavor is
      // row-identical (hash-gated) with one scan and zero joins
      graft.ops.Ingest.chunkByTokens(docs, 20, carry = Seq("lang"))
        .select(col("doc_id"), col("chunk_index"),
          length(col("chunk")).cast("long").as("n_chars_chunk"),
          md5(col("chunk")).as("chunk_md5"), col("lang"))
        .orderBy(col("doc_id"), col("chunk_index"))
    }),

    // GPT-style sequence packing manifest: concatenate docs per
    // (source, shard) in id order into 128-token streams; each doc
    // reports stream offset, first sequence id, sequences spanned.
    // shards=2 demonstrates the hot-stratum split (salting analogue).
    "s9_pack" -> ((s, dir) => {
      graft.ops.Packing.pack(Tables.documents(s, dir), budget = 128,
        shards = 2, stratum = "source")
        .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
          col("start_off"), col("seq_id"), col("n_seqs"))
        .orderBy(col("doc_id"))
    }),

    // ---- events family (A2-adjacent; streaming-shaped batch) ----
    "e1_hourly_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(graft.core.EventTime.micros(ev).as("ts_us"),
          col("user_id"), col("value"))
        .groupBy(expr("ts_us div 3600000000").as("hour_bucket"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          (sum(col("value").cast("decimal(18,8)")).cast("double")).as("sum_value"))
        .orderBy(col("hour_bucket"))
    }),
    "e2_user_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir).filter(col("user_id") < 20)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("rn"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // Gap-based sessionization, batch flavor (the streaming twin is gated
    // stream==batch in SessionizeSpec). sum_value omitted: double sums
    // are order-dependent; the count/extent columns are exact.
    "e3_sessions" -> ((s, dir) => {
      graft.streaming.Sessionize.batch(Tables.events(s, dir), gapMinutes = 120)
        .select(col("user_id"), col("start_micros"), col("end_micros"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_micros"))
    }),
    // Token counting: whitespace tokens + BPE-ish regex token classes
    // (letters / digits / single punctuation, the GPT-2 pretokenizer
    // shape). One fused kernel pass per row — the regexp Column twins
    // (three regex scans) are the parity-spec oracle.
    "t4_token_classes" -> ((s, dir) => {
      TextAnalysis.tokenClasses(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    // Point-in-time (as-of) join — the feature-lookup primitive Spark has
    // no native operator for: each purchase matches the latest view at or
    // before it per user. One shuffle + window, NO join node (a range-join
    // formulation is quadratic on skewed keys); DuckDB's native ASOF LEFT
    // JOIN is the oracle.
    "e5_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // work in epoch-micros on BOTH sides of the join: DuckDB evaluates
      // its ASOF at µs precision whatever the fixture's stored unit, so
      // any finer precision here would diverge from the oracle (and from
      // the streaming twin) whenever a probe and quote share a microsecond
      val tsUs = graft.core.EventTime.micros(ev)
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), tsUs.as("ts"),
          col("event_id").as("p_event_id"))
      val quotes = ev.filter(col("event_type") === "view")
        .select(col("user_id"), tsUs.as("ts"),
          col("event_id").as("q_event_id"), col("value").as("q_value"))
      graft.ops.AsofJoin.asofLeft(probes, quotes, key = "user_id", ts = "ts",
        quoteSeq = "q_event_id")
        .select(col("user_id"), col("p_event_id"), col("ts").as("p_ts_micros"),
          col("q_event_id"), col("q_value"))
        .orderBy(col("p_event_id"))
    }),

    // Quantile-threshold quality gate: keep docs at or above their
    // language's p75 length — per-stratum thresholds from one bounded
    // aggregation, broadcast back, filtered map-side (no corpus window).
    "t7_quality_gate" -> ((s, dir) => {
      TextAnalysis.quantileGate(Tables.documents(s, dir),
        stratum = "lang", metric = "n_chars", q = 0.75)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Semi-structured props: JSON field extraction + exact integer rollup
    // (the metadata-sidecar shape of a real event pipeline).
    "e4_props_rollup" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // ---- multimodal plumbing (binary columns + stub decode) ----
    "m1_binary_meta" -> ((s, dir) => {
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      media.select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        (lit(64) + octet_length(col("payload")) % 1024).cast("int").as("fake_width"),
        (lit(64) + (octet_length(col("payload")) * 7) % 768).cast("int").as("fake_height"),
        (lit(1) + octet_length(col("payload")) % 30).cast("int").as("fake_frames"))
        .orderBy(col("doc_id"))
    }),
    // Frame-sampling explode over the stubbed video payloads (deterministic
    // byte-stat "frames", real explode/partition shape).
    "m2_frame_sample" -> ((s, dir) => {
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      graft.ops.Multimodal.sampleFrames(media, stride = 5)
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("frame_idx"), col("frame_off"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
        |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_top_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q3_segment_revenue" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_event_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  CAST(sum(CAST(value AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS avg_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q5_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-02-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q6_ship_priority" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q7_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "e3_sessions" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS ts_micros
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts_micros,
        |    CASE WHEN lag(ts_micros) OVER w IS NULL
        |           OR ts_micros - lag(ts_micros) OVER w > 7200000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_micros)),
        |g AS (
        |  SELECT user_id, ts_micros,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_micros
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, min(ts_micros) AS start_micros,
        |  max(ts_micros) AS end_micros, count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, start_micros""".stripMargin,
    "t4_token_classes" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_word_tokens,
        |  len(regexp_extract_all(text, '[0-9]+')) AS n_num_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m2_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, CAST(u AS INT) AS frame_idx,
        |  CAST(u * 5 AS INT) AS frame_off
        |FROM (SELECT doc_id, n,
        |  unnest(range(0, CAST(floor((n % 30) / 5.0) AS BIGINT) + 1)) AS u FROM m)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "v1_knn_dot" ->
      """SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS score
        |FROM embeddings q CROSS JOIN embeddings b
        |WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10
        |ORDER BY qid, score DESC, id""".stripMargin,
    // exact filtered anchor: v1's oracle with the base-side predicate
    "a10_filtered_knn" ->
      """SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS score
        |FROM embeddings q CROSS JOIN embeddings b
        |WHERE q.vec_id < 5 AND b.label < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10
        |ORDER BY qid, score DESC, id""".stripMargin,
    // full-probe IVF == exact scan: same oracle as v1_knn_dot
    "a6_ivf_fullprobe" ->
      """SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS score
        |FROM embeddings q CROSS JOIN embeddings b
        |WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10
        |ORDER BY qid, score DESC, id""".stripMargin,
    // rotation-exactness anchor: ids of the UNROTATED exact top-k (an
    // orthogonal rotation preserves dot ranking; scores excluded)
    "a7_opq_fullprobe" ->
      """SELECT qid, id FROM (
        |  SELECT q.vec_id AS qid, b.vec_id AS id
        |  FROM embeddings q CROSS JOIN embeddings b
        |  WHERE q.vec_id < 5
        |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10)
        |ORDER BY qid, id""".stripMargin,
    "a5_refine_exact" ->
      """WITH cand AS (
        |  SELECT q.vec_id AS qid, b.vec_id AS id,
        |    q.embedding AS qe, b.embedding AS be
        |  FROM embeddings q CROSS JOIN embeddings b
        |  WHERE q.vec_id < 5
        |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 40)
        |SELECT qid, id,
        |  round(list_distance(CAST(qe AS DOUBLE[]), CAST(be AS DOUBLE[])) ** 2, 4) AS dist
        |FROM cand
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY list_distance(CAST(qe AS DOUBLE[]), CAST(be AS DOUBLE[])), id) <= 10
        |ORDER BY qid, dist, id""".stripMargin,
    "v2_knn_l2" ->
      """SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) ** 2, 4) AS dist
        |FROM embeddings q CROSS JOIN embeddings b
        |WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), b.vec_id) <= 10
        |ORDER BY qid, dist, id""".stripMargin,
    // v2's distance formula with a WHERE threshold instead of a QUALIFY rank
    "v10_range_l2" ->
      """SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) ** 2, 4) AS dist
        |FROM embeddings q CROSS JOIN embeddings b
        |WHERE q.vec_id < 5
        |  AND list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) ** 2 <= 1.6
        |ORDER BY qid, dist, id""".stripMargin,
    "v3_vector_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6) AS norm,
        |  NOT list_aggregate(list_transform(embedding, x -> isnan(x) OR isinf(x)), 'bool_or') AS finite
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "d5_exact_keepers" ->
      """SELECT doc_id, md5(text) AS h,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d6_clean_corpus" ->
      """WITH t AS (
        |  SELECT doc_id, md5(text) AS h,
        |    0.25 * (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
        |    + 0.25 * (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END)
        |    + 0.25 * (CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> list_contains(['the','a','of','and','to','is','in','that','it','for'], t))) AS DOUBLE) / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) >= 0.05 THEN 1.0 ELSE 0.0 END)
        |    + 0.25 * (CASE WHEN CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |    AS quality,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['the','a','of','and','to','is','in'], t))) AS en_hits,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['der','die','und','das','ist','nicht','ein'], t))) AS de_hits,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['le','la','et','les','des','une','est'], t))) AS fr_hits,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['el','los','las','una','es','y','que'], t))) AS es_hits
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, h, quality,
        |    CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) < 1 THEN 'und'
        |         WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |         WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |         WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |         ELSE 'es' END AS pred_lang
        |  FROM t),
        |k AS (
        |  SELECT md5(text) AS h, min(doc_id) AS keep_id
        |  FROM documents GROUP BY md5(text))
        |SELECT l.doc_id, l.pred_lang, l.quality
        |FROM l JOIN k ON l.h = k.h
        |WHERE l.doc_id = k.keep_id AND l.pred_lang = 'en' AND l.quality >= 0.75
        |ORDER BY l.doc_id""".stripMargin,
    // i8 quantization: FLOAT arithmetic kept FLOAT end-to-end so the scale
    // and codes match the engine's float kernels bitwise
    "v4_quantize_i8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) / CAST(127 AS FLOAT) AS scale_f
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, scale_f,
        |    list_transform(embedding, x -> greatest(-127, least(127,
        |      CAST(round_even(CAST(x / scale_f AS DOUBLE), 0) AS BIGINT)))) AS codes
        |  FROM s)
        |SELECT vec_id, CAST(scale_f AS DOUBLE) AS scale,
        |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
        |  CAST(list_aggregate(codes, 'min') AS INTEGER) AS code_min,
        |  CAST(list_aggregate(codes, 'max') AS INTEGER) AS code_max
        |FROM c ORDER BY vec_id""".stripMargin,
    "v5_half_roundtrip" ->
      "SELECT count(*) AS n_ok FROM embeddings",
    // f16 grid emulated arithmetically: ulp = 2^(e-10) for normals
    // (e = floor(log2|x|)), 2^-24 for subnormals; RNE via round_even.
    // Exact: float*2^k and the rounded result are exactly representable.
    "v7_knn_half" ->
      """WITH hb AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x ->
        |    CASE WHEN x = 0 THEN CAST(0 AS DOUBLE)
        |         WHEN abs(x) < 0.00006103515625
        |           THEN round_even(x * 16777216.0, 0) / 16777216.0
        |         ELSE round_even(x * pow(2, 10 - floor(log2(abs(x)))), 0)
        |              * pow(2, floor(log2(abs(x))) - 10)
        |    END) AS hvec
        |  FROM embeddings)
        |SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), b.hvec), 4) AS score
        |FROM embeddings q CROSS JOIN hb b
        |WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), b.hvec) DESC, b.vec_id) <= 10
        |ORDER BY qid, score DESC, id""".stripMargin,
    // int8 codes exactly as the (bitwise-proven) v4 oracle; score =
    // double dot over integer codes × float scale widened to double.
    "v8_knn_i8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) / CAST(127 AS FLOAT) AS scale_f
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, CAST(scale_f AS DOUBLE) AS scale,
        |    list_transform(embedding, x -> CAST(greatest(-127, least(127,
        |      CAST(round_even(CAST(x / scale_f AS DOUBLE), 0) AS BIGINT))) AS DOUBLE)) AS codes
        |  FROM s)
        |SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), b.codes) * b.scale, 4) AS score
        |FROM embeddings q CROSS JOIN c b
        |WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), b.codes) * b.scale DESC, b.vec_id) <= 10
        |ORDER BY qid, score DESC, id""".stripMargin,
    "v9_knn_cosine" ->
      """SELECT q.vec_id AS qid, b.vec_id AS id,
        |  round(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 4) AS score
        |FROM embeddings q CROSS JOIN embeddings b
        |WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) DESC, b.vec_id) <= 10
        |ORDER BY qid, score DESC, id""".stripMargin,
    "v6_dot_l2_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 20),
        |d AS (SELECT q.qid, b.vec_id AS id FROM q CROSS JOIN embeddings b
        |      QUALIFY row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10),
        |l AS (SELECT q.qid, b.vec_id AS id FROM q CROSS JOIN embeddings b
        |      QUALIFY row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), b.vec_id) <= 10),
        |dp AS (SELECT qid, list(id) AS pids FROM d GROUP BY qid),
        |lp AS (SELECT qid, list(id) AS gids FROM l GROUP BY qid)
        |SELECT avg(CAST(len(list_intersect(pids, gids)) AS DOUBLE) / 10) AS mean_recall,
        |  count(*) AS n_queries
        |FROM dp JOIN lp USING (qid)""".stripMargin,
    "p1_limit_prefix" ->
      "SELECT vec_id, label FROM embeddings ORDER BY vec_id LIMIT 100",
    "p2_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,
    "p3_seeded_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  ORDER BY md5('42-' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin,
    "d2_minhash" ->
      """SELECT doc_id,
        |  list_min(list_transform(range(1, greatest(length(text)-4, 1)+1), i -> md5('0' || substr(text, CAST(i AS INT), 5)))) AS mh0,
        |  list_min(list_transform(range(1, greatest(length(text)-4, 1)+1), i -> md5('1' || substr(text, CAST(i AS INT), 5)))) AS mh1
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Generated from HashKernels.mixSqlExpr so the mix constants exist in
    // exactly one place; md5_number_lower == md5Lower64 (little-endian
    // digest bytes 8..15) and the unsigned mod are pinned by this gate.
    "d7_minhash64" -> {
      val mh = (0 until 4).map(s =>
        s"  list_min(list_transform(xs, xm -> ${graft.functions.expressions.HashKernels.mixSqlExpr(s)})) AS mh$s")
        .mkString(",\n")
      s"""WITH x AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(length(text)-4, 1)+1),
         |      i -> CAST(md5_number_lower(substr(text, CAST(i AS INT), 5)) % ${graft.functions.expressions.HashKernels.MixP} AS BIGINT)) AS xs
         |  FROM documents)
         |SELECT doc_id,
         |$mh
         |FROM x ORDER BY doc_id""".stripMargin
    },
    // Per-bit majority vote over md5_number_lower(token); bit 63 lands as
    // the sign bit of the BIGINT (added as Long.MinValue), matching the
    // kernel's signed-long packing.
    "d8_simhash_md5" -> {
      val terms = (0 until 64).map { b =>
        val w = if (b == 63) "-9223372036854775808" else (1L << b).toString
        s"CASE WHEN 2*len(list_filter(hs, h -> (h >> $b) & 1 = 1)) > len(hs) THEN $w ELSE 0 END"
      }.mkString("\n  + ")
      s"""WITH t AS (
         |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'),
         |    s -> md5_number_lower(s)) AS hs FROM documents)
         |SELECT doc_id, CAST($terms AS BIGINT) AS sig
         |FROM t ORDER BY doc_id""".stripMargin
    },
    // Same generated mix constants as d7; band keys are '|'-joined decimal
    // components, the bucket self-join mirrors Dedup.minhashLshPairs64.
    "d9_lsh64_pairs" -> {
      val bands = 4
      val rows = 4
      val comps = (0 until bands * rows).map(s =>
        s"list_min(list_transform(xs, xm -> ${graft.functions.expressions.HashKernels.mixSqlExpr(s)}))")
        .mkString(", ")
      val keyExpr = (0 until rows)
        .map(r => s"CAST(sig[band*$rows+${r + 1}] AS VARCHAR)")
        .mkString(" || '|' || ")
      s"""WITH x AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(length(text)-4, 1)+1),
         |      i -> CAST(md5_number_lower(substr(text, CAST(i AS INT), 5)) % ${graft.functions.expressions.HashKernels.MixP} AS BIGINT)) AS xs
         |  FROM documents),
         |s AS (SELECT doc_id, [$comps] AS sig FROM x),
         |k AS (SELECT doc_id, band, $keyExpr AS key
         |  FROM s CROSS JOIN (SELECT unnest(range($bands)) AS band)),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM k l JOIN k r USING (band, key)
         |  WHERE l.doc_id < r.doc_id)
         |SELECT DISTINCT a, b FROM p ORDER BY a, b""".stripMargin
    },
    // The u64 fingerprint is rebuilt vote-by-vote (d8's construction,
    // unsigned flavor), sliced into 16-bit band keys with unsigned
    // shifts, bucket-self-joined, and Hamming-verified via
    // bit_count(xor) — bit-identical to the engine's signed-long path
    // because both views share the same 64-bit pattern.
    "d10_simhash_dups" -> {
      val terms = (0 until 64).map { b =>
        s"CASE WHEN 2*len(list_filter(hs, h -> (h >> $b) & 1 = 1)) > len(hs) THEN ${1L << b}::UBIGINT ELSE 0::UBIGINT END"
      }.mkString("\n  + ")
      s"""WITH t AS (
         |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'),
         |    s -> md5_number_lower(s)) AS hs FROM documents),
         |u AS (SELECT doc_id, ($terms) AS sig FROM t),
         |k AS (SELECT doc_id, band, CAST((sig >> (16*band)) & 65535 AS BIGINT) AS key, sig
         |  FROM u CROSS JOIN (SELECT unnest(range(4)) AS band)),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b, l.sig AS sa, r.sig AS sb
         |  FROM k l JOIN k r USING (band, key) WHERE l.doc_id < r.doc_id),
         |d AS (SELECT DISTINCT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM p)
         |SELECT a, b, hamming FROM d WHERE hamming <= 8 ORDER BY a, b""".stripMargin
    },
    "d3_jaccard_pairs" ->
      """WITH n AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(length(text)-4, 1)+1),
        |    i -> substr(text, CAST(i AS INT), 5))) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM n a CROSS JOIN n b
        |  WHERE a.doc_id % 100 = 0 AND a.doc_id < b.doc_id)
        |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.25 ORDER BY a, b""".stripMargin,
    // Same truncated-window gram semantics as the Spark side (docs shorter
    // than the gram size contribute their single truncated window); grams
    // keyed by md5_number_lower == the engine's md5Lower64 (d7/d8-pinned)
    // — 8-byte longs, the scale-path join key.
    "d11_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-3, 1)+1),
        |    i -> md5_number_lower(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+3], ' ')))) AS grams
        |  FROM t),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |hits AS (
        |  SELECT cg.doc_id, count(*) AS n_hit_grams
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0) cg
        |  JOIN bg USING (gram) GROUP BY cg.doc_id)
        |SELECT d.doc_id, coalesce(h.n_hit_grams, 0) AS n_hit_grams,
        |  coalesce(h.n_hit_grams, 0) = 0 AS keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // The rank-cutoff filter is part of the sample's definition — both
    // engines apply it identically, so exactness is by construction.
    // u = md5_number_lower % 2^20 == the engine's md5_lower64 & 0xFFFFF.
    "p4_stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |f AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    CAST(md5_number_lower('p4-' || CAST(d.doc_id AS VARCHAR)) % 1048576 AS BIGINT) AS u,
        |    c.cnt
        |  FROM documents d JOIN c USING (lang)
        |  WHERE CAST(md5_number_lower('p4-' || CAST(d.doc_id AS VARCHAR)) % 1048576 AS BIGINT) * c.cnt
        |    < 8 * 10 * 1048576)
        |SELECT doc_id, lang, n_chars FROM f
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) <= 10
        |ORDER BY doc_id""".stripMargin,
    // Rows in e are distinct per (doc, gram), so count(*) == doc frequency.
    "d12_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |    i -> md5_number_lower(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')))) AS grams
        |  FROM t),
        |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |c AS (SELECT gram, count(*) AS df FROM e GROUP BY gram),
        |b AS (SELECT gram FROM c WHERE df >= 5),
        |h AS (SELECT e.doc_id, count(*) AS nb FROM e JOIN b USING (gram) GROUP BY e.doc_id)
        |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  coalesce(h.nb, 0) AS n_bp_grams,
        |  CAST(coalesce(h.nb, 0) AS DOUBLE) / greatest(len(grams), 1) AS bp_ratio
        |FROM g LEFT JOIN h USING (doc_id) ORDER BY g.doc_id""".stripMargin,
    // Quota = floor(token_share * 100 + 0.5) with token_share computed
    // exactly as t6's oracle; same rank/cutoff machinery as p4 under the
    // 'p5' seed, with the per-stratum quota inside the cutoff and QUALIFY.
    "p5_weighted_sample" ->
      """WITH s AS (
        |  SELECT source, count(*) AS cnt,
        |    sum(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens
        |  FROM documents GROUP BY source),
        |q AS (
        |  SELECT source, cnt,
        |    CAST(floor(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () * 100 + 0.5) AS BIGINT) AS n
        |  FROM s),
        |f AS (
        |  SELECT d.doc_id, d.source, d.n_chars,
        |    CAST(md5_number_lower('p5-' || CAST(d.doc_id AS VARCHAR)) % 1048576 AS BIGINT) AS u,
        |    q.cnt, q.n
        |  FROM documents d JOIN q USING (source)
        |  WHERE CAST(md5_number_lower('p5-' || CAST(d.doc_id AS VARCHAR)) % 1048576 AS BIGINT) * q.cnt
        |    < 8 * q.n * 1048576)
        |SELECT doc_id, source, n_chars FROM f
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY u, doc_id) <= n
        |ORDER BY doc_id""".stripMargin,
    // Exact-integer divisions only — no rounding, IEEE-identical.
    "t5_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_token_ratio,
        |    list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |      i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')) AS g3
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, distinct_token_ratio,
        |  CAST(len(g3) AS BIGINT) AS n_grams,
        |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / greatest(len(g3), 1) AS gram_dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "t6_mixing_stats" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens,
        |    sum(length(text)) AS n_chars
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS token_share,
        |  (CAST(sum(n_tokens) OVER () AS DOUBLE) / count(*) OVER ())
        |    / CAST(n_tokens AS DOUBLE) AS upsample_factor
        |FROM s ORDER BY source""".stripMargin,
    "t1_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars_text,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS punct_ratio,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> list_contains(['the','a','of','and','to','is','in','that','it','for'], t))) AS DOUBLE)
        |    / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS stopword_ratio,
        |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |    / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS avg_token_len,
        |  0.25 * (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
        |  + 0.25 * (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END)
        |  + 0.25 * (CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> list_contains(['the','a','of','and','to','is','in','that','it','for'], t))) AS DOUBLE) / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) >= 0.05 THEN 1.0 ELSE 0.0 END)
        |  + 0.25 * (CASE WHEN CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |  AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_langid" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['the','a','of','and','to','is','in'], t))) AS en_hits,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['der','die','und','das','ist','nicht','ein'], t))) AS de_hits,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['le','la','et','les','des','une','est'], t))) AS fr_hits,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['el','los','las','una','es','y','que'], t))) AS es_hits
        |  FROM documents)
        |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
        |  CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) < 1 THEN 'und'
        |       WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |       WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |       WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin,
    "t3_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  list_min(list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |    i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')))) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,
    // DuckDB's native ASOF LEFT JOIN pins the union-window formulation;
    // quotes deduped per (user, µs-truncated ts) by max event_id so
    // equal-timestamp ties are deterministic. The dedupe key is the
    // TRUNCATED timestamp on BOTH engines: partitioning the oracle by raw
    // `ts` only matched because DuckDB 1.0 reads parquet timestamp[ns] at
    // µs precision — a DuckDB with native ns would silently change the key.
    "e5_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_event_id,
        |    CAST(epoch_ns(ts) // 1000 AS BIGINT) AS p_ts_micros
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id AS q_event_id,
        |    CAST(epoch_ns(ts) // 1000 AS BIGINT) AS q_ts, value AS q_value
        |  FROM events WHERE event_type = 'view'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ns(ts) // 1000
        |                             ORDER BY event_id DESC) = 1)
        |SELECT p.user_id, p.p_event_id, p.p_ts_micros, v.q_event_id, v.q_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.p_ts_micros >= v.q_ts
        |ORDER BY p.p_event_id""".stripMargin,
    // quantile_cont == Spark percentile (the q4-pinned interpolation), so
    // the per-lang threshold and the kept set are engine-exact.
    "t7_quality_gate" ->
      """WITH t AS (
        |  SELECT lang, quantile_cont(n_chars, 0.75) AS thr
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, lang, n_chars
        |FROM documents JOIN t USING (lang)
        |WHERE CAST(n_chars AS DOUBLE) >= thr
        |ORDER BY doc_id""".stripMargin,
    "e4_props_rollup" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same integer-div layout arithmetic; ROWS BETWEEN ... 1 PRECEDING
    // mirrors Spark's rowsBetween(unboundedPreceding, -1).
    "s9_pack" ->
      """WITH d AS (
        |  SELECT doc_id, source, doc_id % 2 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, shard, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM d)
        |SELECT doc_id, source, shard, n_tokens, start_off,
        |  start_off // 128 AS seq_id,
        |  (start_off + n_tokens - 1) // 128 - start_off // 128 + 1 AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin,
    "s8_chunks" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT)), j ->
        |      struct_pack(ci := j, chunk := array_to_string(toks[(j*20+1):(j*20+20)], ' ')))) AS u
        |  FROM s)
        |SELECT doc_id, CAST(u.ci AS INT) AS chunk_index,
        |  length(u.chunk) AS n_chars_chunk, md5(u.chunk) AS chunk_md5, lang
        |FROM c ORDER BY doc_id, chunk_index""".stripMargin,
    "e1_hourly_events" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,8))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY hour_bucket""".stripMargin,
    "e2_user_topk" ->
      """SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn,
        |  event_id, event_type, value
        |FROM events
        |WHERE user_id < 20
        |QUALIFY rn <= 3
        |ORDER BY user_id, rn""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(64 + octet_length(encode(text)) % 1024 AS INTEGER) AS fake_width,
        |  CAST(64 + (octet_length(encode(text)) * 7) % 768 AS INTEGER) AS fake_height,
        |  CAST(1 + octet_length(encode(text)) % 30 AS INTEGER) AS fake_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
  ) ++ recallOracles

  /** Ground truth for the a1–a4 recall oracles, recomputed in PURE SQL:
    * exact dot top-10 for the 20 eval queries, ties broken (score DESC,
    * id) — the exactness semantics a6 pins.
    */
  private val recallGtSql: String =
    """gt AS (
      |  SELECT q.vec_id AS qid, b.vec_id AS id
      |  FROM embeddings q CROSS JOIN embeddings b
      |  WHERE q.vec_id < 20
      |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10)""".stripMargin

  /** Read a [[predSidecar]] dump back as SQL VALUES tuples. None = no
    * sidecar written (query ran outside Verify); Some(empty) = the query
    * ran and genuinely produced zero pairs.
    */
  private def sidecarPairs(name: String): Option[Vector[String]] = {
    val f = new java.io.File(s"target/pred_sidecar/$name.csv")
    if (!f.exists) None
    else {
      val src = scala.io.Source.fromFile(f)
      try Some(src.getLines().filter(_.nonEmpty).map { l =>
        val Array(q, i) = l.split(","); s"($q,$i)"
      }.toVector)
      finally src.close()
    }
  }

  /** 3-column flavor of [[sidecarPairs]] (see [[predSidecar3]]). */
  private def sidecarTriples(name: String): Option[Vector[String]] = {
    val f = new java.io.File(s"target/pred_sidecar/$name.csv")
    if (!f.exists) None
    else {
      val src = scala.io.Source.fromFile(f)
      try Some(src.getLines().filter(_.nonEmpty).map { l =>
        val Array(q, i, x) = l.split(","); s"($q,$i,$x)"
      }.toVector)
      finally src.close()
    }
  }

  private def sidecarValues(name: String): Option[String] =
    sidecarPairs(name).filter(_.nonEmpty).map(_.mkString(","))

  /** Hash oracles for the a-family recall scalars. KMeans clustering is
    * not SQL-expressible, but everything downstream of the predicted ids
    * is: the sidecar (written while the query ran, before this map is
    * dumped) supplies the ids as VALUES and DuckDB recomputes ground
    * truth and the exact-integer recall itself. Entries appear only when
    * the matching sidecar exists — without it the driver falls back to
    * the rows-only check, same as before.
    */
  private def recallOracles: Map[String, String] = {
    def single(name: String): Option[(String, String)] =
      sidecarValues(name).map { vals =>
        name ->
          s"""WITH pred(qid, id) AS (VALUES $vals),
             |$recallGtSql
             |SELECT n_hits, n_queries,
             |  CAST(n_hits AS DOUBLE) / (10 * n_queries) AS mean_recall
             |FROM (SELECT
             |  (SELECT count(*) FROM pred p JOIN gt g ON p.qid = g.qid AND p.id = g.id) AS n_hits,
             |  (SELECT count(DISTINCT qid) FROM gt) AS n_queries)""".stripMargin
      }
    val a3 = for {
      adc <- sidecarValues("a3_pq_recall.adc")
      ref <- sidecarValues("a3_pq_recall.refined")
    } yield "a3_pq_recall" ->
      s"""WITH adc(qid, id) AS (VALUES $adc),
         |ref(qid, id) AS (VALUES $ref),
         |$recallGtSql
         |SELECT adc_hits, refined_hits, n_queries,
         |  CAST(adc_hits AS DOUBLE) / (10 * n_queries) AS adc_recall,
         |  CAST(refined_hits AS DOUBLE) / (10 * n_queries) AS refined_recall
         |FROM (SELECT
         |  (SELECT count(*) FROM adc p JOIN gt g ON p.qid = g.qid AND p.id = g.id) AS adc_hits,
         |  (SELECT count(*) FROM ref p JOIN gt g ON p.qid = g.qid AND p.id = g.id) AS refined_hits,
         |  (SELECT count(DISTINCT qid) FROM gt) AS n_queries)""".stripMargin
    // d4: the sign-LSH candidate pairs come from the sidecar; DuckDB
    // recomputes cosine from the embeddings with the kernel's exact
    // dot/(sqrt·sqrt) shape (v9-pinned), applies the threshold, and
    // aggregates. An empty candidate set still pins the (0, 0.0) output.
    val d4 = sidecarPairs("d4_embedding_dups").map {
      case pairs if pairs.isEmpty =>
        "d4_embedding_dups" ->
          "SELECT CAST(0 AS BIGINT) AS n_pairs, CAST(0.0 AS DOUBLE) AS mean_cos"
      case pairs =>
        "d4_embedding_dups" ->
          s"""WITH cand(a, b) AS (VALUES ${pairs.mkString(",")}),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |scored AS (
             |  SELECT list_dot_product(ea.v, eb.v) /
             |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
             |  FROM cand JOIN e ea ON cand.a = ea.vec_id JOIN e eb ON cand.b = eb.vec_id)
             |SELECT count(*) AS n_pairs,
             |  coalesce(round(avg(cos), 4), 0.0) AS mean_cos
             |FROM scored WHERE cos >= 0.95""".stripMargin
    }
    // d13: the sidecar carries (id, cluster_id) assignments; DuckDB
    // re-derives EVERYTHING downstream of the k-means itself — the
    // within-cluster candidate pairs (a self-join the Spark side never
    // materializes beyond its own cluster-bucketed join), the cosines
    // (the v9-pinned dot/(sqrt·sqrt) formulation), the duplicate
    // components (transitive closure as a recursive CTE — groups are
    // tiny, closure is cheap), and the min-id keeper rule. This is a
    // stronger oracle than d4's: the candidate set itself is reproduced,
    // so a MISSING pair would hash-fail, not just a spurious one.
    val d13 = sidecarPairs("d13_semantic_dedup").filter(_.nonEmpty).map { assigns =>
      "d13_semantic_dedup" ->
        s"""WITH RECURSIVE assign(id, cluster_id) AS (VALUES ${assigns.mkString(",")}),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |pairs AS (
           |  SELECT a.id AS a, b.id AS b
           |  FROM assign a JOIN assign b
           |    ON a.cluster_id = b.cluster_id AND a.id < b.id
           |  JOIN e ea ON a.id = ea.vec_id JOIN e eb ON b.id = eb.vec_id
           |  WHERE list_dot_product(ea.v, eb.v) /
           |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.95),
           |edges AS (SELECT a AS x, b AS y FROM pairs
           |          UNION SELECT b AS x, a AS y FROM pairs),
           |reach(node, r) AS (
           |  SELECT x, y FROM edges
           |  UNION
           |  SELECT reach.node, edges.y FROM reach JOIN edges ON reach.r = edges.x),
           |comp AS (
           |  SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node)
           |SELECT CAST(a.id AS BIGINT) AS vec_id,
           |  CAST(a.cluster_id AS INT) AS cluster_id,
           |  CAST(coalesce(c.component, a.id) AS BIGINT) AS component,
           |  (a.id = coalesce(c.component, a.id)) AS keep
           |FROM assign a LEFT JOIN comp c ON a.id = c.node
           |ORDER BY vec_id""".stripMargin
    }
    // d14: d13's pipeline under the paper's far-from-centroid keeper. The
    // sidecar's third column is each member's centroid distance (the
    // exact double the Spark window ranked), so DuckDB re-derives pairs,
    // cosines, and components as in d13 and then re-applies
    // argmax(cdist)-ties-min(id) per component itself.
    val d14 = sidecarTriples("d14_semantic_keepers").filter(_.nonEmpty).map { assigns =>
      "d14_semantic_keepers" ->
        s"""WITH RECURSIVE assign(id, cluster_id, cdist) AS (VALUES ${assigns.mkString(",")}),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |pairs AS (
           |  SELECT a.id AS a, b.id AS b
           |  FROM assign a JOIN assign b
           |    ON a.cluster_id = b.cluster_id AND a.id < b.id
           |  JOIN e ea ON a.id = ea.vec_id JOIN e eb ON b.id = eb.vec_id
           |  WHERE list_dot_product(ea.v, eb.v) /
           |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.95),
           |edges AS (SELECT a AS x, b AS y FROM pairs
           |          UNION SELECT b AS x, a AS y FROM pairs),
           |reach(node, r) AS (
           |  SELECT x, y FROM edges
           |  UNION
           |  SELECT reach.node, edges.y FROM reach JOIN edges ON reach.r = edges.x),
           |comp AS (
           |  SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node),
           |member AS (
           |  SELECT a.id, a.cluster_id, a.cdist,
           |    coalesce(c.component, a.id) AS component
           |  FROM assign a LEFT JOIN comp c ON a.id = c.node),
           |ranked AS (
           |  SELECT id, cluster_id, component,
           |    row_number() OVER (PARTITION BY component
           |                       ORDER BY cdist DESC, id ASC) AS rn
           |  FROM member)
           |SELECT CAST(id AS BIGINT) AS vec_id,
           |  CAST(cluster_id AS INT) AS cluster_id,
           |  CAST(component AS BIGINT) AS component,
           |  (rn = 1) AS keep
           |FROM ranked ORDER BY vec_id""".stripMargin
    }
    // d15: d13's oracle shape over the skew-GUARDED candidate set — the
    // pairs come from the sidecar (the LSH+salt stage DuckDB cannot
    // express) instead of a SQL self-join, the planted assignment is
    // recomputed as a pure vec_id expression, and components + min-id
    // keeper re-derive exactly as in d13. A pair the guard wrongly
    // dropped shows up as a component DuckDB also can't form — the gate
    // pins that Spark's dedup DECISIONS are exactly the closure of the
    // candidates the guard declared.
    val d15 = sidecarPairs("d15_semantic_skew").filter(_.nonEmpty).map { cand =>
      "d15_semantic_skew" ->
        s"""WITH RECURSIVE cand(a, b) AS (VALUES ${cand.mkString(",")}),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |pairs AS (
           |  SELECT cand.a, cand.b
           |  FROM cand JOIN e ea ON cand.a = ea.vec_id
           |            JOIN e eb ON cand.b = eb.vec_id
           |  WHERE list_dot_product(ea.v, eb.v) /
           |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.95),
           |edges AS (SELECT a AS x, b AS y FROM pairs
           |          UNION SELECT b AS x, a AS y FROM pairs),
           |reach(node, r) AS (
           |  SELECT x, y FROM edges
           |  UNION
           |  SELECT reach.node, edges.y FROM reach JOIN edges ON reach.r = edges.x),
           |comp AS (
           |  SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node),
           |assign AS (
           |  SELECT vec_id AS id,
           |    CASE WHEN vec_id < 200 THEN 0
           |         ELSE CAST(vec_id % 60 + 1 AS INT) END AS cluster_id
           |  FROM embeddings)
           |SELECT CAST(a.id AS BIGINT) AS vec_id,
           |  CAST(a.cluster_id AS INT) AS cluster_id,
           |  CAST(coalesce(c.component, a.id) AS BIGINT) AS component,
           |  (a.id = coalesce(c.component, a.id)) AS keep
           |FROM assign a LEFT JOIN comp c ON a.id = c.node
           |ORDER BY vec_id""".stripMargin
    }
    // d16: the guard + far-keeper composition — candidate pairs from the
    // d15-style pairs sidecar (the LSH+salt stage SQL can't express),
    // per-member cdist from the d14-style triple sidecar (exact Spark
    // doubles, so the argmax ranks bit-equal scalars), components and
    // the argmax(cdist)-ties-min(id) keeper re-derived in DuckDB.
    val d16 = for {
      assigns <- sidecarTriples("d16_semantic_skew_far").filter(_.nonEmpty)
      cand <- sidecarPairs("d16_semantic_skew_far_pairs").filter(_.nonEmpty)
    } yield "d16_semantic_skew_far" ->
      s"""WITH RECURSIVE assign(id, cluster_id, cdist) AS (VALUES ${assigns.mkString(",")}),
         |cand(a, b) AS (VALUES ${cand.mkString(",")}),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pairs AS (
         |  SELECT cand.a, cand.b
         |  FROM cand JOIN e ea ON cand.a = ea.vec_id
         |            JOIN e eb ON cand.b = eb.vec_id
         |  WHERE list_dot_product(ea.v, eb.v) /
         |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.95),
         |edges AS (SELECT a AS x, b AS y FROM pairs
         |          UNION SELECT b AS x, a AS y FROM pairs),
         |reach(node, r) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT reach.node, edges.y FROM reach JOIN edges ON reach.r = edges.x),
         |comp AS (
         |  SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node),
         |member AS (
         |  SELECT a.id, a.cluster_id, a.cdist,
         |    coalesce(c.component, a.id) AS component
         |  FROM assign a LEFT JOIN comp c ON a.id = c.node),
         |ranked AS (
         |  SELECT id, cluster_id, component,
         |    row_number() OVER (PARTITION BY component
         |                       ORDER BY cdist DESC, id ASC) AS rn
         |  FROM member)
         |SELECT CAST(id AS BIGINT) AS vec_id,
         |  CAST(cluster_id AS INT) AS cluster_id,
         |  CAST(component AS BIGINT) AS component,
         |  (rn = 1) AS keep
         |FROM ranked ORDER BY vec_id""".stripMargin
    // a16: recall over the LIVE corpus — ground truth excludes the
    // deleted ids (the delete predicate is SQL-expressible by
    // construction), plus two maintenance invariants recomputed
    // independently: the leaked-tombstone count over the predictions
    // and the live-corpus cardinality the engine's tombstone
    // bookkeeping reported (both hash-gated against Spark's values).
    val a16 = sidecarValues("a16_hnsw_upsert").map { vals =>
      "a16_hnsw_upsert" ->
        s"""WITH pred(qid, id) AS (VALUES $vals),
           |live AS (SELECT vec_id, embedding FROM embeddings
           |         WHERE vec_id % 17 <> 3),
           |gt AS (
           |  SELECT q.vec_id AS qid, b.vec_id AS id
           |  FROM embeddings q CROSS JOIN live b
           |  WHERE q.vec_id < 20
           |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10)
           |SELECT n_hits, n_queries,
           |  CAST(n_hits AS DOUBLE) / (10 * n_queries) AS mean_recall,
           |  (SELECT count(*) FROM pred WHERE id % 17 = 3) AS leaked_deleted,
           |  (SELECT count(*) FROM live) AS n_live
           |FROM (SELECT
           |  (SELECT count(*) FROM pred p JOIN gt g ON p.qid = g.qid AND p.id = g.id) AS n_hits,
           |  (SELECT count(DISTINCT qid) FROM gt) AS n_queries)""".stripMargin
    }
    (Seq("a1_ivf_recall", "a2_ivf_refine_recall", "a4_opq_recall",
      "a8_lsh_recall", "a9_hnsw_recall", "a11_hnsw_routed",
      "a12_pq4_fastscan", "a13_pq4_ivf", "a14_hnsw_store",
      "a15_pq4_serve", "a17_pq4_append").flatMap(single)
      ++ a3 ++ d4 ++ d13 ++ d14 ++ d15 ++ d16 ++ a16).toMap
  }
}

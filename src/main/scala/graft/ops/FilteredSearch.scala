package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Predicate-constrained vector search — top-k among the base rows that
  * satisfy a metadata predicate (the `WHERE label = …` flavor of k-NN
  * every serving stack needs; the reference's engine has no metadata
  * columns, so this is an additive surface like streaming, SURVEY §2.9).
  *
  * The interesting part is WHERE the predicate applies relative to the
  * index, the classic pre- vs post-filter decision:
  *
  *  - **exact / IVF: pre-filter.** The predicate composes into the scan
  *    (Catalyst pushes it to parquet next to the inverted-list IN
  *    predicate), so non-matching rows are never scored. But a pre-filter
  *    starves a fixed-nprobe IVF probe: with selectivity s each probed
  *    list yields s× fewer candidates, so [[ivf]] widens the probe to
  *    ~nprobe/s lists to restore the candidate budget (capped at nlist,
  *    where it degenerates to the exact filtered scan — correct, just not
  *    pruned).
  *  - **HNSW: post-filter.** The graph is built over the FULL corpus;
  *    carving matching rows out of the traversal disconnects it and
  *    recall collapses at low selectivity. The honest composition is
  *    over-fetch (k·oversample ≳ k/s) + semi-join on the allowed ids +
  *    re-top-k; [[FilteredSearchSpec]] gates its recall against filtered
  *    ground truth.
  *
  * [[auto]] measures selectivity with one aggregate and picks: tiny
  * match sets score every match exactly (an index cannot beat scoring
  * s·N rows); otherwise the widened IVF probe if an index exists, else
  * HNSW over-fetch.
  */
object FilteredSearch {

  /** Exact filtered top-k: predicate → scan (pushed down), score only
    * matching rows. The recall-1.0 anchor every approximate variant is
    * judged against, and the right plan outright when s·N is small.
    */
  def exact(base: DataFrame, pred: Column, queries: DataFrame, k: Int,
            metric: Metric = Metric.Dot,
            idCol: String = "id", vecCol: String = "vec"): DataFrame =
    Search.exactTopKFused(base.filter(pred), queries, k, metric,
      idCol = idCol, vecCol = vecCol)

  /** Filtered IVF probe: predicate ∧ cluster-IN both land in the clustered
    * table's scan, and the probe is widened by 1/selectivity so the
    * candidate count per query stays ~nprobe list-loads worth despite the
    * filter. Pass `selectivity` if already known (saves the count).
    */
  def ivf(assignedBase: DataFrame, pred: Column, queries: DataFrame,
          centroids: Array[Array[Float]], nprobe: Int, k: Int,
          metric: Metric = Metric.Dot, selectivity: Double = Double.NaN,
          idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val s =
      if (selectivity.isNaN) measuredSelectivity(assignedBase, pred)
      else selectivity
    val widened = widenedProbe(nprobe, s, centroids.length)
    Ivf.search(assignedBase.filter(pred), queries, centroids,
      nprobe = widened, k = k, metric = metric, idCol = idCol, vecCol = vecCol)
  }

  /** Filtered IVF-fastscan probe — the 100 TB serving flavor composed with
    * a predicate. The packed nibble table cannot take a ROW predicate
    * (64 rows share one blob; there is nothing row-wise for Catalyst to
    * push), so the composition differs from [[ivf]]'s dual pushdown by
    * construction:
    *
    *  - **cluster stage: pre-filter by pruning.** The probe still touches
    *    only `widenedProbe(nprobe, s)` cells of the cluster-partitioned
    *    blocked table (parquet partition pruning — the inverted-list
    *    skip), so the predicate's only cost is a wider probe, exactly the
    *    [[ivf]] budget-restoration argument.
    *  - **candidate stage: over-fetch.** The fastscan candidate set is
    *    widened to ~refineK/s so that after the filter drops (1−s) of it,
    *    ~refineK allowed candidates remain (capped at 8× to bound the
    *    reservoirs; [[auto]] routes very low selectivity to [[exact]]
    *    long before the cap binds).
    *  - **refine stage: post-filter for free.** Candidates refine against
    *    the FILTERED base scan — the predicate pushes into that parquet
    *    scan (Catalyst pre-filter), and disallowed candidate ids simply
    *    drop out of the refine join. One join, no separate semi-join pass.
    *
    * Scale shape: probed-cell bytes ∝ widenedNprobe/nlist of the 1/30th-
    * size code table; the refine side streams the filtered base in place
    * against a broadcast Q×fetchK candidate list. Nothing corpus-sized
    * shuffles (FilteredSearchSpec gates the plan).
    */
  def pq4(base: DataFrame, pred: Column, queries: DataFrame, idx: Pq.Index,
          nprobe: Int, k: Int, refineK: Int = 100,
          selectivity: Double = Double.NaN,
          idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val spark = base.sparkSession
    val s =
      if (selectivity.isNaN) measuredSelectivity(base, pred)
      else selectivity
    val widened = widenedProbe(nprobe, s, idx.coarse.length)
    val fetchK = math.min(8L * refineK,
      math.max(refineK.toLong,
        math.ceil(refineK / math.max(s, 1e-6)).toLong)).toInt
    val cands = Pq.searchFastScanIvf(idx, spark, queries, widened, fetchK)
      .groupBy("qid").agg(collect_list(col("id")).as("cand_ids"))
      .join(queries, Seq("qid"))
      .select(col("qid"), col("qvec"), col("cand_ids"))
    Search.refine(base.filter(pred).select(col(idCol), col(vecCol)),
      broadcast(cands), k, idCol, vecCol)
  }

  /** HNSW over-fetch + post-filter: fetch k·oversample from the unfiltered
    * graph, keep rows passing the predicate, re-top-k. `oversample` should
    * be ≳ 1/selectivity for full-k results; at very low selectivity prefer
    * [[exact]] (what [[auto]] does).
    *
    * `warm = true` serves the fetch from [[Hnsw.searchWarm]] — the
    * already-built executor-cached shard graphs under `cacheKey` — so the
    * corpus is NOT re-streamed per query batch. [[Hnsw.search]]'s cold
    * path re-partitions the full base every call to co-locate shards
    * (1.55 GB shuffled per batch at 1M×384d, measured BENCH_SCALE r8)
    * even when the graphs themselves are cache-hits; a serving deployment
    * must pay that exactly once. Warm requires a prior build pass under
    * the same (cacheKey, nShards, m, efConstruction, seed) — a miss fails
    * loudly per [[Hnsw.searchWarm]]'s contract rather than silently
    * rebuilding inside a latency path.
    */
  def hnswPostFilter(base: DataFrame, pred: Column, queries: DataFrame,
                     k: Int, oversample: Int, metric: Metric = Metric.Dot,
                     m: Int = 16, efConstruction: Int = 100, efSearch: Int = 64,
                     nShards: Int = 8, cacheKey: String = "",
                     warm: Boolean = false,
                     idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val fetchK = k * oversample
    // Hnsw's per-shard beam already runs with ef = max(efSearch, k) for
    // the k it is handed, so passing fetchK as k is what widens the beam
    val fetched =
      if (warm) Hnsw.searchWarm(queries, cacheKey, nShards, fetchK, metric,
        m, efConstruction, efSearch)
      else Hnsw.search(base, queries, fetchK, metric, m, efConstruction,
        efSearch, nShards, cacheKey = cacheKey, idCol = idCol, vecCol = vecCol)
    // Post-filter join orientation matters at scale: the allowed-id side
    // is s·N rows (corpus-derived — NOT broadcastable at low
    // selectivity·high N, and Catalyst's post-filter size estimates are
    // unreliable so a bare semi-join can fall back to sort-merge and
    // shuffle the corpus-derived side). Instead the TINY fetched set
    // (Q × fetchK rows, bounded by the query-batch contract) carries an
    // explicit broadcast hint into an inner join against the filtered
    // base scan: the predicate pushes into the scan, the corpus side
    // streams in place, and nothing corpus-sized ever shuffles or
    // broadcasts. Both ids are unique per side per (qid, id), so the
    // inner join IS the semi-join result with the score carried along
    // (FilteredSearchSpec gates the join shape).
    val allowed = base.filter(pred).select(col(idCol).cast("long").as("id"))
    val kept = allowed.join(broadcast(fetched), Seq("id"))
      .select(col("qid"), col("id"), col("score"))
    TopK.perGroup(kept, "qid", "id", "score", k, metric.larger)
  }

  /** Strategy chooser. One aggregate measures selectivity, then:
    * s·N ≤ `exactThreshold` → [[exact]]; a pq4 (IVF-fastscan) index
    * supplied → widened [[pq4]] probe (the 100 TB serving flavor: probed
    * cells of the 1/30th-size nibble table + filtered exact refine); an
    * IVF-flat index supplied → widened [[ivf]] probe; otherwise HNSW
    * over-fetch with oversample ⌈1/s⌉.
    */
  def auto(base: DataFrame, pred: Column, queries: DataFrame, k: Int,
           metric: Metric = Metric.Dot,
           ivfIndex: Option[(DataFrame, Array[Array[Float]], Int)] = None,
           exactThreshold: Long = 100000, hnswShards: Int = 8,
           cacheKey: String = "",
           pq4Index: Option[(Pq.Index, Int)] = None,
           pq4RefineK: Int = 100,
           idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val r = base.agg(count(lit(1)), count(when(pred, 1))).head()
    val total = r.getLong(0)
    val matching = r.getLong(1)
    val s = if (total == 0) 1.0 else matching.toDouble / total
    if (matching <= exactThreshold)
      exact(base, pred, queries, k, metric, idCol, vecCol)
    else (pq4Index, ivfIndex) match {
      case (Some((idx, nprobe)), _) =>
        pq4(base, pred, queries, idx, nprobe, k, refineK = pq4RefineK,
          selectivity = s, idCol = idCol, vecCol = vecCol)
      case (None, Some((assigned, centroids, nprobe))) =>
        ivf(assigned, pred, queries, centroids, nprobe, k, metric,
          selectivity = s, idCol = idCol, vecCol = vecCol)
      case _ =>
        val oversample = math.max(2, math.ceil(1.0 / math.max(s, 1e-6)).toInt)
        hnswPostFilter(base, pred, queries, k, oversample, metric,
          nShards = hnswShards, cacheKey = cacheKey, idCol = idCol, vecCol = vecCol)
    }
  }

  private[graft] def measuredSelectivity(base: DataFrame, pred: Column): Double = {
    val r = base.agg(count(lit(1)), count(when(pred, 1))).head()
    if (r.getLong(0) == 0) 1.0 else r.getLong(1).toDouble / r.getLong(0)
  }

  /** nprobe/s capped at nlist: restores the pre-filter candidate budget. */
  private[graft] def widenedProbe(nprobe: Int, selectivity: Double, nlist: Int): Int =
    math.min(nlist,
      math.max(nprobe, math.ceil(nprobe / math.max(selectivity, 1e-6)).toInt))
}

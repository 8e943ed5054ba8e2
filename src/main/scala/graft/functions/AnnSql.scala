package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.{Hnsw, Ivf, Metric, Pq}

/** The SQL half of the ANN surface (SURVEY §1.5's Dataset-vs-ad-hoc-SQL
  * mapping): table-valued functions over REGISTERED indexes, so an
  * analyst can run
  *
  * {{{
  *   SELECT * FROM graft_ann_search('docs', 'my_queries', 10, 8, 100)
  *   SELECT * FROM graft_ann_search_hnsw('docs', 'my_queries', 10, 64)
  *   SELECT * FROM graft_ann_search_filtered('docs', 'my_queries', 10,
  *                                           'label < 5')
  * }}}
  *
  * where `'docs'` names an index registered via [[registerIndex]] /
  * [[registerHnsw]] and `'my_queries'` is any view with (qid long,
  * qvec array<float>) — returning (qid, id, score, rank) exactly as the
  * Scala path does (SqlSurfaceSpec pins the equalities). The second
  * TVF resolves to the ROUTED sharded-HNSW plan ([[Hnsw.searchRouted]],
  * the a11-pinned 100 TB serving flavor); the first to the IVF-fastscan
  * + exact-refine plan; the third composes a metadata predicate with the
  * search through [[graft.ops.FilteredSearch.auto]]'s chooser (the
  * "nearest neighbors WHERE lang='en'" form) — tiny match sets route to
  * the exact filtered scan, everything else to the widened-probe
  * IVF-fastscan flavor over the registered index. Its predicate argument
  * is an ANSI boolean expression over the index's BASE columns, parsed
  * with the session's own parser at analysis time, so a malformed
  * predicate fails the outer statement's analysis, not its execution.
  *
  * Shape notes:
  *  - The TVF builder resolves at ANALYSIS time: it reads the literal
  *    arguments, looks up the index, and returns the logical plan the
  *    equivalent Scala call constructs — the SAME pruned probe /
  *    routed-shard plan, partition pruning and broadcast hints included.
  *    Nothing is re-implemented for SQL; the TVF is a naming layer.
  *  - Plan CONSTRUCTION is eager about the query batch, in SQL exactly
  *    as in Scala: both entry points collect the (bounded, broadcast-
  *    side) query view and compute probes/LUTs/routes while BUILDING the
  *    plan — i.e. when the outer SQL statement is analyzed, not when it
  *    executes. The corpus-sized work stays in the returned plan.
  *  - Index registration is session-scoped (keyed on sessionUUID), like
  *    the temp views it composes with. Entries pin their base DataFrame
  *    (and through it the session), so long-lived multi-session JVMs
  *    should retire them explicitly: [[unregister]] drops one,
  *    [[clearSession]] drops the session's whole namespace, and every
  *    registration/lookup opportunistically purges entries whose
  *    SparkContext has stopped (SqlSurfaceSpec gates the lifecycle).
  */
object AnnSql {

  private final case class HnswEntry(base: DataFrame,
                                     centroids: Array[Array[Float]],
                                     routeProbe: Int, m: Int,
                                     efConstruction: Int, metric: Metric,
                                     seed: Long, cacheKey: String)

  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[String, (Pq.Index, DataFrame, String)]()
  private val hnswIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, HnswEntry]()
  // memoized non-empty router-cell counts for the warm-completeness gate
  // (see buildHnsw's non-contract branch): one corpus aggregate per
  // registered index, paid on the FIRST non-contract serve, not at
  // registration (registration stays lazy/cheap at any corpus size)
  private val routerCells =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Drop entries whose owning SparkContext has stopped — the slow-leak
    * guard for JVMs that cycle many sessions (each entry pins a
    * DataFrame, and a DataFrame pins its session).
    */
  private def purgeStopped(): Unit = {
    indexes.entrySet().removeIf(e =>
      e.getValue._2.sparkSession.sparkContext.isStopped)
    hnswIndexes.entrySet().removeIf(e =>
      e.getValue.base.sparkSession.sparkContext.isStopped)
    routerCells.keySet().removeIf(k => !hnswIndexes.containsKey(k))
  }

  private def key(spark: SparkSession, name: String): String =
    s"${graft.core.GraftSession.uuid(spark)}|$name"

  /** Register `idx` (with its full-precision base table for the refine
    * stage) under `name` for SQL use, and ensure the TVFs are registered
    * in this session. `localKey`, when non-empty, names the warmed
    * in-process ivf4 serving image ([[Pq.warmLocalIvf4]]'s cacheKey)
    * that `graft_ann_search_pq4` serves from — the a15-pinned latency
    * tier; without it only the Spark-plan TVFs resolve.
    */
  def registerIndex(spark: SparkSession, name: String, idx: Pq.Index,
                    base: DataFrame, localKey: String = ""): Unit = {
    purgeStopped()
    indexes.put(key(spark, name), (idx, base, localKey))
    register(spark)
  }

  /** Register a routed sharded-HNSW index under `name`: `base` is the
    * corpus, `centroids` the shard router (the IVF coarse quantizer),
    * and the remaining knobs mirror [[Hnsw.searchRouted]]'s. The graphs
    * themselves build (or are served from the executor cache) under
    * `cacheKey` exactly as the Scala call would.
    */
  def registerHnsw(spark: SparkSession, name: String, base: DataFrame,
                   centroids: Array[Array[Float]], routeProbe: Int = 32,
                   m: Int = 16, efConstruction: Int = 100,
                   metric: Metric = Metric.Dot, seed: Long = 42L,
                   cacheKey: String = ""): Unit = {
    purgeStopped()
    hnswIndexes.put(key(spark, name),
      HnswEntry(base, centroids, routeProbe, m, efConstruction, metric,
        seed, cacheKey))
    register(spark)
  }

  /** Retire one registered index (either family). Returns whether an
    * entry was dropped.
    */
  def unregister(spark: SparkSession, name: String): Boolean = {
    val k = key(spark, name)
    val a = indexes.remove(k) != null
    val b = hnswIndexes.remove(k) != null
    routerCells.remove(k)
    a || b
  }

  /** Retire every index this session registered. */
  def clearSession(spark: SparkSession): Unit = {
    val prefix = s"${graft.core.GraftSession.uuid(spark)}|"
    indexes.keySet().removeIf(_.startsWith(prefix))
    hnswIndexes.keySet().removeIf(_.startsWith(prefix))
    routerCells.keySet().removeIf(_.startsWith(prefix))
  }

  /** Register the `graft_ann_search` / `graft_ann_search_hnsw` /
    * `graft_ann_search_filtered` / `graft_ann_search_pq4` table
    * functions in this session.
    */
  def register(spark: SparkSession): Unit = {
    Bridge.tableFunctionRegistry(spark).createOrReplaceTempFunction(
      "graft_ann_search", es => build(spark, es), "built-in")
    Bridge.tableFunctionRegistry(spark).createOrReplaceTempFunction(
      "graft_ann_search_hnsw", es => buildHnsw(spark, es), "built-in")
    Bridge.tableFunctionRegistry(spark).createOrReplaceTempFunction(
      "graft_ann_search_filtered", es => buildFiltered(spark, es), "built-in")
    Bridge.tableFunctionRegistry(spark).createOrReplaceTempFunction(
      "graft_ann_search_pq4", es => buildPq4(spark, es), "built-in")
  }

  private def lit(e: Expression, fn: String, what: String): Any = {
    require(e.foldable, s"$fn: $what must be a literal, got $e")
    e.eval()
  }
  private def strArg(e: Expression, fn: String, what: String): String =
    lit(e, fn, what) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a string literal, got $other")
    }
  private def intArg(e: Expression, fn: String, what: String): Int =
    lit(e, fn, what) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }

  /** Arg 1 of either TVF: a view NAME (string) or an INLINE query vector
    * (array literal — the single-query ad-hoc form, qid = 0).
    */
  private def queriesArg(spark: SparkSession, e: Expression,
                         fn: String): DataFrame = e.dataType match {
    case _: org.apache.spark.sql.types.ArrayType =>
      val floats = org.apache.spark.sql.catalyst.expressions.Cast(
        e, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toFloatArray()
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(0L, floats.toSeq)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("qvec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType), nullable = false))))
    case _ =>
      spark.table(strArg(e, fn, "queries_view"))
  }

  private def knownNames[V](
      m: java.util.concurrent.ConcurrentHashMap[String, V],
      spark: SparkSession): String = {
    import scala.jdk.CollectionConverters._
    m.keySet().asScala
      .filter(_.startsWith(s"${graft.core.GraftSession.uuid(spark)}|"))
      .map(_.split('|').last).mkString(", ")
  }

  private def build(spark: SparkSession, es: Seq[Expression]): LogicalPlan = {
    require(es.length >= 3 && es.length <= 5,
      "graft_ann_search(index_name, queries_view | query_array, k[, nprobe, refine_k])")
    val name = strArg(es.head, "graft_ann_search", "index_name")
    val k = intArg(es(2), "graft_ann_search", "k")
    val nprobe = if (es.length >= 4) intArg(es(3), "graft_ann_search", "nprobe") else 8
    val refineK = if (es.length >= 5) intArg(es(4), "graft_ann_search", "refine_k") else 100
    val entry = indexes.get(key(spark, name))
    if (entry == null) {
      throw new IllegalArgumentException(
        s"graft_ann_search: no index '$name' registered in this session " +
          s"(registered: ${knownNames(indexes, spark)}) — call " +
          "AnnSql.registerIndex(spark, name, idx, base) first")
    }
    val (idx, base, _) = entry
    val qs = queriesArg(spark, es(1), "graft_ann_search")
    Pq.searchFastScanIvfRefined(base, idx, qs, nprobe, k, refineK)
      .queryExecution.logical
  }

  /** `graft_ann_search_pq4(index_name, queries_view | query_array, k
    * [, nprobe, refine_k, exclude_view])` — the SQL reach for the
    * IN-PROCESS IVF-fastscan serving tier ([[Pq.searchLocalIvf4]], the
    * a15-pinned measured-best latency path: p50 ~1 ms @ 1M, 8–10× below
    * routed HNSW at comparable recall). Serves the WARMED image only:
    * the index must be registered with a `localKey` and
    * [[Pq.warmLocalIvf4]]'d under it — a cold cache fails loudly at
    * analysis time instead of silently paying the warm. Like the
    * sibling TVFs the query batch is bounded-by-contract and collected
    * while BUILDING the plan; unlike them the search itself also runs
    * at plan-build time (it is in-process and microsecond-scale per
    * query — the tier's whole point), so the returned plan is a local
    * relation of the finished (qid, id, score, rank) rows.
    * `refine_k` must exceed `k` ([[Pq.searchLocalIvf4]]'s contract —
    * the local tier always refines).
    *
    * `exclude_view` (r16 maintenance) names a view whose `id` column is
    * the serve-time TAKEDOWN suppression set — the SQL twin of the
    * Scala flavors' `excludeIds` (identical semantics: filtered after
    * the kSearch cut, refine slack refills k). Bounded-by-contract like
    * the query batch: a takedown list, not a corpus.
    */
  private def buildPq4(spark: SparkSession, es: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ann_search_pq4"
    require(es.length >= 3 && es.length <= 6,
      s"$fn(index_name, queries_view | query_array, k[, nprobe, refine_k, exclude_view])")
    val name = strArg(es.head, fn, "index_name")
    val k = intArg(es(2), fn, "k")
    val nprobe = if (es.length >= 4) intArg(es(3), fn, "nprobe") else 8
    val refineK = if (es.length >= 5) intArg(es(4), fn, "refine_k") else 100
    val exclude: Long => Boolean =
      if (es.length < 6) null
      else {
        val ev = strArg(es(5), fn, "exclude_view")
        val ids = spark.table(ev)
          .select(org.apache.spark.sql.functions.col("id").cast("long"))
          .collect().map(_.getLong(0)).toSet
        ids.contains
      }
    val entry = indexes.get(key(spark, name))
    if (entry == null) {
      throw new IllegalArgumentException(
        s"$fn: no index '$name' registered in this session " +
          s"(registered: ${knownNames(indexes, spark)}) — call " +
          "AnnSql.registerIndex(spark, name, idx, base, localKey) first")
    }
    val (idx, _, localKey) = entry
    require(localKey.nonEmpty,
      s"$fn: index '$name' was registered without a localKey — re-register " +
        "with registerIndex(spark, name, idx, base, localKey) and warm the " +
        "serving image with Pq.warmLocalIvf4")
    require(Pq.warmedLocal(localKey),
      s"$fn: no warmed ivf4 serving image under '$localKey' — call " +
        "Pq.warmLocalIvf4(spark, idx, localKey, base) first (cold serving " +
        "fails loudly rather than silently paying the warm)")
    val qs = queriesArg(spark, es(1), fn)
    val qRows = qs.select(
      org.apache.spark.sql.functions.col("qid").cast("long"),
      org.apache.spark.sql.functions.col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val rows: java.util.List[org.apache.spark.sql.Row] = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row]()
      qRows.foreach { case (qid, qvec) =>
        Pq.searchLocalIvf4(qvec, idx, localKey, nprobe, k, refineK,
            exclude = exclude)
          .zipWithIndex.foreach { case ((id, sc), r) =>
            l.add(org.apache.spark.sql.Row(qid, id, sc, r + 1))
          }
      }
      l
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    spark.createDataFrame(rows, schema).queryExecution.logical
  }

  /** `graft_ann_search_filtered(index_name, queries_view | query_array,
    * k, predicate_sql[, nprobe, refine_k, exact_threshold])` — resolves
    * to [[graft.ops.FilteredSearch.auto]]'s plan over the registered
    * IVF-fastscan index: the one selectivity aggregate runs at analysis
    * time (plan-construction eagerness, like the probe/route computation
    * of the sibling TVFs), and the chooser routes matching sets ≤
    * exact_threshold to the exact filtered scan, everything else to the
    * widened pq4 probe + filtered refine.
    */
  private def buildFiltered(spark: SparkSession,
                            es: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ann_search_filtered"
    require(es.length >= 4 && es.length <= 7,
      s"$fn(index_name, queries_view | query_array, k, predicate_sql" +
        "[, nprobe, refine_k, exact_threshold])")
    val name = strArg(es.head, fn, "index_name")
    val k = intArg(es(2), fn, "k")
    val predSql = strArg(es(3), fn, "predicate_sql")
    val nprobe = if (es.length >= 5) intArg(es(4), fn, "nprobe") else 8
    val refineK = if (es.length >= 6) intArg(es(5), fn, "refine_k") else 100
    val exactThreshold =
      if (es.length >= 7) intArg(es(6), fn, "exact_threshold").toLong
      else 100000L
    val entry = indexes.get(key(spark, name))
    if (entry == null) {
      throw new IllegalArgumentException(
        s"$fn: no index '$name' registered in this session " +
          s"(registered: ${knownNames(indexes, spark)}) — call " +
          "AnnSql.registerIndex(spark, name, idx, base) first")
    }
    val (idx, base, _) = entry
    val qs = queriesArg(spark, es(1), fn)
    graft.ops.FilteredSearch.auto(base,
      org.apache.spark.sql.functions.expr(predSql), qs, k,
      exactThreshold = exactThreshold, pq4Index = Some((idx, nprobe)),
      pq4RefineK = refineK)
      .queryExecution.logical
  }

  /** `graft_ann_search_hnsw(index_name, queries_view | query_array, k
    * [, ef_search[, flavor]])`. `flavor` (r15, the SQL reach for the
    * store's serving flavors): `'contract'` (default) resolves to the
    * routed [[Hnsw.searchRouted]] plan — builds on a cold cache exactly
    * like the Scala call; `'i8'` walks the beam over the quantized
    * sidecar with exact re-rank, `'auto'` picks per graph — by the
    * measured per-graph ef crossover when [[graft.ops.Hnsw.calibrateWarmed]]
    * has timed both walks on the graph's own rows (r16), else by the
    * payload-size byte heuristic ([[graft.ops.Hnsw]]'s `autoI8Bytes`).
    * The three strings name [[graft.ops.Hnsw.Flavor]]'s `Contract`, `I8`
    * and `Auto`.
    * The non-contract flavors serve the WARMED graph
    * cache only (a disk-restored store group, or a prior built run
    * under the registered cacheKey) — a cold cache fails loudly at
    * analysis time instead of silently paying a rebuild, and a PARTIAL
    * group (fewer resident shards than the router's non-empty cells)
    * refuses to serve instead of silently dropping probed shards.
    */
  private def buildHnsw(spark: SparkSession, es: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ann_search_hnsw"
    require(es.length >= 3 && es.length <= 5,
      s"$fn(index_name, queries_view | query_array, k[, ef_search[, flavor]])")
    val name = strArg(es.head, fn, "index_name")
    val k = intArg(es(2), fn, "k")
    val efSearch = if (es.length >= 4) intArg(es(3), fn, "ef_search") else 64
    val flavorName = if (es.length >= 5) strArg(es(4), fn, "flavor") else "contract"
    val flavor = Map("contract" -> Hnsw.Flavor.Contract,
      "i8" -> Hnsw.Flavor.I8, "auto" -> Hnsw.Flavor.Auto).getOrElse(flavorName,
      throw new IllegalArgumentException(
        s"$fn: flavor must be 'contract', 'i8' or 'auto', got '$flavorName'"))
    val e = hnswIndexes.get(key(spark, name))
    if (e == null) {
      throw new IllegalArgumentException(
        s"$fn: no hnsw index '$name' registered in this " +
          s"session (registered: ${knownNames(hnswIndexes, spark)}) — call " +
          "AnnSql.registerHnsw(spark, name, base, centroids, ...) first")
    }
    val qs = queriesArg(spark, es(1), fn)
    if (flavor == Hnsw.Flavor.Contract)
      Hnsw.searchRouted(e.base, qs, e.centroids, e.routeProbe, k, e.metric,
        e.m, e.efConstruction, efSearch, e.seed, e.cacheKey)
        .queryExecution.logical
    else {
      require(e.cacheKey.nonEmpty && Hnsw.warmed(e.cacheKey),
        s"$fn: flavor '$flavorName' serves the warmed graph cache — register " +
          "with a cacheKey and warm it first (Hnsw.warmFromDisk over a " +
          "saved store, or one built run; then Hnsw.quantizeWarmed for " +
          "'i8' unless the store is v2)")
      // completeness gate (r16, ADVICE r15): warmed() only says the group
      // is NON-EMPTY, and allowMissing=true over a PARTIAL group (an
      // interrupted restore, an LRU eviction mid-warm) would silently
      // drop probed shards — degraded recall instead of the loud-miss
      // contract SparkEntry's a14 path enforces with its
      // restored==manifest require. Expected = the number of NON-EMPTY
      // router cells (the build only materializes those); one narrow
      // corpus aggregate, memoized per registered index, paid on the
      // first non-contract serve.
      val expected = routerCells.computeIfAbsent(key(spark, name), _ =>
        Integer.valueOf(e.base.select(
          Ivf.nearestCentroid(
            org.apache.spark.sql.functions.col("vec"), e.centroids))
          .distinct().count().toInt))
      val have = Hnsw.warmedCount(e.cacheKey)
      require(have >= expected.intValue(),
        s"$fn: warmed group '${e.cacheKey}' is INCOMPLETE — $have of " +
          s"$expected non-empty router cells resident (partial restore or " +
          "mid-warm eviction); re-warm before serving (a partial group " +
          "would silently drop probed shards)")
      Hnsw.searchWarm(qs, e.cacheKey, e.centroids.length, k, e.metric,
        e.m, e.efConstruction, efSearch, e.seed, e.centroids, e.routeProbe,
        allowMissing = true, flavor = flavor)
        .queryExecution.logical
    }
  }
}

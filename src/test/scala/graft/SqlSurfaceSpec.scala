package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.functions.VectorFunctions

/** The ad-hoc SQL surface: registered graft_* functions must run inside
  * `spark.sql` and agree with the DataFrame API paths.
  */
class SqlSurfaceSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    VectorFunctions.register(s)
    Tables.embeddings(s, dir).createOrReplaceTempView("emb")
    s
  }

  test("graft_ann_search TVF == the Scala IVF-fastscan path, exactly") {
    import graft.functions.AnnSql
    import graft.ops.Pq
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val m4 = base.select(size(col("vec")).as("d")).head().getInt(0) / 4
    val idx = Pq.buildOrGetIvf4(spark, base, s"$dir|sqlsurface", nlist = 8,
      m4 = m4, ntrain = 500)
    AnnSql.registerIndex(spark, "emb_idx", idx, base)
    base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("ann_queries")
    val sql = spark.sql(
      "SELECT * FROM graft_ann_search('emb_idx', 'ann_queries', 10, 4, 50)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val scala0 = Pq.searchFastScanIvfRefined(base, idx,
      base.filter(col("id") < 8)
        .select(col("id").as("qid"), col("vec").as("qvec")),
      nprobe = 4, k = 10, refineK = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(sql == scala0, "SQL TVF diverged from the Scala path")
    // the SQL result composes like any table expression
    val n = spark.sql(
      """SELECT count(*) AS c FROM graft_ann_search('emb_idx', 'ann_queries', 10)
        |WHERE rank <= 3""".stripMargin).head().getLong(0)
    assert(n == 8 * 3, s"TVF composition broke: $n")
    // inline-vector form: one ad-hoc query straight in the SQL text,
    // equal to the view form restricted to that query
    val q3vec = base.filter(col("id") === 3).select(col("vec"))
      .head().getSeq[Float](0)
    val inline = spark.sql(
      s"SELECT * FROM graft_ann_search('emb_idx', ARRAY(${q3vec.mkString(",")}), 10, 4, 50)")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaView = scala0.filter(_._1 == 3L).map(t => (t._2, t._3, t._4))
    assert(inline == viaView, "inline-vector TVF form diverged from the view form")
    // unknown index fails with the registered names in the message
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann_search('nope', 'ann_queries', 10)")
        .collect()
    }
    assert(err.getMessage.contains("emb_idx") ||
      Option(err.getCause).exists(_.getMessage.contains("emb_idx")),
      s"error should name the registered indexes: ${err.getMessage}")
  }

  test("graft_ann_search_filtered TVF == FilteredSearch.auto, exactly") {
    import graft.functions.AnnSql
    import graft.ops.{FilteredSearch, Pq}
    // base keeps the metadata column the predicate filters on (a10's shape)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
    val m4 = base.select(size(col("vec")).as("d")).head().getInt(0) / 4
    val idx = Pq.buildOrGetIvf4(spark, base, s"$dir|sqlfiltered", nlist = 8,
      m4 = m4, ntrain = 500)
    AnnSql.registerIndex(spark, "emb_fidx", idx, base)
    val qs = base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    qs.createOrReplaceTempView("f_queries")
    // default threshold: the fixture's match set is tiny → exact route
    // (the a10-pinned semantics)
    val sql = spark.sql(
      "SELECT * FROM graft_ann_search_filtered('emb_fidx', 'f_queries', 10, 'label < 5')")
      .collect().map(_.toSeq).toSet
    val viaAuto = FilteredSearch.auto(base, col("label") < 5, qs, k = 10,
      pq4Index = Some((idx, 8)))
      .collect().map(_.toSeq).toSet
    assert(sql == viaAuto, "filtered TVF diverged from FilteredSearch.auto")
    // exact_threshold=0 forces the widened-pq4 route; still == auto
    val sqlPq = spark.sql(
      "SELECT * FROM graft_ann_search_filtered('emb_fidx', 'f_queries', 10, " +
        "'label < 5', 4, 50, 0)")
      .collect().map(_.toSeq).toSet
    val viaAutoPq = FilteredSearch.auto(base, col("label") < 5, qs, k = 10,
      exactThreshold = 0L, pq4Index = Some((idx, 4)), pq4RefineK = 50)
      .collect().map(_.toSeq).toSet
    assert(sqlPq == viaAutoPq, "filtered TVF (pq4 route) diverged from auto")
    assert(sqlPq.nonEmpty)
    // every returned id satisfies the predicate
    val allowed = base.filter(col("label") < 5).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(sqlPq.forall(r => allowed.contains(r(1).asInstanceOf[Long])))
    // a malformed predicate fails the statement's ANALYSIS, not execution
    val bad = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann_search_filtered('emb_fidx', 'f_queries', 10, 'no_such_col <')")
        .collect()
    }
    assert(bad != null)
  }

  test("graft_ann_search_hnsw TVF == the Scala routed path, exactly") {
    import graft.functions.AnnSql
    import graft.ops.{Hnsw, Ivf, Metric}
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val router = Ivf.buildOrGet(spark, base, s"$dir|sqlhnsw", nlist = 4,
      ntrain = 500)
    AnnSql.registerHnsw(spark, "emb_hnsw", base, router.centroids,
      routeProbe = 2, m = 8, efConstruction = 64,
      cacheKey = s"$dir|sqlhnsw|tvf")
    base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("hnsw_queries")
    val sql = spark.sql(
      "SELECT * FROM graft_ann_search_hnsw('emb_hnsw', 'hnsw_queries', 10, 64)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val scala0 = Hnsw.searchRouted(base,
      base.filter(col("id") < 8)
        .select(col("id").as("qid"), col("vec").as("qvec")),
      router.centroids, routeProbe = 2, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 64, cacheKey = s"$dir|sqlhnsw|tvf")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(sql == scala0, "HNSW SQL TVF diverged from the Scala routed path")
    // inline-vector ad-hoc form
    val q3vec = base.filter(col("id") === 3).select(col("vec"))
      .head().getSeq[Float](0)
    val inline = spark.sql(
      s"SELECT * FROM graft_ann_search_hnsw('emb_hnsw', ARRAY(${q3vec.mkString(",")}), 10)")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaView = scala0.filter(_._1 == 3L).map(t => (t._2, t._3, t._4))
    assert(inline == viaView, "inline-vector HNSW TVF diverged from the view form")
    // unknown index names the registered hnsw indexes
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann_search_hnsw('nope', 'hnsw_queries', 10)")
        .collect()
    }
    assert(err.getMessage.contains("emb_hnsw") ||
      Option(err.getCause).exists(_.getMessage.contains("emb_hnsw")),
      s"error should name the registered indexes: ${err.getMessage}")
    // lifecycle: unregister retires the name; re-registering revives it
    assert(AnnSql.unregister(spark, "emb_hnsw"))
    val gone = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann_search_hnsw('emb_hnsw', 'hnsw_queries', 10)")
        .collect()
    }
    assert(gone.getMessage.contains("no hnsw index") ||
      Option(gone.getCause).exists(_.getMessage.contains("no hnsw index")))
    assert(!AnnSql.unregister(spark, "emb_hnsw"), "double unregister")
    AnnSql.registerHnsw(spark, "emb_hnsw", base, router.centroids,
      routeProbe = 2, m = 8, efConstruction = 64,
      cacheKey = s"$dir|sqlhnsw|tvf")
    assert(spark.sql(
      "SELECT * FROM graft_ann_search_hnsw('emb_hnsw', 'hnsw_queries', 10)")
      .count() > 0)
  }

  test("graft_ann_search_hnsw serves from a disk-restored (mapped) graph group") {
    // the store composition from SQL: build the routed group, persist,
    // drop, warmFromDisk(mapped) under the SAME cacheKey, then register
    // the TVF with that key — the TVF's plan reuses the mapped graphs
    // (computeIfAbsent hits; a deterministic rebuild would return the
    // same rows, but the mapped group is the one serving) and must match
    // the direct routed search row-for-row
    import graft.functions.AnnSql
    import graft.ops.{Hnsw, Ivf, Metric}
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val router = Ivf.buildOrGet(spark, base, s"$dir|sqlhnsw", nlist = 4,
      ntrain = 500)
    val key = s"$dir|sqlhnsw|store"
    val qs = base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val direct = Hnsw.searchRouted(base, qs, router.centroids,
      routeProbe = 2, k = 10, Metric.Dot, m = 8, efConstruction = 64,
      efSearch = 64, cacheKey = key).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("sql_hnsw_store").toString
    Hnsw.saveWarmed(key, tmp)
    Hnsw.invalidate(key)
    Hnsw.warmFromDisk(key, tmp, mapped = true)
    AnnSql.registerHnsw(spark, "emb_hnsw_store", base, router.centroids,
      routeProbe = 2, m = 8, efConstruction = 64, cacheKey = key)
    qs.createOrReplaceTempView("hnsw_store_queries")
    val sql = spark.sql(
      "SELECT * FROM graft_ann_search_hnsw('emb_hnsw_store', 'hnsw_store_queries', 10, 64)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(sql == direct,
      "HNSW TVF over a disk-restored mapped group diverged from the direct path")
    AnnSql.unregister(spark, "emb_hnsw_store")
    Hnsw.invalidate(key)
  }

  test("graft_ann_search_hnsw flavor arg reaches the i8/auto store walks (r15)") {
    // the Scala-only gap from the r14 verdict: quantized + mapped serving
    // had no SQL reach. Compose the full store path (build → quantize →
    // save v2 → drop → mapped restore), then pin each TVF flavor to its
    // Scala twin over the SAME warmed group.
    import graft.functions.AnnSql
    import graft.ops.{Hnsw, Ivf, Metric}
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val router = Ivf.buildOrGet(spark, base, s"$dir|sqlhnsw", nlist = 4,
      ntrain = 500)
    val key = s"$dir|sqlhnsw|flavors"
    val qs = base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    Hnsw.searchRouted(base, qs, router.centroids, routeProbe = 2, k = 10,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 64,
      cacheKey = key).count()
    Hnsw.quantizeWarmed(key) // v2 store: the i8 sidecar persists
    val tmp = java.nio.file.Files.createTempDirectory("sql_hnsw_flavors").toString
    Hnsw.saveWarmed(key, tmp)
    Hnsw.invalidate(key)
    Hnsw.warmFromDisk(key, tmp, mapped = true)
    AnnSql.registerHnsw(spark, "emb_hnsw_fl", base, router.centroids,
      routeProbe = 2, m = 8, efConstruction = 64, cacheKey = key)
    qs.createOrReplaceTempView("hnsw_flavor_queries")
    def tvf(flavor: String) = spark.sql(
      s"SELECT * FROM graft_ann_search_hnsw('emb_hnsw_fl', 'hnsw_flavor_queries', 10, 64, '$flavor')")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    def warm(flavor: Hnsw.Flavor) =
      Hnsw.searchWarm(qs, key, nShards = 4, k = 10, Metric.Dot, m = 8,
        efConstruction = 64, efSearch = 64, centroids = router.centroids,
        routeProbe = 2, allowMissing = true, flavor = flavor).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(tvf("i8") == warm(Hnsw.Flavor.I8),
      "TVF i8 flavor diverged from searchWarm(Flavor.I8)")
    assert(tvf("contract") == warm(Hnsw.Flavor.Contract),
      "TVF contract flavor diverged from the contract walk")
    // this group is MAPPED: the auto pick serves i8 regardless of the
    // heap crossover threshold (the mapped contract walk prices BB
    // float gathers — see ShardGraph.autoI8) — pin it on both settings
    val saved = Hnsw.autoI8Bytes
    try {
      Hnsw.autoI8Bytes = 0L
      assert(tvf("auto") == warm(Hnsw.Flavor.I8))
      Hnsw.autoI8Bytes = Long.MaxValue
      assert(tvf("auto") == warm(Hnsw.Flavor.I8),
        "auto on a mapped group must serve the i8 walk")
    } finally Hnsw.autoI8Bytes = saved
    // malformed flavor and cold-cache serving both fail loudly
    val bad = intercept[Exception](tvf("f16"))
    assert(bad.getMessage.contains("flavor") ||
      Option(bad.getCause).exists(_.getMessage.contains("flavor")))
    Hnsw.invalidate(key)
    val cold = intercept[Exception](tvf("i8"))
    assert(cold.getMessage.contains("warm") ||
      Option(cold.getCause).exists(_.getMessage.contains("warm")))
    AnnSql.unregister(spark, "emb_hnsw_fl")
  }

  test("graft_ann_search_pq4 TVF == searchLocalIvf4 == the Spark plan (r16)") {
    // the a15-pinned in-process serving tier gets SQL reach: the TVF
    // serves the warmed ivf4 image and must match BOTH the direct
    // searchLocalIvf4 loop and (for refineK > k) the distributed
    // searchFastScanIvfRefined plan — the Pq4Spec-pinned identity
    import graft.functions.AnnSql
    import graft.ops.Pq
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val m4 = base.select(size(col("vec")).as("d")).head().getInt(0) / 4
    val idx = Pq.buildOrGetIvf4(spark, base, s"$dir|sqlpq4", nlist = 8,
      m4 = m4, ntrain = 500)
    val localKey = s"$dir|sqlpq4|local"
    // registered without a localKey: the pq4 TVF fails loudly
    AnnSql.registerIndex(spark, "emb_pq4", idx, base)
    base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("pq4_queries")
    def tvf() = spark.sql(
      "SELECT * FROM graft_ann_search_pq4('emb_pq4', 'pq4_queries', 10, 4, 50)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val noKey = intercept[Exception](tvf())
    assert(noKey.getMessage.contains("localKey") ||
      Option(noKey.getCause).exists(_.getMessage.contains("localKey")))
    // registered with the key but COLD: loud at analysis time
    AnnSql.registerIndex(spark, "emb_pq4", idx, base, localKey)
    val cold = intercept[Exception](tvf())
    assert(cold.getMessage.contains("warm") ||
      Option(cold.getCause).exists(_.getMessage.contains("warm")))
    Pq.warmLocalIvf4(spark, idx, localKey, base)
    val sql = tvf()
    val qRows = base.filter(col("id") < 8)
      .select(col("id").cast("long"), col("vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val direct = qRows.flatMap { case (qid, qvec) =>
      Pq.searchLocalIvf4(qvec, idx, localKey, nprobe = 4, k = 10, refineK = 50)
        .zipWithIndex.map { case ((id, sc), r) => (qid, id, sc, r + 1) }
    }.toSeq
    assert(sql == direct, "pq4 TVF diverged from searchLocalIvf4")
    val sparkPlan = Pq.searchFastScanIvfRefined(base, idx,
      base.filter(col("id") < 8)
        .select(col("id").as("qid"), col("vec").as("qvec")),
      nprobe = 4, k = 10, refineK = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(sql.toSet == sparkPlan,
      "pq4 TVF diverged from the distributed fastscan+refine plan")
    // composes like any table expression; rank is per-query
    val n = spark.sql(
      """SELECT count(*) AS c
        |FROM graft_ann_search_pq4('emb_pq4', 'pq4_queries', 10, 4, 50)
        |WHERE rank <= 3""".stripMargin).head().getLong(0)
    assert(n == 8 * 3)
    // refine_k <= k violates the local tier's always-refine contract
    val badK = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann_search_pq4('emb_pq4', 'pq4_queries', 10, 4, 10)")
        .collect()
    }
    assert(badK.getMessage.contains("refine") ||
      Option(badK.getCause).exists(_.getMessage.contains("refine")))
    // exclude_view (r16): the takedown list rides a view; the TVF must
    // equal the direct tier under the same exclusion predicate and
    // never emit an excluded id
    val dead = sql.filter(_._4 == 1).map(_._2).distinct
    spark.createDataFrame(
      java.util.List.of(dead.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .createOrReplaceTempView("pq4_takedowns")
    val sqlExcl = spark.sql(
      "SELECT * FROM graft_ann_search_pq4('emb_pq4', 'pq4_queries', 10, 4, 50, 'pq4_takedowns')")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(!sqlExcl.exists(t => dead.contains(t._2)),
      "pq4 TVF leaked a takedown")
    val deadSet = dead.toSet
    val directExcl = qRows.flatMap { case (qid, qvec) =>
      Pq.searchLocalIvf4(qvec, idx, localKey, nprobe = 4, k = 10,
        refineK = 50, exclude = deadSet.contains)
        .zipWithIndex.map { case ((id, sc), r) => (qid, id, sc, r + 1) }
    }.toSeq
    assert(sqlExcl == directExcl,
      "pq4 TVF exclusion diverged from the direct tier's")
    AnnSql.unregister(spark, "emb_pq4")
    Pq.invalidateLocal(localKey)
  }

  test("hnsw TVF non-contract flavors refuse a PARTIAL warmed group (r16)") {
    // ADVICE r15: warmed() checks non-empty, not complete — a partial
    // restore under allowMissing=true silently dropped probed shards.
    // Build the full group, register, serve once (green), then evict and
    // warm only a SUBSET: the TVF must fail loudly instead of serving.
    import graft.functions.AnnSql
    import graft.ops.{Hnsw, Ivf}
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val router = Ivf.buildOrGet(spark, base, s"$dir|sqlhnsw", nlist = 4,
      ntrain = 500)
    val key = s"$dir|sqlhnsw|partial"
    val qs = base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    Hnsw.searchRouted(base, qs, router.centroids, routeProbe = 2, k = 10,
      graft.ops.Metric.Dot, m = 8, efConstruction = 64, efSearch = 64,
      cacheKey = key).count()
    Hnsw.quantizeWarmed(key)
    val tmp = java.nio.file.Files.createTempDirectory("sql_hnsw_partial").toString
    Hnsw.saveWarmed(key, tmp)
    AnnSql.registerHnsw(spark, "emb_hnsw_part", base, router.centroids,
      routeProbe = 2, m = 8, efConstruction = 64, cacheKey = key)
    qs.createOrReplaceTempView("hnsw_partial_queries")
    def tvf() = spark.sql(
      "SELECT * FROM graft_ann_search_hnsw('emb_hnsw_part', 'hnsw_partial_queries', 10, 64, 'i8')")
    assert(tvf().count() > 0) // complete group serves
    // partial group: drop everything, restore ONE shard's store file by
    // truncating the manifest to its first line
    Hnsw.invalidate(key)
    val mf = java.nio.file.Paths.get(s"$tmp/MANIFEST")
    val full = java.nio.file.Files.readString(mf)
    java.nio.file.Files.writeString(mf, full.split('\n').head + "\n")
    assert(Hnsw.warmFromDisk(key, tmp) == 1)
    val err = intercept[Exception](tvf().collect())
    assert(err.getMessage.contains("INCOMPLETE") ||
      Option(err.getCause).exists(_.getMessage.contains("INCOMPLETE")),
      s"partial group must refuse to serve: ${err.getMessage}")
    // full restore serves again
    java.nio.file.Files.writeString(mf, full)
    Hnsw.invalidate(key)
    val nShards = full.split('\n').count(_.nonEmpty)
    assert(Hnsw.warmFromDisk(key, tmp) == nShards)
    assert(tvf().count() > 0)
    AnnSql.unregister(spark, "emb_hnsw_part")
    Hnsw.invalidate(key)
  }

  test("hnsw TVF respects tombstones on a maintained group (r16)") {
    // maintenance lives in the warmed graphs; the SQL surface serves the
    // same group, so a deleteWarmed must be invisible to the TVF except
    // for the deleted ids vanishing — full-k results, no leaks, equal to
    // the searchWarm twin over the same maintained group.
    import graft.functions.AnnSql
    import graft.ops.{Hnsw, Ivf, Metric}
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val router = Ivf.buildOrGet(spark, base, s"$dir|sqlhnsw", nlist = 4,
      ntrain = 500)
    val key = s"$dir|sqlhnsw|maint"
    val qs = base.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    Hnsw.invalidate(key)
    Hnsw.searchRouted(base, qs, router.centroids, routeProbe = 2, k = 10,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 64,
      cacheKey = key).count()
    Hnsw.quantizeWarmed(key)
    AnnSql.registerHnsw(spark, "emb_hnsw_mnt", base, router.centroids,
      routeProbe = 2, m = 8, efConstruction = 64, cacheKey = key)
    qs.createOrReplaceTempView("hnsw_maint_queries")
    def tvf(flavor: String) = spark.sql(
      s"SELECT * FROM graft_ann_search_hnsw('emb_hnsw_mnt', 'hnsw_maint_queries', 10, 64, '$flavor')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = tvf("i8")
    // tombstone every query's current top hit, plus an upsert of a fresh id
    val dead = before.groupBy(_._1).map(_._2.head._2).toSet.toArray
    assert(Hnsw.deleteWarmed(spark, key, dead, nShards = 4) == dead.length)
    import spark.implicits._
    Hnsw.upsertWarmed(
      spark.createDataset(Seq((5000L,
        qs.filter(col("qid") === 0).collect()(0).getSeq[Float](1).toArray)))
        .toDF("id", "vec"),
      key, nShards = 4, Metric.Dot, m = 8, efConstruction = 64,
      centroids = router.centroids, createMissing = true).count()
    for (flavor <- Seq("i8", "contract")) {
      val after = tvf(flavor)
      assert(after.size == before.size, s"$flavor: short results after delete")
      assert(!after.exists(p => dead.contains(p._2)),
        s"$flavor: TVF leaked a tombstoned id")
      val twin = Hnsw.searchWarm(qs, key, nShards = 4, k = 10, Metric.Dot,
        m = 8, efConstruction = 64, efSearch = 64,
        centroids = router.centroids, routeProbe = 2, allowMissing = true,
        flavor = if (flavor == "i8") Hnsw.Flavor.I8 else Hnsw.Flavor.Contract)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(after.toSet == twin.toSet, s"$flavor: TVF != searchWarm twin")
    }
    // the upserted twin of query 0's vector is served (id 5000 routed to
    // its centroid cell, probed by the same query)
    assert(tvf("contract").contains((0L, 5000L)),
      "upserted row not reachable through the TVF")
    AnnSql.unregister(spark, "emb_hnsw_mnt")
    Hnsw.invalidate(key)
  }

  test("SQL top-k with graft_dot matches the DataFrame path") {
    val sql = spark.sql(
      """SELECT b.vec_id AS id,
        |  round(graft_dot(b.embedding, q.embedding), 6) AS score
        |FROM emb b CROSS JOIN (SELECT embedding FROM emb WHERE vec_id = 3) q
        |ORDER BY score DESC, id LIMIT 10""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val e = Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id") === 3).select(col("embedding").as("qvec"))
    val df = e.crossJoin(qv)
      .select(col("vec_id").as("id"),
        round(VectorFunctions.dot(col("embedding"), col("qvec")), 6).as("score"))
      .orderBy(col("score").desc, col("id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sql == df)
    assert(sql.head._1 == 3L) // self-match first on normalized vectors
  }

  test("SQL quantize/norm/half functions execute and agree") {
    val r = spark.sql(
      """SELECT vec_id,
        |  graft_norm2(embedding) AS n,
        |  graft_quantize_i8(embedding).scale AS s,
        |  graft_dot_half(embedding, graft_half_encode(embedding)) AS dh
        |FROM emb WHERE vec_id < 5 ORDER BY vec_id""".stripMargin).collect()
    assert(r.length == 5)
    r.foreach { row =>
      assert(math.abs(row.getDouble(1) - 1.0) < 1e-3) // normalized
      assert(row.getFloat(2) > 0f)
      assert(math.abs(row.getDouble(3) - 1.0) < 1e-2) // fp16 self-dot ~ 1
    }
  }

  test("SQL text kernels execute") {
    spark.sql("SELECT 1").count() // ensure session init
    Tables.documents(spark, dir).createOrReplaceTempView("docs")
    val r = spark.sql(
      """SELECT doc_id, graft_minhash_sig(text) AS sig, graft_fingerprint(text) AS fp,
        |  graft_simhash64(split(trim(text), '\\s+')) AS sh,
        |  graft_simhash_md5(split(trim(text), '\\s+')) AS shm,
        |  graft_minhash_sig64(text) AS sig64
        |FROM docs WHERE doc_id < 3 ORDER BY doc_id""".stripMargin).collect()
    assert(r.length == 3)
    assert(r.forall(_.getSeq[String](1).length == 4))
    assert(r.forall(_.getString(2).length == 32))
    assert(r.forall(_.getSeq[Long](5).length == 4))
    // SQL registration agrees with the Column API path
    val colApi = Tables.documents(spark, dir).filter(col("doc_id") < 3)
      .orderBy(col("doc_id"))
      .select(VectorFunctions.simhashMd5(split(trim(col("text")), "\\s+")),
        VectorFunctions.minhashSig64(col("text")))
      .collect()
    assert(r.map(_.getLong(4)).toSeq == colApi.map(_.getLong(0)).toSeq)
    assert(r.map(_.getSeq[Long](5)).toSeq == colApi.map(_.getSeq[Long](1)).toSeq)
  }

  test("graft_md5_lower64 pins known DuckDB md5_number_lower values") {
    // SELECT md5_number_lower('abc'), md5_number_lower('p4-0') in DuckDB;
    // values ≥ 2^63 land as negative signed longs — the same 64-bit
    // pattern both engines band/mod/compare on
    val r = spark.sql(
      "SELECT graft_md5_lower64('abc') AS a, graft_md5_lower64('p4-0') AS b")
      .collect().head
    assert(r.getLong(0) == java.lang.Long.parseUnsignedLong("8250560606382298838"))
    assert(r.getLong(1) == java.lang.Long.parseUnsignedLong("10552995797209982114"))
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication family for large-scale training-data pipelines.
  *
  * Scale design: every method is a shuffle-on-key plan — no O(N²) pairwise
  * compare ever touches the full corpus. Exact dedup shuffles on a content
  * hash; MinHash-LSH shuffles on band keys so only same-bucket candidates
  * are pair-compared; SimHash shuffles on band substrings of the signature.
  * At 100 TB the only quadratic work left is within-bucket, which LSH keeps
  * O(1)-ish per doc.
  */
object Dedup {

  /** Exact duplicate groups by md5(text): (h, n_dups, keep_id, doc_ids). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"),
        sort_array(collect_list(col(idCol))).as("doc_ids"))

  /** MinHash-LSH candidate pairs over the sig64 signature
    * (`HashKernels.minhashSig64`, ONE md5 per shingle for the whole
    * signature): band the signature, bucket on band keys, emit distinct
    * candidate pairs (a < b). Only candidates sharing a band collide — the
    * scale path for near-dup detection; at 100 TB the signature pass IS
    * the dedup cost. The hex-signature kernel stays as the
    * DuckDB-anchored oracle twin (d2/d7 gate both kernels).
    *
    * ONE scan, ONE shuffle: ids aggregate per (band, key) bucket and pairs
    * expand from the bucket array. The naive self-join shape reads the
    * corpus (and runs the signature kernel) TWICE — once per join side —
    * because the HOF-lambda band keys defeat exchange reuse; at 100 TB the
    * second signature pass is the whole cost. Within-bucket work is
    * quadratic in either shape; LSH banding keeps buckets small by
    * construction (a huge bucket means the band width is misconfigured for
    * the corpus, and it stalls the self-join exactly the same way).
    */
  def minhashLshPairs64(docs: DataFrame, shingleSize: Int = 5, bands: Int = 4,
                        rowsPerBand: Int = 2, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val buckets = docs
      .select(col(idCol), posexplode(sig64BandKeys(shingleSize, bands,
        rowsPerBand, textCol)).as(Seq("band", "key")))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** The banded sig64 key array shared by the pair join and the bucket
    * diagnostic. The signature is bound ONCE through a lambda variable: an
    * array() of bands×rows element_at(sig, ·) references would let
    * Catalyst inline (and re-run) the whole kernel per component —
    * measured 6× on d9.
    */
  private def sig64BandKeys(shingleSize: Int, bands: Int, rowsPerBand: Int,
                            textCol: String): org.apache.spark.sql.Column = {
    val sig = VectorFunctions.minhashSig64(col(textCol), shingleSize,
      bands * rowsPerBand)
    element_at(
      transform(array(sig), s =>
        array((0 until bands).map { b =>
          concat_ws("|", (0 until rowsPerBand).map(r =>
            element_at(s, b * rowsPerBand + r + 1).cast("string")): _*)
        }: _*)), 1)
  }

  /** Bucket occupancy of the sig64 banding — the scale diagnostic: a
    * misconfigured band width surfaces here as corpus-sized buckets long
    * before the O(bucket²) pair expansion blows anything up. Returns
    * (band, key, n_ids), largest bucket first; the scale gate asserts
    * max(n_ids) stays bounded by duplicate-cluster size, not corpus size.
    */
  def lsh64BucketSizes(docs: DataFrame, shingleSize: Int = 5, bands: Int = 4,
                       rowsPerBand: Int = 2, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      posexplode(sig64BandKeys(shingleSize, bands, rowsPerBand, textCol))
        .as(Seq("band", "key")))
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n_ids"))
      .orderBy(col("n_ids").desc)

  /** SimHash near-dup pairs: band the 64-bit fingerprint into `bands`
    * equal bit slices, bucket-join on (band, slice), verify candidates
    * with true Hamming distance — two docs within Hamming r collide
    * whenever any slice is untouched (guaranteed for r < bands). The md5
    * flavor keeps the whole pass SQL-reproducible (d10's full oracle);
    * same candidate-then-verify shape as [[minhashLshPairs64]].
    *
    * Returns (a, b, hamming) with hamming <= maxHamming, a < b, distinct.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 8, bands: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val banded = simhashBanded(docs, bands, idCol, textCol)
    // same one-scan bucket-expansion shape as minhashLshPairs64, carrying the
    // signature so Hamming verifies inside the bucket (struct ordering
    // sorts by id first, so a < b holds after sort_array)
    val buckets = banded.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("sig").as("s"))))
        .as("xs"))
      .filter(size(col("xs")) > 1)
    buckets
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
          struct(x.getField("id").as("a"), y.getField("id").as("b"),
            bit_count(x.getField("s").bitwiseXOR(y.getField("s")))
              .cast("long").as("hamming")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The (id, sig, band, key) frame shared by the simhash pair join and
    * the bucket diagnostic. ONE kernel eval per row: the lambda binds the
    * signature, the generator materializes (sig, band, key) structs, and
    * downstream field extraction reads the generator's output attribute
    * instead of re-inlining the kernel (the d9 lesson).
    */
  private def simhashBanded(docs: DataFrame, bands: Int, idCol: String,
                            textCol: String): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val sig = VectorFunctions.simhashMd5(TextFunctions.tokens(col(textCol)))
    val packed = element_at(
      transform(array(sig), s =>
        array((0 until bands).map { b =>
          struct(s.as("sig"), lit(b).as("band"),
            shiftrightunsigned(s, bits * b).bitwiseAND(lit(mask)).as("key"))
        }: _*)), 1)
    docs.select(col(idCol), explode(packed).as("x"))
      .select(col(idCol), col("x.sig").as("sig"),
        col("x.band").as("band"), col("x.key").as("key"))
  }

  /** Bucket occupancy of the simhash banding — d10's analogue of
    * [[lsh64BucketSizes]]: (band, key, n_ids), largest first. Slice-width
    * misconfiguration (too few bands for the corpus) shows up here as
    * corpus-sized buckets before the pair expansion hurts.
    */
  def simhashBucketSizes(docs: DataFrame, bands: Int = 4,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    simhashBanded(docs, bands, idCol, textCol)
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n_ids"))
      .orderBy(col("n_ids").desc)

  /** Benchmark decontamination: per corpus document, how many of its token
    * `gramTokens`-grams appear anywhere in the benchmark set, plus the
    * keep verdict (zero overlap). The standard "remove eval-set
    * contamination from training data" pass (13-gram overlap in the
    * published recipes; the gram size is a parameter).
    *
    * Scale shape: benchmark sets are fixed-size (MBs) regardless of corpus
    * size, so the distinct benchmark gram set is BROADCAST — the corpus is
    * never shuffled to discover hits, its grams stream map-side through
    * the broadcast join and only MATCHED (doc, gram) rows reach the
    * per-doc count. Grams are md5Lower64-keyed so the join key is one
    * 8-byte long instead of the gram text (or its 32-byte hex). Docs
    * shorter than `gramTokens` contribute their single truncated window
    * (fingerprint semantics).
    *
    * Returns (idCol, n_hit_grams, keep) — one row per corpus doc.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, gramTokens: Int = 13,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def gramsCol = TextFunctions.tokenGrams64(col(textCol), gramTokens)
    val benchGrams = benchmark.select(explode(gramsCol).as("gram")).distinct()
    val hits = corpus.select(col(idCol), explode(gramsCol).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      // grams are distinct per doc, so plain count == distinct matched grams
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit_grams"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
      .withColumn("keep", col("n_hit_grams") === 0L)
  }

  /** CCNet-style boilerplate measurement: a token `gramTokens`-gram is
    * boilerplate when it appears in at least `minDocs` distinct documents;
    * each document gets its boilerplate-gram count and fraction (the
    * "remove template/navigation text" quality signal).
    *
    * Scale shape: per-doc DISTINCT grams (lambda-bound, computed once per
    * pass) explode to (doc, n_grams, gram) rows — `n_grams` rides the
    * explode so no third pass over the corpus is needed for the
    * denominator. Gram document-frequency is ONE shuffle-on-gram
    * aggregation (rows are distinct per doc, so count(*) IS the doc
    * frequency); the boilerplate set joins back on the gram hash and the
    * per-doc rollup counts matched grams directly (grams are never empty
    * — short docs yield their truncated window — so every doc survives
    * the explode). No stage holds unbounded per-key state.
    *
    * Shuffle floor, measured at 200k docs (BENCH_SCALE): 82.7 MB. The
    * df-agg's map-side partial combine is what compresses it — each
    * partition ships its DISTINCT (gram, partial-count) pairs once, and
    * AQE broadcasts the filtered boilerplate set so the exploded table
    * never shuffles a second time. The tempting "one exchange" window
    * alternative (`count().over(Window.partitionBy(gram))` on the same
    * exchange) was measured STRICTLY WORSE — 163.6 MB — because a window
    * exchange carries every raw (doc, gram) occurrence uncombined; exact
    * per-gram document frequency cannot move less data than the
    * partial-combined distinct pairs, so this is the floor shape.
    *
    * Floor accounting (BENCH_SCALE d12 records it as `floor_mb`): the df
    * shuffle must carry ≥ one ~16 B (gram64, count) record per UNIQUE
    * gram — 3.42M uniques ≈ 54.7 MB at the 200k corpus vs 82.7 MB
    * measured, a 1.5× gap that is exactly the high-df grams emitting one
    * partial per map partition they touch. That overhead shrinks
    * RELATIVELY as the corpus grows (partials per gram are capped by the
    * map partition count while uniques grow ~linearly), so the shape is
    * already the scale-correct one; squeezing the last 28 MB at 200k
    * would mean giving up map-side combine or exact df.
    *
    * Returns (idCol, n_grams, n_bp_grams, bp_ratio) — one row per doc.
    */
  def boilerplateRatio(docs: DataFrame, gramTokens: Int = 3, minDocs: Int = 5,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(
        TextFunctions.tokenGrams64(col(textCol), gramTokens)).as("gram"))
    val boilerplate = exploded.groupBy(col("gram"))
      .agg(count(lit(1)).as("df")).filter(col("df") >= minDocs)
      .select(col("gram"))
    // only MATCHED grams regroup by doc (inner join) and the per-doc
    // denominator is a separate map-side kernel pass. Measured with a
    // noop-write sink and warmup (200k docs, BENCH_SCALE): 11-13 s vs
    // 18.3 s for the left-join + full-regroup shape — ~1.5× even on the
    // WORST-case corpus where near-dup families make nearly every gram
    // boilerplate (matched set == whole exploded table); on realistic
    // corpora the matched sliver is far smaller and the gap widens.
    // (Caution when re-measuring: a count() sink lets Catalyst eliminate
    // both shapes' joins/aggs and times nothing. The denominator must be
    // the kernel, not tokens−k+1 arithmetic: grams are DISTINCT per doc,
    // so repetitive docs have fewer.)
    val matched = exploded.join(boilerplate, Seq("gram"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_bp_grams"))
    docs.select(col(idCol),
      size(TextFunctions.tokenGrams64(col(textCol), gramTokens))
        .cast("long").as("n_grams"))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_bp_grams"), lit(0L)).as("n_bp_grams"))
      .withColumn("bp_ratio",
        col("n_bp_grams").cast("double") / greatest(col("n_grams"), lit(1)))
  }

  /** Brute n-gram Jaccard over an explicit pair sample (correctness oracle
    * for the LSH path; never run unsampled at scale).
    *
    * The distinct n-gram set is materialized per document BEFORE the join —
    * the join multiplies rows, so set extraction inside it would repeat per
    * pair (measured 100× slower at sf0.1).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, leftFilter: org.apache.spark.sql.Column,
                        idCol: String = "doc_id", textCol: String = "text",
                        minJaccard: Double = 0.0): DataFrame = {
    val sets = docs.select(col(idCol),
      VectorFunctions.ngramCodes(col(textCol), n).as("s"))
    val l = sets.filter(leftFilter).select(col(idCol).as("a"), col("s").as("sa"))
    val r = sets.select(col(idCol).as("b"), col("s").as("sb"))
    // primitive sorted-merge jaccard: cheap even when Catalyst folds the
    // threshold filter into the join condition and re-evaluates it
    val jac = VectorFunctions.jaccardCodes(col("sa"), col("sb"))
    // Length filter (r17; the classic size-ratio prefilter of the
    // similarity-join literature — Arasu et al. VLDB'06 / Xiao et al.
    // WWW'08): |A∩B| <= min(|A|,|B|), so J(A,B) >= t implies
    // min(|A|,|B|) >= t * max(|A|,|B|). Two O(1) array-length reads and
    // one multiply drop a pair BEFORE the O(|A|+|B|) sorted-merge kernel
    // runs in the join condition; the surviving pairs' jaccard values are
    // computed exactly as before, so a caller filtering `jaccard >= t`
    // gets identical rows (the bound is implied, never binding). 0.25 is
    // exact in binary floating point and all sizes are exact integers,
    // so the boundary case cannot misround. ONE filter call with `a < b`
    // FIRST: a separate `.filter` per predicate let CombineFilters nest
    // the cheap id compare LAST in the join condition, running the
    // merge kernel on the a >= b half of the pairs it used to skip
    // (measured 1.15 -> 1.75 s before this ordering fix).
    val cond =
      if (minJaccard > 0.0)
        col("a") < col("b") &&
          least(size(col("sa")), size(col("sb"))).cast("double") >=
            lit(minJaccard) * greatest(size(col("sa")), size(col("sb")))
      else col("a") < col("b")
    broadcast(l).crossJoin(r).filter(cond)
      .select(col("a"), col("b"), jac.as("jaccard"))
  }

  /** [[connectedComponentsStats]] result: the (node, component) labels
    * plus the number of label-propagation rounds the graph needs.
    */
  final case class CcResult(labels: DataFrame, iterations: Int)

  /** Edge count up to which connected components run on the driver:
    * 2^22 pairs are 64 MB of long ids. Measured at the bound with a 4 GB
    * heap on 4 local cores, 4M disjoint pairs (8M labels): the driver path
    * peaked at 0.4 GB of heap above its input, and the labels hold 0.2 GB
    * (two long arrays and their broadcast) while they are in use.
    */
  private val DriverEdgeBound = 1 << 22

  /** Connected components over a near-dup pair graph (a, b). Returns
    * (node, component), one row per node that has a pair, where component
    * is the smallest node id reachable from the node. A pair with a null
    * end adds nothing.
    *
    * Up to 2^22 pairs with integral ids, one Spark job collects the edges
    * and a breadth-first search on the driver labels them; `labels` then
    * reads the driver's label arrays through a broadcast. Larger edge
    * sets, or other id types, run min-label propagation in Spark, one
    * join and group-by round at a time; `maxIter` bounds those rounds
    * only, and not converging within it throws `IllegalStateException`
    * rather than return split components.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          aCol: String = "a", bCol: String = "b"): DataFrame =
    connectedComponentsStats(pairs, maxIter, aCol, bCol).labels

  /** [[connectedComponents]] with its round count exposed. `iterations`
    * is the number of rounds label propagation needs on this graph: one
    * plus the largest hop distance from a component's smallest id to any
    * of its nodes, or 1 when there are no pairs. Both paths report the
    * same number; only the propagation path spends one Spark round on
    * each.
    */
  def connectedComponentsStats(pairs: DataFrame, maxIter: Int = 20,
                               aCol: String = "a", bCol: String = "b"): CcResult =
    componentsWithin(pairs, maxIter, aCol, bCol, DriverEdgeBound)

  /** [[connectedComponentsStats]] with the driver path's edge bound as a
    * parameter. Integral ids are read from the pair lineage once: the
    * packed edges stay persisted while either path runs on them.
    */
  private[graft] def componentsWithin(pairs: DataFrame, maxIter: Int, aCol: String,
                                      bCol: String, bound: Int): CcResult = {
    import org.apache.spark.sql.types._
    val ab = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // the id type and nullability the propagation plan's union gives
    val id = ab.select(col("a").as("x")).union(ab.select(col("b").as("x"))).schema.head
    val spark = pairs.sparkSession
    import spark.implicits._
    id.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val packed = packEdges(ab)
        try collectEdges(packed, bound) match {
          case Some(edges) =>
            val (nodes, roots, iterations) = componentsOf(edges)
            // row i of a range reads label i from a broadcast of the two
            // arrays: no driver object per label, and the range keeps the
            // plan's size estimate true, so a large label set is not
            // broadcast into a join
            val table = spark.sparkContext.broadcast((nodes, roots))
            val nodeAt = udf((i: Long) => table.value._1(i.toInt))
            // boxed, so `component` is nullable like propagation's min
            val rootAt = udf((i: Long) => Long.box(table.value._2(i.toInt)))
            val labels = spark.range(nodes.length).select(
              nodeAt(col("id")).cast(id.dataType).as("node"),
              rootAt(col("id")).cast(id.dataType).as("component"))
            CcResult(labels, iterations)
          case None =>
            val unpacked = packed
              .flatMap(e => Iterator.tabulate(e.length / 2)(i => (e(2 * i), e(2 * i + 1))))
              .toDF("a", "b")
              .select(col("a").cast(id.dataType).as("a"), col("b").cast(id.dataType).as("b"))
            propagateComponents(unpacked, maxIter)
        } finally packed.unpersist()
      case _ => propagateComponents(ab, maxIter)
    }
  }

  /** The (a, b) pairs of `ab` as one interleaved long array per
    * partition, persisted, so reading the edges again skips the pair
    * lineage. The caller unpersists it.
    */
  private[graft] def packEdges(ab: DataFrame): org.apache.spark.rdd.RDD[Array[Long]] = {
    val spark = ab.sparkSession
    import spark.implicits._
    ab.select(col("a").cast("long"), col("b").cast("long")).as[(Long, Long)].rdd
      .mapPartitions { it =>
        val out = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (a, b) => out += a; out += b }
        Iterator.single(out.result())
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The packed edges as one array, or None when there are more than
    * `bound`. One job returns each partition's edge count and, up to its
    * share of the bound, its edges, so the driver never receives much
    * more than the bound; only a partition over its share while the total
    * fits costs a second job, which reads the persisted arrays.
    */
  private[graft] def collectEdges(packed: org.apache.spark.rdd.RDD[Array[Long]],
                                  bound: Int): Option[Array[Long]] = {
    val share = 2 * (bound / math.max(1, packed.getNumPartitions) + 1)
    val first = packed
      .map(e => (e.length / 2, if (e.length <= share) e else java.util.Arrays.copyOf(e, share)))
      .collect()
    if (first.map(_._1.toLong).sum > bound) None
    else if (first.forall(p => p._2.length == 2 * p._1)) Some(Array.concat(first.map(_._2): _*))
    else Some(Array.concat(packed.collect(): _*))
  }

  /** Components of an interleaved edge array: (nodes ascending, each
    * node's component id, propagation rounds). A breadth-first search
    * from every not yet reached node in ascending order starts at its
    * component's smallest id, so one O(V + E) pass yields both the
    * labels and the largest hop distance from a component's smallest id.
    */
  private def componentsOf(edges: Array[Long]): (Array[Long], Array[Long], Int) = {
    val sorted = edges.clone()
    java.util.Arrays.sort(sorted)
    var nv = 0
    var i = 0
    while (i < sorted.length) {
      if (nv == 0 || sorted(i) != sorted(nv - 1)) { sorted(nv) = sorted(i); nv += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, nv)
    val ends = edges.map(java.util.Arrays.binarySearch(ids, _))
    // adjacency in CSR form, both directions, self-loops dropped
    val start = new Array[Int](nv + 1)
    i = 0
    while (i < ends.length) {
      if (ends(i) != ends(i + 1)) { start(ends(i) + 1) += 1; start(ends(i + 1) + 1) += 1 }
      i += 2
    }
    i = 0
    while (i < nv) { start(i + 1) += start(i); i += 1 }
    val adj = new Array[Int](start(nv))
    val fill = java.util.Arrays.copyOf(start, nv)
    i = 0
    while (i < ends.length) {
      val u = ends(i)
      val v = ends(i + 1)
      if (u != v) {
        adj(fill(u)) = v; fill(u) += 1
        adj(fill(v)) = u; fill(v) += 1
      }
      i += 2
    }
    val root = Array.fill(nv)(-1)
    val hops = new Array[Int](nv)
    val queue = new Array[Int](nv)
    var deepest = 0
    var s = 0
    while (s < nv) {
      if (root(s) < 0) {
        root(s) = s
        queue(0) = s
        var head = 0
        var tail = 1
        while (head < tail) {
          val u = queue(head)
          head += 1
          deepest = math.max(deepest, hops(u))
          var j = start(u)
          while (j < start(u + 1)) {
            val v = adj(j)
            if (root(v) < 0) {
              root(v) = s; hops(v) = hops(u) + 1
              queue(tail) = v; tail += 1
            }
            j += 1
          }
        }
      }
      s += 1
    }
    (ids, root.map(ids(_)), deepest + 1)
  }

  /** Min-label propagation in Spark over (a, b) pairs: each round every
    * node adopts the smallest component id among itself and its
    * neighbors, until a round changes nothing. One join, one group-by
    * and one sum per round, and as many rounds as the graph's diameter
    * needs; the path for edge sets too large for the driver. Throws
    * `IllegalStateException` when `maxIter` rounds do not converge.
    */
  private[graft] def propagateComponents(pairs: DataFrame, maxIter: Int): CcResult = {
    // NOT pre-partitioned on the join key, by measurement (r18): caching
    // the edge table y-repartitioned (guide §2.4, so each iteration's
    // `edges ⋈ labels ON y` skips the edge-side shuffle) read ~2× SLOWER
    // across d13–d16 at fixture scale — the extra build-time exchange +
    // the pinned partitioning defeating AQE's small-shuffle coalescing
    // cost more than the saved per-iteration shuffle on small dup graphs.
    // Revisit only with evidence from a corpus whose edge table dwarfs
    // the label frame (where the per-iteration edge shuffle dominates).
    val edges = pairs.select(col("a").as("x"), col("b").as("y"))
      .union(pairs.select(col("b").as("x"), col("a").as("y")))
      .distinct().cache()
    var labels = edges.select(col("x").as("node"))
      .distinct().withColumn("component", col("node")).cache()
    // Fixpoint witness (r17, guide §1.2 — fewer passes): per node the
    // label is min(self, neighbors') — monotonically NON-INCREASING over a
    // fixed node set — so the exact label sum is unchanged iff NO node
    // changed. One decimal-sum aggregate per iteration both materializes
    // the cache and answers convergence; the former shape paid two
    // actions per iteration (count() + a labels⋈next inequality count —
    // an extra shuffle-join over the full label frame each round).
    // decimal(38,0): at 1e12 nodes × 1e12 max id a long sum overflows.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
    def sumEq(a: java.math.BigDecimal, b: java.math.BigDecimal): Boolean =
      (a == null && b == null) || (a != null && b != null && a.compareTo(b) == 0)
    var prevSum = labelSum(labels) // materializes the initial cache
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // each node pulls the min component among itself and its neighbors
      val viaEdges = edges
        .join(labels.withColumnRenamed("node", "y"), Seq("y"))
        .select(col("x").as("node"), col("component"))
      var next = labels.select(col("node"), col("component"))
        .union(viaEdges)
        .groupBy("node").agg(min(col("component")).as("component"))
      // cache() alone keeps growing the logical plan — each iteration's
      // lineage nests the last. Truncate it every few iterations so deep
      // graphs (long dup chains) don't blow up analysis time or recovery
      // cost; localCheckpoint materializes and cuts lineage in one pass.
      next = if ((it + 1) % 5 == 0) next.localCheckpoint() else next.cache()
      val s = labelSum(next)
      labels.unpersist()
      labels = next
      converged = sumEq(s, prevSum)
      prevSum = s
      it += 1
    }
    edges.unpersist()
    if (!converged) {
      // a dup chain with diameter > maxIter would split clusters (keepers()
      // would then keep several "canonical" copies of one cluster)
      labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations; " +
          "components would be split. Raise maxIter for deep duplicate chains.")
    }
    CcResult(labels, it)
  }

  /** Keeper selection: one row per document, with its duplicate-cluster
    * component and whether it is the kept canonical copy (smallest id in
    * the component; unpaired docs keep themselves).
    */
  def keepers(docs: DataFrame, pairs: DataFrame,
              idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
    docs.join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("keep", col(idCol) === col("component"))
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane sign-LSH
    * (Charikar SimHash for vectors): each of `nTables` independent tables
    * hashes a vector to the sign pattern of `nPlanes` seeded Gaussian
    * hyperplane projections; only vectors sharing a (table, bucket) key are
    * pair-compared, then verified with true cosine — the same
    * candidate-then-verify shape as [[minhashLshPairs64]]. No cross join:
    * the only shuffle is on bucket keys, within-bucket work is O(bucket²)
    * with ~N/2^nPlanes expected bucket size.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double, idCol: String = "vec_id",
                        vecCol: String = "embedding", nPlanes: Int = 12,
                        nTables: Int = 4, seed: Long = 42L): DataFrame =
    embeddingCandidates(emb, idCol, vecCol, nPlanes, nTables, seed)
      .filter(col("cos") >= threshold)

  /** SemDeDup candidate stage (Abbas et al., arXiv:2303.09540 —
    * semantic deduplication at web scale): embeddings are bucketed by
    * their k-means cluster and ONLY within-cluster pairs are compared —
    * the paper's own blocker against all-pairs (it runs k=50 000 clusters
    * at 600M images). Returns (cluster_id, a, b, cos) for every
    * within-cluster pair, a < b.
    *
    * Scale shape: pairwise work is Σ|cluster|², controlled by nlist (the
    * knob the paper turns); the only shuffle is the self-join on
    * cluster_id; assignment is the screened batched argmin
    * ([[Ivf.assign]]). Complementary to [[embeddingCandidates]]'s
    * sign-LSH blocking: k-means buckets respect the corpus's own density
    * structure (the reason the paper prefers them), LSH buckets are
    * data-independent.
    */
  def semanticCandidates(emb: DataFrame, centroids: Array[Array[Float]],
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    semanticCandidatesAssigned(
      Ivf.assign(emb.select(col(idCol), col(vecCol)), centroids, vecCol),
      idCol, vecCol)

  /** [[semanticCandidates]] over a PRE-ASSIGNED corpus — (idCol, vecCol,
    * cluster_id) rows, e.g. an IVF index's clustered table
    * ([[Ivf.Index.clustered]]), where the assignment is a stored column
    * and the candidate stage pays ZERO argmin kernel passes. With every
    * cell under `maxCellSize` the only shuffle is the self-join on
    * cluster_id and the pairs are the paper's exact within-cluster
    * all-pairs; cells past the cap switch to sign-LSH blocks with salted
    * splits (see [[saltedBlocks]]) — per-join-key work stays bounded at
    * any skew, at the cost of LSH-approximate candidates INSIDE the
    * oversized cells only (duplicate floods, the case that triggers the
    * guard, stay one component via the per-table salt mix +
    * [[connectedComponents]]).
    */
  def semanticCandidatesAssigned(assigned: DataFrame,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding",
                                 maxCellSize: Int = defaultMaxCellSize,
                                 nBlockPlanes: Int = 8,
                                 nBlockTables: Int = defaultBlockTables,
                                 blockSeed: Long = 2026L,
                                 dim: Int = -1): DataFrame = {
    def allPairs(rows: DataFrame): DataFrame = {
      val l = rows.select(col("cluster_id"), col(idCol).as("a"),
        col(vecCol).as("vec_a"))
      val r = rows.select(col("cluster_id"), col(idCol).as("b"),
        col(vecCol).as("vec_b"))
      l.join(r, Seq("cluster_id")).filter(col("a") < col("b"))
        .select(col("cluster_id"), col("a"), col("b"),
          VectorFunctions.cosine(col("vec_a"), col("vec_b")).as("cos"))
    }
    // Skewed-cell guard (r15): cell sizes are data-dependent and the
    // corpora this operator targets are exactly the duplicate-flooded
    // ones — one cell holding 1 % of a 100 TB corpus makes the
    // within-cell all-pairs quadratic AND lands it on ONE reducer (a
    // single join key). The guard is driver-decided: cell counts are an
    // nlist-bounded aggregate (only oversized rows ever reach the
    // driver, like every centroid collect), and when NO cell exceeds
    // the cap the returned plan is bit-identical to the unguarded one —
    // the paper's exact all-pairs, PlanSpec's single-shuffle gate, and
    // the d13/d14 oracles all ride on that path.
    val oversized: Seq[Long] = assigned.groupBy("cluster_id").count()
      .filter(col("count") > maxCellSize)
      .select(col("cluster_id").cast("long")).collect().map(_.getLong(0)).toSeq
    if (oversized.isEmpty) return allPairs(assigned)
    val isBig = col("cluster_id").cast("long").isInCollection(oversized)
    val big = assigned.filter(isBig)
    val smallPairs = allPairs(assigned.filter(!isBig))
    val bigPairs = saltedBlocks(big, idCol, vecCol,
      maxCellSize, nBlockPlanes, nBlockTables, blockSeed, dim)
    // vector fetch joins against the OVERSIZED rows only — every pair id
    // is a big-cell member, and fetching from the full corpus would
    // shuffle corpus-sized vector columns for a flood-sized join
    allPairsUnionShape(smallPairs, bigPairs, big, idCol, vecCol)
  }

  /** Default within-cluster all-pairs cap for the semantic-dedup skew
    * guard: 8192² / 2 ≈ 33 M cosine pairs per join block — seconds of
    * kernel work per reducer, the same order as the MinHash path's gated
    * bucket tail cost. Callers with other corpora pass `maxCellSize`.
    */
  private[graft] final val defaultMaxCellSize = 8192

  /** Default sign-LSH table count for the guard's oversized-cell arm
    * (r16, raised from 2 per the r15 ADVICE recall analysis): inside an
    * oversized cell, an ISOLATED genuine pair at cosine τ collides in at
    * least one block with probability 1 − (1 − p^P)^T where
    * p = 1 − acos(τ)/π is the per-plane sign-agreement probability
    * (Goemans–Williamson). At the default P = 8 planes and τ = 0.95
    * (p ≈ 0.899, p^8 ≈ 0.426): T=2 → 0.67, T=3 → 0.81, T=4 → 0.89.
    * Duplicate FLOODS recover missed pairs via transitivity (the salt
    * mix + [[connectedComponents]]), so the probability only bounds
    * standalone near-dup pairs in skewed cells; T=3 puts those above
    * 0.8 for ~1.5× table 2's candidate cost, paid inside oversized
    * cells only. Callers pass `nBlockTables` per corpus (4 when τ is
    * lower or isolated-pair recall matters more than guard cost).
    */
  private[graft] final val defaultBlockTables = 3

  /** The oversized-cell arm of [[semanticCandidatesAssigned]]: sign-LSH
    * blocks ([[LshAnn.signBuckets]] — similarity-preserving, so genuine
    * near-dups still collide) with an id-hash SALT split of any block
    * still past the cap (the exact-duplicate flood case, where every
    * LSH table maps the whole flood to one key). The salt partition is
    * PER-TABLE independent (`xxhash64(id, t)`), so a flood split into
    * salt groups in table 0 re-mixes across groups in table 1 — the
    * union of the per-group cliques is connected w.h.p. and
    * [[connectedComponents]] recovers the flood as ONE component even
    * though no single block saw all its pairs. Returns the salted
    * (cluster_id, t, key, salt, id) frame; every downstream join key is
    * ≤ ~cap rows, which is the whole point.
    */
  private def saltedBlocks(big: DataFrame, idCol: String, vecCol: String,
                           cap: Int, nPlanes: Int, nTables: Int,
                           seed: Long, dim0: Int = -1): DataFrame = {
    val dim = if (dim0 > 0) dim0
      else big.select(size(col(vecCol))).head().getInt(0)
    val blocked = LshAnn
      .signBuckets(big.select(col(idCol), col(vecCol)), idCol, vecCol,
        dim, nPlanes, nTables, seed)
      .join(big.select(col(idCol), col("cluster_id")), Seq(idCol))
    val counts = blocked.groupBy("cluster_id", "t", "key")
      .agg(count(lit(1)).as("_bn"))
    blocked.join(counts, Seq("cluster_id", "t", "key"))
      .withColumn("salt",
        when(col("_bn") <= cap, lit(0L))
          .otherwise(pmod(xxhash64(col(idCol), col("t")),
            ceil(col("_bn") / cap).cast("long"))))
      .select(col("cluster_id"), col("t"), col("key"), col("salt"),
        col(idCol))
  }

  /** Pair + cosine the salted blocks and union with the exact small-cell
    * arm — output schema identical to the unguarded candidates
    * (cluster_id, a, b, cos).
    *
    * Shuffle shape (r16, replacing the r15 pair-then-fetch): vectors
    * join onto the salted BLOCK rows (Θ(|big| · nTables) vector-carrying
    * rows — the light side) and the pairing + cosine happen INSIDE the
    * block self-join's generated stage, so no shuffle ever carries a
    * vector per candidate PAIR. The r15 shape deduped pairs before a
    * vector-fetch join to save duplicate cosines, but its second fetch
    * join shuffled `vec_a` per pair — Θ(flood · cap · nTables) rows ×
    * 1.5 KB at 384d, measured 50+ GB of spill (disk-full abort) on a
    * 30k-row multi-flood fixture. A pair seen by several tables now
    * computes its cosine up to nTables times — bit-identical values
    * (same kernel, same vectors), deduped by one DISTINCT on the skinny
    * (cluster_id, a, b, cos) output; duplicate cosines are map-side
    * kernel work, the cheaper currency at every scale.
    */
  private def allPairsUnionShape(smallPairs: DataFrame, salted: DataFrame,
                                 big: DataFrame, idCol: String,
                                 vecCol: String): DataFrame = {
    val withVec = salted.join(big.select(col(idCol), col(vecCol)), Seq(idCol))
    val l = withVec.select(col("cluster_id"), col("t"), col("key"),
      col("salt"), col(idCol).as("a"), col(vecCol).as("vec_a"))
    val r = withVec.select(col("cluster_id"), col("t"), col("key"),
      col("salt"), col(idCol).as("b"), col(vecCol).as("vec_b"))
    val bigPairs = l.join(r, Seq("cluster_id", "t", "key", "salt"))
      .filter(col("a") < col("b"))
      .select(col("cluster_id"), col("a"), col("b"),
        VectorFunctions.cosine(col("vec_a"), col("vec_b")).as("cos"))
      .distinct()
    smallPairs.unionByName(bigPairs)
  }

  /** Diagnostic for the skew guard, gated at scale like d9's bucket
    * tail: the LARGEST join-block row count the candidate stage will
    * pair within, AFTER guarding — small cells report their cell size,
    * oversized cells their largest (t, key, salt) block. Bounded ≈ cap
    * (salt groups are an id-hash partition, so binomial spread around
    * cap, not multiples of it).
    */
  def semanticBlockTail(assigned: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxCellSize: Int = defaultMaxCellSize,
                        nBlockPlanes: Int = 8,
                        nBlockTables: Int = defaultBlockTables,
                        blockSeed: Long = 2026L): Long = {
    val cells = assigned.groupBy("cluster_id").count()
    val oversized: Seq[Long] = cells.filter(col("count") > maxCellSize)
      .select(col("cluster_id").cast("long")).collect().map(_.getLong(0)).toSeq
    val small =
      if (oversized.isEmpty) cells
      else cells.filter(!col("cluster_id").cast("long").isInCollection(oversized))
    val smallMax = small.agg(coalesce(max(col("count")), lit(0L)))
      .head().getLong(0)
    if (oversized.isEmpty) return smallMax
    val bigMax = saltedBlocks(
      assigned.filter(col("cluster_id").cast("long").isInCollection(oversized)),
      idCol, vecCol, maxCellSize, nBlockPlanes, nBlockTables, blockSeed)
      .groupBy("cluster_id", "t", "key", "salt").count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
    math.max(smallMax, bigMax)
  }

  /** Enrich an assigned corpus with each row's distance to its own
    * cluster centroid — the scalar the far-from-centroid keep rule ranks
    * on (and the d14 sidecar column DuckDB re-applies the rule over).
    * Narrow per-row work against ONE centroid (not an argmin).
    */
  def withCentroidDist(assigned: DataFrame, centroids: Array[Array[Float]],
                       vecCol: String = "embedding",
                       outCol: String = "cdist"): DataFrame =
    assigned.withColumn(outCol, VectorFunctions.norm2(
      graft.ops.Pq.centroidResidual(col(vecCol), col("cluster_id"), centroids)))

  /** SemDeDup decision pass: within-cluster pairs with cosine ≥ `tau`
    * form duplicate edges; duplicate groups resolve by
    * [[connectedComponents]]; each group keeps ONE representative.
    *
    * `keepRule`:
    *  - `"min_id"` (default): smallest id per component — deterministic
    *    and fully SQL-reproducible, so the d13 oracle verifies the ENTIRE
    *    pipeline downstream of the (seeded, separately-anchored) k-means:
    *    DuckDB re-derives within-cluster pairs from the sidecar
    *    assignments, recomputes cosines, re-runs components as a
    *    recursive CTE, and re-applies the rule.
    *  - `"far_from_centroid"`: the paper's keep rule — keep the member
    *    with the LOWEST similarity to its cluster centroid (the least
    *    prototypical example), ties on smaller id. Oracle-gated end to
    *    end (d14): the per-member centroid DISTANCE is a sidecar scalar,
    *    so DuckDB re-applies `argmax(cdist)` per component exactly like
    *    the min-id rule.
    *
    * Returns one row per embedding: (id, cluster_id, component, keep).
    * Unpaired rows form singleton components and keep themselves; the
    * keeper window runs over PAIRED rows only (components are tiny), so
    * nothing corpus-sized sorts.
    *
    * The assignment kernel runs EXACTLY ONCE: the assigned (and, for the
    * far rule, cdist-enriched) frame is locally checkpointed, so the
    * candidate self-join, the component iteration, and the keeper join
    * all read the one materialized image instead of re-running the
    * screened argmin per consumer (at the paper's nlist=50k the argmin
    * IS the corpus-scan cost; one MEMORY_AND_DISK image of
    * (id, vec, cluster_id) is the cheaper trade at every nlist). Callers
    * that already hold an assigned corpus — an IVF index's clustered
    * table — should use [[semanticDedupAssigned]] and pay ZERO kernel
    * passes.
    */
  def semanticDedup(emb: DataFrame, centroids: Array[Array[Float]],
                    tau: Double, keepRule: String = "min_id",
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(keepRule == "min_id" || keepRule == "far_from_centroid",
      s"unknown keepRule '$keepRule'")
    val assigned0 =
      Ivf.assign(emb.select(col(idCol), col(vecCol)), centroids, vecCol)
    val enriched =
      if (keepRule == "far_from_centroid")
        withCentroidDist(assigned0, centroids, vecCol)
      else assigned0
    semanticDedupAssigned(enriched.localCheckpoint(), tau, keepRule,
      idCol, vecCol)
  }

  /** [[semanticDedup]] over a PRE-ASSIGNED corpus — (idCol, vecCol,
    * cluster_id) rows (plus `cdist` for the far-from-centroid rule; see
    * [[withCentroidDist]]). The production entry at scale: an IVF index's
    * clustered table ([[Ivf.Index.clustered]]) carries cluster_id as a
    * stored partition column, so the whole dedup runs with no assignment
    * kernel in the plan at all (PlanSpec gates the absence).
    */
  def semanticDedupAssigned(assigned: DataFrame, tau: Double,
                            keepRule: String = "min_id",
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            maxCellSize: Int = defaultMaxCellSize,
                            nBlockPlanes: Int = 8,
                            nBlockTables: Int = defaultBlockTables,
                            blockSeed: Long = 2026L): DataFrame =
    semanticDedupFromCandidates(assigned,
      semanticCandidatesAssigned(assigned, idCol, vecCol,
        maxCellSize, nBlockPlanes, nBlockTables, blockSeed),
      tau, keepRule, idCol)

  /** The DECISION pass of [[semanticDedupAssigned]] over PRE-COMPUTED
    * candidates — (a, b, cos) rows, e.g. a persisted or checkpointed
    * [[semanticCandidatesAssigned]] output (the d15 oracle rides this:
    * the sidecar'd candidate set and the dedup decisions come from ONE
    * materialized frame, identical by construction, not by replay).
    * Threshold, components, and the keeper rule only; the candidate
    * stage — and its skew guard — is the caller's.
    */
  def semanticDedupFromCandidates(assigned: DataFrame,
                                  candidates: DataFrame, tau: Double,
                                  keepRule: String = "min_id",
                                  idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keepRule == "min_id" || keepRule == "far_from_centroid",
      s"unknown keepRule '$keepRule'")
    require(keepRule != "far_from_centroid" || assigned.columns.contains("cdist"),
      "far_from_centroid needs a 'cdist' column — enrich the assigned " +
        "frame with Dedup.withCentroidDist first")
    val pairs = candidates.filter(col("cos") >= tau).select("a", "b")
    val comp = connectedComponents(pairs)
      .withColumnRenamed("node", idCol)
    val narrow =
      if (keepRule == "far_from_centroid")
        assigned.select(col(idCol), col("cluster_id"), col("cdist"))
      else assigned.select(col(idCol), col("cluster_id"))
    val withComp = narrow.join(comp, Seq(idCol), "left")
    if (keepRule == "min_id") {
      withComp
        .withColumn("component", coalesce(col("component"), col(idCol)))
        .select(col(idCol), col("cluster_id"), col("component"),
          (col(idCol) === col("component")).as("keep"))
    } else {
      // paper rule: per component keep the member farthest from its
      // cluster centroid (all members share a cluster: edges exist only
      // within clusters, and components are unions of within-cluster
      // edges, so the centroid is well-defined per member regardless)
      val paired = withComp.filter(col("component").isNotNull)
      val w = Window.partitionBy(col("component"))
        .orderBy(col("cdist").desc, col(idCol).asc)
      val pairedKeep = paired
        .withColumn("keep", row_number().over(w) === 1)
        .select(col(idCol), col("cluster_id"), col("component"), col("keep"))
      val singletons = withComp.filter(col("component").isNull)
        .select(col(idCol), col("cluster_id"),
          col(idCol).as("component"), lit(true).as("keep"))
      pairedKeep.unionByName(singletons)
    }
  }

  /** The candidate+cosine stage of [[embeddingNearDups]], pre-threshold:
    * (a, b, cos) for every bucket-colliding pair. Exposed separately so
    * the candidate set can persist to the d4 sidecar — the Gaussian
    * planes aren't SQL-expressible, but cosine-verify-over-candidates is,
    * which turns d4's oracle from rows-only into a full hash check.
    */
  def embeddingCandidates(emb: DataFrame, idCol: String = "vec_id",
                          vecCol: String = "embedding", nPlanes: Int = 12,
                          nTables: Int = 4, seed: Long = 42L,
                          dim0: Int = -1): DataFrame = {
    // dim from the caller when it owns table metadata (r18) — the head()
    // fallback costs one Spark job per call (see LshAnn.candidates)
    val dim = if (dim0 > 0) dim0
      else emb.select(size(col(vecCol))).head().getInt(0)
    // shared with the LSH-ANN candidate generator — same planes, same RNG
    val banded = LshAnn.signBuckets(emb, idCol, vecCol, dim, nPlanes, nTables, seed)
    val l = banded.select(col("t"), col("key"), col(idCol).as("a"))
    val r = banded.select(col("t"), col("key"), col(idCol).as("b"))
    val cand = l.join(r, Seq("t", "key")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val va = emb.select(col(idCol).as("a"), col(vecCol).as("vec_a"))
    val vb = emb.select(col(idCol).as("b"), col(vecCol).as("vec_b"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .select(col("a"), col("b"),
        VectorFunctions.cosine(col("vec_a"), col("vec_b")).as("cos"))
  }
}

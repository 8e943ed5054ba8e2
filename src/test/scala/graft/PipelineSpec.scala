package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.functions.VectorFunctions
import graft.functions.expressions.SimHashKernel
import graft.io.QuantizedTables
import graft.ops.{Dedup, Multimodal}
import graft.streaming.EventStream

/** Training-data-pipeline operators end-to-end: simhash near-dup behavior,
  * LSH candidate generation, quantized-table round-trips, multimodal stub
  * decode, and the streaming rollup vs its batch equivalent.
  */
class PipelineSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  test("simhash: identical text -> same hash; small edit -> small hamming") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (2L, "completely unrelated content about spark query engines and shuffles"))
      .toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      VectorFunctions.simhash64(split(trim(col("text")), "\\s+")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) <= 16, s"near-dup hamming ${hamming(sh(0L), sh(1L))}")
    assert(hamming(sh(0L), sh(2L)) > hamming(sh(0L), sh(1L)))
  }

  test("fused md5-min kernels match their interpreted Column twins") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, dir).limit(100)
    val mh = docs.select(
      TextFunctions.minhash(col("text"), 5, "0").as("k0"),
      TextFunctions.minhashHof(col("text"), 5, "0").as("h0"),
      TextFunctions.minhash(col("text"), 5, "7").as("k7"),
      TextFunctions.minhashHof(col("text"), 5, "7").as("h7"),
      TextFunctions.fingerprint(col("text"), 3).as("kf"),
      TextFunctions.fingerprintHof(col("text"), 3).as("hf"))
    assert(mh.filter(col("k0") =!= col("h0") || col("k7") =!= col("h7") ||
      col("kf") =!= col("hf")).count() == 0)
    // edge cases: empty, shorter-than-n, multi-space, unicode
    val s = spark
    import s.implicits._
    val edge = Seq("", "ab", "a  b   c", "héllo wörld. ünïcode!").toDF("text")
    val bad = edge.select(
      (TextFunctions.minhash(col("text"), 5, "0") =!=
        TextFunctions.minhashHof(col("text"), 5, "0")).as("m"),
      (TextFunctions.fingerprint(col("text"), 3) =!=
        TextFunctions.fingerprintHof(col("text"), 3)).as("f"))
      .filter(col("m") || col("f")).count()
    assert(bad == 0)
  }

  test("md5Lower64 == DuckDB md5_number_lower on pinned values") {
    import graft.functions.expressions.HashKernels
    // expected values computed with DuckDB 1.0.0 `md5_number_lower` (the
    // unsigned little-endian u64 of md5 digest bytes 8..15), reinterpreted
    // as signed longs — the cross-engine 64-bit hash primitive the d7/d8
    // oracles contract on
    val pinned = Seq(
      "abc" -> 8250560606382298838L,
      "" -> 9098107892288553193L,
      "hello world" -> -4337711292721476717L, // digest >= 2^63: sign matters
      "the" -> 6287873238205204795L,
      "über" -> -7134401051599998044L) // multi-byte UTF-8
    val md = java.security.MessageDigest.getInstance("MD5")
    pinned.foreach { case (s, want) =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(HashKernels.md5Lower64(md, b, 0, b.length) == want, s"md5Lower64('$s')")
    }
    // the mix uses UNSIGNED mod: for a >= 2^63 digest a signed % diverges
    val hw = "hello world".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val x = HashKernels.md5Lower64(md, hw, 0, hw.length)
    assert(java.lang.Long.remainderUnsigned(x, HashKernels.MixP) == 1119715509L)
    assert(x % HashKernels.MixP != 1119715509L, "signed % must diverge here")
  }

  test("minhashSig64 kernel matches an independent string-window reimpl") {
    import graft.functions.TextFunctions
    import graft.functions.expressions.HashKernels
    // independent slow path: String/codePoint windows (vs the kernel's
    // UTF-8 byte-slice windows), same mix constants
    def slow(text: String, n: Int, k: Int): Seq[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val cps = text.codePoints().toArray
      val nWin = math.max(cps.length - n + 1, 1)
      val as = HashKernels.mixA(k)
      val bs = HashKernels.mixB(k)
      val mins = Array.fill(k)(Long.MaxValue)
      for (w <- 0 until nWin) {
        val sh = new String(cps, w, math.min(n, cps.length - w))
        val b = sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val xm = java.lang.Long.remainderUnsigned(
          HashKernels.md5Lower64(md, b, 0, b.length), HashKernels.MixP)
        for (s <- 0 until k)
          mins(s) = math.min(mins(s), (as(s) * xm + bs(s)) % HashKernels.MixP)
      }
      mins.toSeq
    }
    val s = spark
    import s.implicits._
    val texts = Seq("", "ab", "a  b   c", "héllo wörld. ünïcode!",
      "the quick brown fox jumps over the lazy dog") ++
      Tables.documents(spark, dir).limit(20).select("text")
        .collect().map(_.getString(0)).toSeq
    val got = texts.toDF("text")
      .select(col("text"), VectorFunctions.minhashSig64(col("text"), 5, 4).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { t => assert(got(t) == slow(t, 5, 4), s"sig64 mismatch for '$t'") }
  }

  test("simhash_md5: same text same hash, small edit small hamming, differs from FNV") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely unrelated content about spark query engines and shuffles"))
      .toDF("doc_id", "text")
    val toks = split(trim(col("text")), "\\s+")
    val r = docs.select(col("doc_id"),
      VectorFunctions.simhashMd5(toks).as("hm"),
      VectorFunctions.simhash64(toks).as("hf"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(r(0L)._1 == r(1L)._1) // identical text, identical fingerprint
    assert(hamming(r(0L)._1, r(2L)._1) <= 16)
    assert(hamming(r(0L)._1, r(3L)._1) > hamming(r(0L)._1, r(2L)._1))
    assert(r(0L)._1 != r(0L)._2, "md5 and FNV flavors must be distinct hashes")
    // null tokens are skipped, not NPE'd (nullable-element arrays are legal)
    val withNull = docs.select(
      VectorFunctions.simhashMd5(transform(toks,
        t => when(t === "again", lit(null: String)).otherwise(t))).as("h"))
      .collect()
    assert(withNull.length == 4)
  }

  test("minhash LSH: exact duplicates always collide; pair count bounded") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, dir).limit(50)
      .union(Tables.documents(spark, dir).limit(5) // inject exact dups
        .withColumn("doc_id", col("doc_id") + 100000))
    // the sig64 LSH flavor recalls every exact dup (identical text ⇒
    // identical signature in any MinHash family) with one digest/shingle
    val pairs64 = Dedup.minhashLshPairs64(docs).collect()
    val dup64 = pairs64.filter(r => (r.getLong(1) - r.getLong(0)) == 100000).length
    assert(dup64 == 5, s"expected all 5 injected dups via sig64, got $dup64")
    // simhash banding: exact dups collide at hamming 0, no cartesian join
    val sh = Dedup.simhashNearDups(docs, maxHamming = 8)
    val plan = sh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"simhash banding must bucket-join, not cross-join:\n$plan")
    val shPairs = sh.collect()
    val shDups = shPairs.filter(r =>
      r.getLong(1) - r.getLong(0) == 100000 && r.getLong(2) == 0L).length
    assert(shDups == 5, s"expected 5 injected dups at hamming 0, got $shDups")
  }

  test("fused lang-profile kernel matches the interpreted Column twins") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, dir).limit(200)
    val langs = TextFunctions.langMarkers.map(_._1)
    val cmp = docs.select(langs.flatMap(l => Seq(
      TextFunctions.langHits(col("text"), l).as(s"k_$l"),
      TextFunctions.langHitsHof(col("text"), l).as(s"h_$l"))): _*)
    val diverged = cmp.filter(
      langs.map(l => col(s"k_$l") =!= col(s"h_$l")).reduce(_ || _)).count()
    assert(diverged == 0)
    // edge cases: empty, whitespace-only, tabs, unicode, mixed markers
    val s = spark
    import s.implicits._
    val edge = Seq("", "   ", "\tthe der le el\t", "THE Une y QUE",
      "héllo the wörld der").toDF("text")
    val badEdge = edge.select(
      langs.map(l => (TextFunctions.langHits(col("text"), l) =!=
        TextFunctions.langHitsHof(col("text"), l)).as(l)): _*)
      .filter(langs.map(col).reduce(_ || _)).count()
    assert(badEdge == 0)
  }

  test("connected components + keepers: chains merge, smallest id kept") {
    val s = spark
    import s.implicits._
    // two chains (1-2-3-4, 10-11) and an isolated pair (20,21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), s"chain not merged: $comp")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
    val docs = (1L to 5L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.keepers(docs, Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true, 5L -> true))
  }

  test("connected components: deep chain (path of length 50) converges") {
    val s = spark
    import s.implicits._
    // a path graph 0-1-2-...-50: min-label propagation needs ~diameter
    // iterations, and the periodic localCheckpoint must keep the lineage
    // (and per-iteration planning time) bounded across all of them
    val pairs = (0L until 50L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.propagateComponents(pairs, maxIter = 60).labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 51 && comp.values.forall(_ == 0L),
      s"chain split into ${comp.values.toSet.size} components")
  }

  test("connected components: a 60-doc chain at default args is one component in 60 rounds") {
    val s = spark
    import s.implicits._
    // a 60-doc path is 59 label hops from its smallest id: deeper than the
    // propagation path's default maxIter (20), well inside the driver bound
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponentsStats(pairs)
    val comp = cc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 60 && comp.values.forall(_ == 0L),
      s"chain split into ${comp.values.toSet.size} components")
    assert(cc.iterations == 60, s"iterations ${cc.iterations}")
  }

  test("connected components: a chain deeper than maxIter throws, never splits") {
    val s = spark
    import s.implicits._
    // the above-bound path stops after maxIter rounds; a split answer
    // must never come back from it
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](Dedup.propagateComponents(pairs, maxIter = 20))
    assert(e.getMessage.contains("20 iterations"), e.getMessage)
  }

  test("connected components: a 10K-node chain is one component in 10,000 rounds") {
    val s = spark
    import s.implicits._
    val pairs = (0L until 9999L).map(i => (i + 1, i)).toDF("a", "b")
    val cc = Dedup.connectedComponentsStats(pairs)
    val comps = cc.labels.collect().map(_.getLong(1))
    assert(comps.length == 10000 && comps.forall(_ == 0L),
      s"chain split into ${comps.toSet.size} components")
    assert(cc.iterations == 10000, s"iterations ${cc.iterations}")
  }

  test("connected components: a 1K-node star centred on its largest id needs 3 rounds") {
    val s = spark
    import s.implicits._
    // leaves 0..998 reach their smallest id 0 through the centre 999
    val pairs = (0L until 999L).map(i => (999L, i)).toDF("a", "b")
    val cc = Dedup.connectedComponentsStats(pairs)
    val comps = cc.labels.collect().map(_.getLong(1))
    assert(comps.length == 1000 && comps.forall(_ == 0L),
      s"star split into ${comps.toSet.size} components")
    assert(cc.iterations == 3, s"iterations ${cc.iterations}")
  }

  test("embedding near-dups: injected near-identicals collide, no crossJoin") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // inject near-identical copies of 5 vectors (tiny perturbation of one
    // coordinate keeps cosine ~0.9999)
    val dups = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * 1.001f).otherwise(x)).as("embedding"))
    val pairs = Dedup.embeddingNearDups(emb.union(dups), threshold = 0.99)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"LSH path must not cross-join:\n$plan")
    val found = pairs.collect().filter(r => r.getLong(1) - r.getLong(0) == 100000)
    assert(found.length == 5, s"expected 5 injected near-dups, got ${found.length}")
  }

  test("quantized tables round-trip and keep search recall") {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val tmp = java.nio.file.Files.createTempDirectory("quant").toString
    QuantizedTables.writeF16(base, s"$tmp/f16")
    QuantizedTables.writeI8(base, s"$tmp/i8")
    val f16 = QuantizedTables.readF16(spark, s"$tmp/f16")
    assert(f16.count() == base.count())
    // decode(bits) ~ vec within fp16 tolerance for every row
    val joined = base.join(f16, "id")
      .select(array_max(zip_with(col("vec"),
        VectorFunctions.halfDecode(col("bits")), (a, b) => abs(a - b))).as("err"))
    assert(joined.filter(col("err") > 1e-3).count() == 0)
    val i8 = QuantizedTables.readI8(spark, s"$tmp/i8")
    assert(i8.select(max(abs(col("scale")))).collect()(0).getFloat(0) > 0)
  }

  test("multimodal stub decode: mapPartitions path matches column path") {
    val media = Tables.documents(spark, dir).limit(100)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val viaDs = Multimodal.decodeMeta(media).collect()
      .map(m => (m.doc_id, m.n_bytes, m.content_md5)).toSet
    val viaCol = Multimodal.binaryMeta(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(viaDs == viaCol)
    val frames = Multimodal.sampleFrames(media, stride = 5)
    assert(frames.count() >= 100) // at least one frame per doc
  }

  test("streaming hourly rollup matches batch rollup") {
    // complete mode: append would hold back windows newer than the
    // watermark, which never advance past EOF on a finite file source
    val stream = EventStream.hourlyRollup(EventStream.readEvents(spark, dir))
    val got = EventStream.runToMemory(stream, "rollup_test", "complete")
      .select("hour_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batchEv = Tables.events(spark, dir)
    val batch = batchEv
      .withColumn("event_ts", graft.core.EventTime.eventTs(batchEv))
      .groupBy(date_trunc("hour", col("event_ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == batch)
  }

  test("streaming dedup removes re-read duplicates") {
    val deduped = EventStream.dedupStream(EventStream.readEvents(spark, dir))
    val got = EventStream.runToMemory(deduped, "dedup_test", "append").count()
    assert(got == Tables.events(spark, dir).count()) // source has unique ids
  }
}

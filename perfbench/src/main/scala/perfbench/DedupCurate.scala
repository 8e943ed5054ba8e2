package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}

/** `dedup_curate`: back-to-back curation passes over near-duplicate
  * documents (see [[Inputs.documents]]). Each pass scores text quality, drops docs
  * under the quality floor, finds minhash-LSH pairs, labels connected
  * components and keeps one document per component, writing the keepers
  * to a noop sink. Shuffle- and text-kernel-bound; no vector kernel runs.
  */
object DedupCurate {
  val Docs = 10000
  val FamilySize = 5
  // the generator's text has no stopwords, so every doc scores 0.75 and
  // passes: the floor's cost is measured, not its selectivity
  val QualityFloor = 0.5

  /** One pass's counts; every one must repeat exactly for a seed. */
  final case class Counts(docs: Long, kept: Long, paired: Long, keepers: Long,
                          components: Long, iterations: Int, multiKeeper: Long,
                          splitFamilies: Long, removable: Long)

  def run(r: Run): Unit = {
    val spark = r.spark
    val src = Inputs.documents(spark, r.inputsDir, r.seed, Docs, FamilySize)
    val table = s"${r.workDir}/docs"

    def good(docs: DataFrame): DataFrame =
      docs.join(TextAnalysis.textStats(docs).filter(col("quality") >= QualityFloor)
        .select("doc_id"), "doc_id")

    /** One pass: (the components, each kept doc with its pair component
      * or null when it has no near duplicate).
      */
    def pass(docs: DataFrame): Option[(Dedup.CcResult, DataFrame)] = {
      val g = good(docs)
      r.op("dedup.cc")(Dedup.connectedComponentsStats(Dedup.minhashLshPairs64(g))).flatMap { cc =>
        val labelled = g.select("doc_id")
          .join(cc.labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        val done = r.op("dedup.keep") {
          labelled.filter(col("component").isNull || col("component") === col("doc_id"))
            .write.format("noop").mode("overwrite").save()
        }
        if (done.isEmpty) cc.labels.unpersist()
        done.map(_ => (cc, labelled))
      }
    }

    def counts(nDocs: Long, cc: Dedup.CcResult, labelled: DataFrame): Counts = {
      val rows = labelled.collect().map(row =>
        (row.getLong(0), if (row.isNullAt(1)) row.getLong(0) else row.getLong(1), !row.isNullAt(1)))
      val comps = rows.groupBy(_._2)
      val families = rows.groupBy(_._1 / FamilySize).values
      Counts(nDocs, rows.length, rows.count(_._3), rows.count(x => x._1 == x._2),
        comps.size, cc.iterations, comps.count(_._2.count(x => x._1 == x._2) != 1),
        families.map(f => f.map(_._2).distinct.length - 1L).sum,
        families.map(_.length - 1L).sum)
    }

    val setupS = r.timedSetup {
      r.op("dedup.ingest") {
        spark.read.parquet(src).write.mode("overwrite").parquet(table)
      }
      r.check(new java.io.File(s"$table/_SUCCESS").isFile, "set-up did not ingest")
      // two warm-up passes: the first runs cold, the second still compiles
      (0 until 2).foreach { _ =>
        r.op("build.warmup")(pass(spark.read.parquet(table)).foreach(_._1.labels.unpersist()))
      }
    }
    r.endToEnd("setup_s") = (setupS, "s")
    r.endToEnd("heap_retained_mb") = (r.retainedHeapMb(), "MB")
    val docs = spark.read.parquet(table)
    val nDocs = docs.count()
    r.items = nDocs
    r.endToEnd("stored_bytes_per_item") = (r.diskBytes(table).toDouble / nDocs, "B")

    var last: Option[(Dedup.CcResult, DataFrame)] = None
    Measure.window(r) { secs =>
      val lat = r.closedLoop(secs) {
        last.foreach(_._1.labels.unpersist())
        last = pass(docs)
      }
      (nDocs * lat.length / lat.sum, lat)
    }

    // checks on the last timed pass, outside the timing
    val c = last.flatMap { case (cc, labelled) => r.op("dedup.check")(counts(nDocs, cc, labelled)) }
      .orNull
    last.foreach(_._1.labels.unpersist())
    r.check(c != null, "no dedup pass completed")
    if (c != null) {
      System.err.println(s"[perfbench] dedup $c")
      r.check(c.paired > 0, "dedup found no near-duplicate pairs")
      r.check(c.keepers < c.kept, s"dedup kept all ${c.kept} docs")
      r.check(c.multiKeeper == 0, s"${c.multiKeeper} components without exactly one keeper")
      // counts must repeat exactly for a seed: the first run records them
      val rec = new java.io.File(new java.io.File(src).getParent, "counts.txt")
      val line = c.toString
      if (!rec.isFile) java.nio.file.Files.writeString(rec.toPath, line)
      val want = java.nio.file.Files.readString(rec.toPath)
      r.check(want == line, s"dedup counts $line differ from this seed's record $want")
      // planted-duplicate recall: share of removable family members merged
      r.endToEnd("recall") = (1.0 - c.splitFamilies.toDouble / c.removable, "frac")
    }

    if (r.traced && c != null) {
      // the text and pair layers alone, each into a noop sink
      def timed(name: String)(body: => Unit): Double =
        Stats.median((0 until 3).map { _ =>
          val t0 = System.nanoTime(); Trace.span(name)(body); (System.nanoTime() - t0) / 1e9
        })
      r.perLayer("dedup.text_s") = (timed("dedup.text") {
        TextAnalysis.textStats(docs).write.format("noop").mode("overwrite").save()
      }, "s")
      r.perLayer("dedup.pairs_s") = (timed("dedup.pairs") {
        Dedup.minhashLshPairs64(good(docs)).write.format("noop").mode("overwrite").save()
      }, "s")
      val pairs = Dedup.minhashLshPairs64(good(docs)).count()
      r.perLayer("dedup.pairs_per_doc") = (pairs.toDouble / c.kept, "count")
      r.perLayer("dedup.cc_iterations") = (c.iterations.toDouble, "count")
      r.perLayer("dedup.keep_frac") = (c.keepers.toDouble / c.docs, "frac")
    }
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM whose working
  * directory is the run's scratch directory (the engine's index caches are
  * cwd-relative, so nothing from an earlier run can be reused).
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --inputs DIR --result FILE [--trace-file FILE]
  *
  * Writes one JSON object to FILE: correct, attempted, failed, metrics
  * (the end-to-end metrics untraced, the per-layer metrics traced).
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "ann_lifecycle" -> AnnLifecycle.run,
    "dedup_curate" -> DedupCurate.run)

  val EndToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "p50_ms", "recall",
    "heap_retained_mb", "stored_bytes_per_item")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload '$workload'"))
    val traced = need("trace") == "1"
    val cwd = new java.io.File(".").getCanonicalPath

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]").appName("perfbench"))
      .config("spark.local.dir", s"$cwd/spark-local")
      .config("spark.sql.warehouse.dir", s"$cwd/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new Run(spark, workload, need("seed").toLong, need("seconds").toDouble,
      traced, need("inputs"), cwd)
    try {
      if (traced) Trace.start(spark.sparkContext)
      body(r)
      if (traced) {
        Trace.pause()
        val noop = (0 until 20).map { _ =>
          val t0 = System.nanoTime()
          spark.sparkContext.parallelize(Seq(1), 1).count()
          (System.nanoTime() - t0) / 1e9
        }
        Layers.fill(r, Layers.view(), Stats.median(noop))
      }
    } catch {
      case e: Exception =>
        e.printStackTrace()
        r.fail(s"run aborted: $e")
    } finally spark.stop()

    val (wanted, got) =
      if (traced) (Layers.Names, r.perLayer)
      else (EndToEnd.map(n => n -> ""), r.endToEnd)
    val metrics = collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    wanted.foreach { case (n, unit) =>
      got.get(n) match {
        case Some(v) => metrics(n) = v
        case None if traced => metrics(n) = (0.0, unit)
        case None => r.fail(s"end-to-end metric $n was not measured")
      }
    }
    val correct = r.failed.get == 0
    val json = s"""{"correct": $correct, "attempted": ${r.attempted.get}, """ +
      s""""failed": ${r.failed.get}, "metrics": ${Json.metrics(metrics)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(need("result")), json + "\n")
    if (traced) writeTrace(need("trace-file"))
    System.exit(0)
  }

  /** The traced run's spans and Spark records, one JSON object a line. */
  private def writeTrace(file: String): Unit = {
    val v = Layers.view()
    val w = new java.io.PrintWriter(file)
    try {
      val childSpans = v.spans.groupBy(_.parent)
      val childJobs = v.jobs.groupBy(_.span)
      v.spans.sortBy(_.start).foreach { s =>
        val kids = childSpans.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
          childJobs.getOrElse(s.id, Nil).map(j => (j.start, j.end))
        w.println(s"""{"span": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
          s""""request": ${s.request}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
          s""""self_ns": ${Stats.selfTime(s.start, s.end, kids)}}""")
      }
      v.jobs.foreach(j => w.println(s"""{"job": ${j.id}, "parent": ${j.span}, """ +
        s""""start_ns": ${j.start}, "end_ns": ${j.end}, "stages": [${j.stages.mkString(", ")}]}"""))
      v.stages.foreach(s => w.println(s"""{"stage": ${s.id}, "attempt": ${s.attempt}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "tasks": ${s.tasks}}"""))
      v.tasks.foreach(t => w.println(s"""{"task_stage": ${t.stage}, "start_ns": ${t.start}, """ +
        s""""end_ns": ${t.end}, "run_ns": ${t.runNs}, "cpu_ns": ${t.cpuNs}, """ +
        s""""input_bytes": ${t.inBytes}, "shuffle_write_bytes": ${t.shWrite}, """ +
        s""""shuffle_read_bytes": ${t.shRead}, "output_bytes": ${t.outBytes}}"""))
    } finally w.close()
  }
}

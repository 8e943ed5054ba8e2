package perfbench

/** The measured window. Untraced, it runs once for the whole `--seconds`
  * and reports the end-to-end throughput and median latency. Traced, it
  * runs half the time untraced and half traced; the traced half gives the
  * per-layer numbers and the difference between the halves is the
  * tracing overhead.
  */
object Measure {
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** `body(seconds)` returns (operations per second, latencies in s). */
  def window(r: Run)(
      body: Double => (Double, Array[Double])): Unit = {
    def p50ms(lat: Array[Double]) = Stats.percentile(lat.sorted, 0.5) * 1e3
    if (!r.traced) {
      val (ops, lat) = body(r.seconds)
      r.endToEnd("ops_per_s") = (ops, "1/s")
      r.endToEnd("p50_ms") = (p50ms(lat), "ms")
    } else {
      Trace.pause()
      val (ops0, lat0) = body(r.seconds / 2)
      Trace.resume()
      val gc0 = gcSeconds()
      val (ops1, lat1) = Trace.span("measure")(body(r.seconds / 2))
      r.perLayer("jvm.gc_s") = (gcSeconds() - gc0, "s")
      r.perLayer("trace.overhead_ops_pct") = ((ops0 - ops1) / ops0 * 100, "%")
      r.perLayer("trace.overhead_p50_pct") =
        ((p50ms(lat1) - p50ms(lat0)) / p50ms(lat0) * 100, "%")
    }
  }
}

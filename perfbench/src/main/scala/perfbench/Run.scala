package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: the session, the arguments, and
  * the tallies the result line reports.
  */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val traced: Boolean,
                val inputsDir: String, val workDir: String) {

  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val reported = new AtomicLong()

  val endToEnd = collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Items one operation of the workload handles (documents per pass). */
  var items = 0L

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** One operation: counted as attempted, traced as a span, and counted as
    * failed (not rethrown) when it throws. Returns None on failure.
    */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try Some(Trace.span(name)(body))
    catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally {
      val s = (System.nanoTime() - t0) / 1e9
      if (s > 0.5) System.err.println(f"[perfbench] $name: $s%.3f s")
    }
  }

  /** A correctness check; a false one fails the run. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (reported.incrementAndGet() <= 20) System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Repeat `body` until `seconds` of wall time have passed (at least
    * once); returns each repetition's latency in seconds.
    */
  def closedLoop(seconds: Double)(body: => Unit): Array[Double] = {
    val lat = collection.mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (lat.isEmpty || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      body
      lat += (System.nanoTime() - t0) / 1e9
    }
    lat.toArray
  }

  /** Run the set-up once, in this fresh JVM, and return its wall time. One
    * set-up costs 20-40 s on a 4-core box, so a run cannot afford several;
    * `setup_s` steadies as the median over runs.
    */
  def timedSetup(setup: => Unit): Double = {
    val t0 = System.nanoTime()
    Trace.span("setup")(setup)
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $workload set-up: $s%.3f s")
    s
  }

  /** Retained heap after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Names in directory `path` (empty when it does not exist). */
  def listDir(path: String): Set[String] =
    Option(new java.io.File(path).list()).map(_.toSet).getOrElse(Set.empty)

  /** Bytes of every regular file under `path`. */
  def diskBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Local testing runs `local[32]`; the same settings are what we would ship
  * on a real cluster (AQE on, sensible shuffle parallelism, UTC).
  */
object GraftSession {

  /** Apply graft's standard config to a builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // the driver's events.parquet carries TIMESTAMP(NANOS) (not legal in
      // Spark's reader): surface it as long nanoseconds instead of failing
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the default 100-entry codegen cache thrashes across our ~30-query
      // bench sweep (every action recompiles every stage; measured 18x
      // inflation on v6) — size it to hold the whole working set
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // list partition directories on the driver: above the default
      // threshold of 32 paths Spark lists in a job with one task per path.
      // A 256-cell clustered index then paid a 256-task job — 0.53 s of
      // wall for 0.07 s of CPU on a 4-core box — on every fresh read
      // (index warm-up, the first probe after each append).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.ui.enabled", "false")

  /** Stable unique id for session-keyed caches. `sessionUUID` is unique
    * for the JVM's life, so a stopped-then-GC'd session can never collide
    * a new session onto cache entries bound to the dead one — which
    * `System.identityHashCode` keying could (hash reuse after GC). The
    * fallback only triggers for non-classic sessions (e.g. Connect),
    * which this library's local/cluster paths never construct.
    */
  def uuid(spark: SparkSession): String = spark match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      org.apache.spark.sql.graftbridge.Bridge.sessionUUID(c)
    case other => s"idhash-${System.identityHashCode(other)}"
  }

  def local(threads: Int = 32): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$threads]").appName("graft"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

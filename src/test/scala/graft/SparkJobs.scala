package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spec helper: which Spark jobs a block of driver code submits. */
object SparkJobs {

  /** Result-stage task count of every Spark job `body` submits, in job
    * order. The listener bus is asynchronous, so a marker job runs after
    * `body` and its end is awaited: every earlier job is recorded by then.
    */
  def of(spark: SparkSession)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val markerProp = "graft.spec.marker"
    val jobs = new ConcurrentLinkedQueue[Int]()
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile var markerEnded = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(markerProp) != null))
          markerJobs.add(e.jobId)
        else jobs.add(e.stageInfos.maxBy(_.stageId).numTasks)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerEnded = true
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(markerProp, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(markerProp, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(5)
      assert(markerEnded, "Spark listener did not drain within 30 s")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
}

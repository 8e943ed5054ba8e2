package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. Times are nanoseconds on the epoch clock shared with
  * the Spark listener's records, so job and task intervals nest inside
  * the spans that caused them.
  */
final case class Span(id: Long, parent: Long, name: String, request: Long,
                      start: Long, end: Long)

final case class JobRec(id: Int, span: Long, start: Long, end: Long,
                        stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, start: Long, end: Long,
                          tasks: Int)
final case class TaskRec(stage: Int, start: Long, end: Long, runNs: Long,
                         cpuNs: Long, inBytes: Long, inRows: Long,
                         shWrite: Long, shRead: Long, fetchWaitNs: Long,
                         spill: Long, outBytes: Long)

/** In-memory tracer for the traced run. Spans are recorded around every
  * public engine call the benchmark makes; when tracing is off `span` is a
  * plain call. The current span id rides on the Spark local property
  * `perfbench.span`, so the listener can hang each job under the call
  * that submitted it.
  */
object Trace {
  @volatile var on = false
  @volatile private var sc: SparkContext = _

  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** The request the calling thread is serving; 0 outside any request. */
  val request: ThreadLocal[java.lang.Long] = ThreadLocal.withInitial(() => 0L)

  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + clockOffset

  val listener = new Listener

  def start(context: SparkContext): Unit = {
    sc = context
    resume()
  }

  def resume(): Unit = {
    sc.addSparkListener(listener)
    on = true
  }

  /** Stop recording. The listener bus is asynchronous: run one marker job
    * and wait until its end arrives, so every earlier event is recorded
    * before the listener is detached.
    */
  def pause(): Unit = {
    on = false
    listener.markerSeen = false
    sc.setLocalProperty("perfbench.span", "-1")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty("perfbench.span", null)
    val deadline = System.nanoTime() + 30000000000L
    while (!listener.markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
    require(listener.markerSeen, "Spark listener did not drain within 30 s")
    sc.removeSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      if (sc != null) sc.setLocalProperty("perfbench.span", id.toString)
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, name, request.get(), t0, now()))
        stack.set(outer)
        if (sc != null)
          sc.setLocalProperty("perfbench.span",
            if (parent == 0L) null else parent.toString)
      }
    }

  def allSpans: Seq[Span] = spans.toArray(Array.empty[Span]).toSeq

  final class Listener extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    @volatile var markerSeen = false
    private val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private def ms(t: Long) = t * 1000000L

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
      if (span == -1L) e.stageIds.foreach(markerStages.add)
      open.put(e.jobId, JobRec(e.jobId, span, ms(e.time), 0L, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = open.remove(e.jobId)
      if (j != null) {
        if (j.span == -1L) markerSeen = true
        else jobs.add(j.copy(end = ms(e.time)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (!markerStages.contains(i.stageId)) stages.add(StageRec(i.stageId, i.attemptNumber(),
        ms(i.submissionTime.getOrElse(0L)), ms(i.completionTime.getOrElse(0L)),
        i.numTasks))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && !markerStages.contains(e.stageId)) tasks.add(TaskRec(e.stageId,
        ms(e.taskInfo.launchTime), ms(e.taskInfo.finishTime),
        m.executorRunTime * 1000000L, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime * 1000000L,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  }
}

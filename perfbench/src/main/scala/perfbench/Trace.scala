package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer. `parent` is 0 for a root span; spans of one
  * root share its `trace` id.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder around calls into the engine's public functions.
  *
  * While a span is open on a thread, the Spark local property [[Trace.SpanKey]]
  * carries its id, so every Spark job the call starts is attributed to it —
  * also jobs started from pool threads the call creates, because Spark local
  * properties are inherited by child threads. Spans stay in memory and are
  * written out when the run ends.
  */
final class Trace(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[List[(Long, Long)]] { // (id, trace)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val (parent, trace) = stack.headOption.getOrElse((0L, id))
    val prevProp = sc.getLocalProperty(Trace.SpanKey)
    open.set((id, trace) :: stack)
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, trace, name, t0, System.nanoTime()))
      sc.setLocalProperty(Trace.SpanKey, prevProp)
      open.set(stack)
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}

/** Spark job and task metrics, each attributed to the span that was open on
  * the thread that started the job (0 when none was).
  */
final class JobListener extends SparkListener {
  import JobListener.{Job, Task}

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val tasks = new ConcurrentLinkedQueue[Task]

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def taskList: Seq[Task] = tasks.asScala.toSeq
  def pending: Int = jobs.values.asScala.count(_.endMs < 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, span, e.time, -1L, e.stageIds.size))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val jobId: Int = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
    val span = Option(jobs.get(jobId)).map(_.span).getOrElse(0L)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      tasks.add(Task(span, jobId, e.stageId, info.launchTime, info.finishTime,
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Block until every job seen so far has ended (listener delivery is
    * asynchronous), or the timeout passes.
    */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (pending > 0 && System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events of the last stage
  }
}

object JobListener {
  final case class Job(id: Int, span: Long, startMs: Long, @volatile var endMs: Long,
      stages: Int)
  final case class Task(span: Long, job: Int, stage: Int, launchMs: Long,
      finishMs: Long, runMs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long)
}

/** Micro-batch progress of every streaming query, in arrival order. */
final class StreamListener extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

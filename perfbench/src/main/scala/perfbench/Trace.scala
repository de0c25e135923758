package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call from the benchmark into a layer of the program. Times are
  * wall-clock milliseconds, comparable with Spark's task launch and finish
  * times.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Metrics of one finished Spark task, attributed to the span whose thread
  * launched its job.
  */
final case class TaskRec(span: Int, stage: Int, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, outBytes: Long,
    outRecords: Long)

/** In-memory tracer. Spans are recorded only while the listeners are
  * attached (traced runs, after their untraced half); each span sets a
  * thread-local Spark property so that every job launched inside it (also
  * from threads Spark forks for the query) maps to exactly one span.
  */
final class Trace(val enabled: Boolean, sc: => SparkContext) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageOfSpan = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private val jobsOfSpan = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(NoSpan)
      Trace.this.synchronized {
        jobsOfSpan(span) += 1
        e.stageIds.foreach(s => stageSpan(s) = span)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val span = stageSpan.getOrElse(e.stageInfo.stageId, NoSpan)
        stageOfSpan(span) += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) Trace.this.synchronized {
        tasks += TaskRec(stageSpan.getOrElse(e.stageId, NoSpan), e.stageId,
          e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e.progress }
  }

  private var attached = false

  /** Register the listeners (traced runs only). */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Deliver every queued listener event before reading the counters. */
  def drain(): Unit = if (attached)
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)

  /** Time `body` as a span of `layer`. A no-op wrapper when disabled. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!attached) body
    else {
      val parents = stack.get
      val id = synchronized { nextId += 1; nextId }
      val ctx = sc
      val prev = ctx.getLocalProperty(SpanProperty)
      stack.set(id :: parents)
      ctx.setLocalProperty(SpanProperty, id.toString)
      val start = nowMs()
      try body
      finally {
        val end = nowMs()
        ctx.setLocalProperty(SpanProperty, prev)
        stack.set(parents)
        synchronized { spans += Span(id, parents.headOption.getOrElse(NoSpan),
          layer, name, start, end) }
      }
    }

  def currentSpanId: Int = stack.get.headOption.getOrElse(NoSpan)

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def allTasks: Seq[TaskRec] = synchronized(tasks.toList)
  def jobs(span: Int): Int = synchronized(jobsOfSpan(span))
  def stages(span: Int): Int = synchronized(stageOfSpan(span))

  /** Span ids of `root` and everything nested under it. */
  def subtree(root: Int): Set[Int] = {
    val byParent = allSpans.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      byParent.getOrElse(id, Nil).map(s => walk(s.id)).foldLeft(Set(id))(_ ++ _)
    walk(root)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  val NoSpan = 0
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds with nanosecond resolution. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6
}

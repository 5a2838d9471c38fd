package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so that harness spans
  * and the millisecond timestamps Spark puts on listener events share a
  * clock. `op` is the id of the workload operation the span belongs to
  * (0 = outside any timed operation), `parent` the enclosing span.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, op: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans around every call the harness makes into a layer of the program,
  * plus Spark runtime events captured by listeners (jobs, tasks, stages,
  * Catalyst phases, streaming progress). Everything stays in memory and is
  * written out once, when the run ends.
  *
  * Timing of the calls themselves is always on, because the end-to-end
  * metrics come from those spans; listeners are attached only when
  * `enabled`, so an untraced run carries no listener cost.
  */
final class Trace(val enabled: Boolean) {
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + epochOffset

  private val lock = new Object
  private var nextId = 0L
  private val stack = new java.util.ArrayDeque[Span]()
  val spans = ArrayBuffer.empty[Span]
  @volatile private var currentOp = 0L

  /** Time `body` as a span named `name` nested under the innermost open
    * span. A span opened with `op = true` starts a new workload operation.
    */
  def span[A](name: String, op: Boolean = false)(body: => A): (A, Span) = {
    val id = lock.synchronized { nextId += 1; nextId }
    val parent = Option(stack.peek()).map(_.id).getOrElse(0L)
    if (op) currentOp = id
    val opId = currentOp
    val open = Span(id, name, now, 0L, parent, opId)
    stack.push(open)
    val r = try body finally stack.pop()
    val done = open.copy(end = now)
    lock.synchronized(spans += done)
    if (op) currentOp = 0L
    (r, done)
  }

  // ---- Spark runtime events (filled only when enabled) ----

  final case class Job(start: Long, end: Long, callSite: String)
  final case class Task(finish: Long, runS: Double, deserS: Double, gcS: Double,
                        schedDelayS: Double, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, input: Long, output: Long)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Progress(at: Long, durations: Map[String, Long])

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val stageEnds = ArrayBuffer.empty[Long]
  val phases = ArrayBuffer.empty[Phase]
  val progress = ArrayBuffer.empty[Progress]
  val streamStarts = ArrayBuffer.empty[Long]
  @volatile var listenerNanos = 0L

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private def ms(t: Long): Long = t * 1000000L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally listenerNanos += System.nanoTime() - t0
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      // the result stage is named after the job's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobStarts.put(e.jobId, (ms(e.time), site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStarts.remove(e.jobId)).foreach { case (start, site) =>
        lock.synchronized(jobs += Job(start, ms(e.time), site))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      e.stageInfo.completionTime.foreach(t => lock.synchronized(stageEnds += ms(t)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val info = e.taskInfo
      val m = e.taskMetrics
      if (info != null && m != null) {
        val duration = info.finishTime - info.launchTime
        val delay = math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        val t = Task(ms(info.finishTime), m.executorRunTime / 1e3, m.executorDeserializeTime / 1e3,
          m.jvmGCTime / 1e3, delay / 1e3, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
        lock.synchronized(tasks += t)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ps = qe.tracker.phases.map { case (n, p) => Phase(n, ms(p.startTimeMs), ms(p.endTimeMs)) }
      lock.synchronized(phases ++= ps)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = timed {
      val at = ms(java.time.Instant.parse(e.timestamp).toEpochMilli)
      lock.synchronized(streamStarts += at)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val at = ms(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      lock.synchronized(progress += Progress(at, d))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
}

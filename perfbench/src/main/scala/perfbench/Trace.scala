package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer-boundary span. Times are epoch nanoseconds so they line
  * up with listener event times (epoch milliseconds). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, var end: Long = -1L)

/** Spans and engine counters, kept in memory and written out once at
  * the end of a run.
  *
  * Spans are opened by the benchmark around its calls into graft's
  * public module functions. The innermost open span id travels with
  * every Spark job as a local property, so the listener can attribute
  * jobs (and their stages and tasks) to the span whose action ran
  * them. While not recording, [[span]] only runs the body and the
  * listeners are not registered. */
final class Tracer(val enabled: Boolean) {
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + epochOffset

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L
  private var sc: SparkContext = _
  private var currentOp = 0L

  private var recording = false

  def bind(context: SparkContext): Unit = sc = context

  /** Record spans and engine events from now on (no-op when tracing is
    * off). Runs alternate recording and plain passes, so the cost of
    * tracing shows as the difference of their pass times. */
  def record(on: Boolean): Unit = if (enabled && on != recording) {
    recording = on
    val qel = org.apache.spark.sql.SparkSession.active.listenerManager
    if (on) { sc.addSparkListener(EngineListener); qel.register(ScanListener) }
    else {
      waitForEvents()
      sc.removeSparkListener(EngineListener); qel.unregister(ScanListener)
    }
  }

  /** The listener bus is asynchronous: wait until every recorded job
    * has ended and no stage event is pending. */
  def waitForEvents(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (jobs.values.asScala.exists(_.end < 0) || !taskMs.isEmpty)) Thread.sleep(10)
    Thread.sleep(100) // query-execution events follow their jobs' ends
  }

  /** Drop engine records (spans stay): called once set-up is done, so
    * engine counts cover the measured passes only. */
  def clearEngine(): Unit = {
    jobs.clear(); stages.clear(); scanFiles.set(0L)
  }

  /** Start a new operation: spans opened until the next call share its id. */
  def beginOp(): Long = { currentOp += 1; currentOp }

  def span[A](name: String)(body: => A): A = {
    if (!recording) return body
    val s = Span(nextId, stack.headOption.fold(0L)(_.id), currentOp, name, now)
    nextId += 1
    spans += s
    stack.push(s)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.end = now
      stack.pop()
      sc.setLocalProperty(Tracer.SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  // ---- engine records, appended from the listener-bus thread ----
  import Tracer.{Job, Stage}
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val scanFiles = new java.util.concurrent.atomic.AtomicLong()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int,
    ConcurrentLinkedQueue[java.lang.Long]]()

  private object EngineListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProp))).fold(0L)(_.toLong)
      jobs.put(e.jobId, Job(e.jobId, span, e.time * 1000000L, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue())
        .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val ds = Option(taskMs.remove(i.stageId)).map(_.asScala.map(_.longValue).toSeq.sorted)
        .getOrElse(Seq.empty)
      stages.add(Stage(i.stageId, i.numTasks, m.executorRunTime * 1000000L,
        ds.lastOption.getOrElse(0L), if (ds.isEmpty) 0L else ds(ds.size / 2),
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Counts the files each executed plan's parquet scans opened. */
  private object ScanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach(s => s.metrics.get("numFiles").foreach(m => scanFiles.addAndGet(m.value)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def json: String = {
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end}}""")
      .mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"span":${j.span},"start":${j.start},"end":${j.end},"stages":[${j.stages.mkString(",")}]}""")
      .mkString(",")
    sb ++= "],\"stages\":["
    sb ++= stages.asScala.toSeq.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"tasks":${s.tasks},"task_ns":${s.taskNs},"max_task_ms":${s.maxTaskMs},"median_task_ms":${s.medianTaskMs},"shuffle_read":${s.shuffleRead},"shuffle_write":${s.shuffleWrite},"input_bytes":${s.inputBytes},"spill":${s.spill}}""")
      .mkString(",")
    sb ++= s"""],"scan_files":${scanFiles.get}}"""
    sb.result()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  final case class Job(id: Int, span: Long, start: Long, var end: Long,
      stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, taskNs: Long, maxTaskMs: Long,
      medianTaskMs: Long, shuffleRead: Long, shuffleWrite: Long,
      inputBytes: Long, spill: Long)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing from outside the engine: spans around each public call the
  * benchmark makes, plus a SparkListener and a QueryExecutionListener
  * that attribute jobs, task metrics and Catalyst phase times to them.
  *
  * A span's id travels to the jobs it causes through a Spark local
  * property ([[SpanProp]]). Local properties are inherited by threads
  * the caller creates, so jobs an operator submits from its own pools
  * (Targets.run stages, AQE broadcasts) still land on the right span.
  * The job description is not used: Targets.run overwrites it. */
object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  @volatile private var sc: SparkContext = _
  @volatile private var on = false
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = -1
  }

  def init(spark: SparkSession): Unit = sc = spark.sparkContext

  /** Start/stop recording spans (and tagging jobs with them). */
  def begin(): Unit = on = true
  def end(): Unit = on = false

  /** Spans finished since the last call. */
  def drainSpans(): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var s = done.poll()
    while (s != null) { out += s; s = done.poll() }
    out.toSeq
  }

  /** Run `body` as span `name` under the calling thread's current span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body else under(current.get)(name)(body)

  /** Run `body` as span `name` under an explicit parent: used inside
    * Targets stage builders, which run on the operator's own threads. */
  def under[T](parent: Int)(name: String)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val prevSpan = current.get
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set(id)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, name, t0, System.nanoTime()))
      current.set(prevSpan)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** The calling thread's current span id (-1 outside any span). */
  def currentId: Int = current.get
}

/** Per-job record: span, description, time window and task-metric sums. */
final class JobRec(val id: Int, val span: Int, val desc: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var durationMs = 0L
  var deserMs = 0L
  var resultSerMs = 0L
  var gettingResultMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var spillMemBytes = 0L
  var peakMemBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "span" -> span, "desc" -> desc, "start_ms" -> startMs,
    "end_ms" -> endMs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "duration_ms" -> durationMs,
    "deser_ms" -> deserMs, "result_ser_ms" -> resultSerMs,
    "getting_result_ms" -> gettingResultMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_disk_bytes" -> spillDiskBytes, "spill_mem_bytes" -> spillMemBytes,
    "peak_mem_bytes" -> peakMemBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes)
}

/** Collects job/stage/task events and Catalyst phase times between two
  * [[drain]] calls. Spark delivers listener events asynchronously, so
  * callers flush the listener bus before draining. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var stages = 0L
  private var stageRetries = 0L
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).map(_.toInt).getOrElse(-1)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, span, desc, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += 1
    if (e.stageInfo.attemptNumber() > 0) stageRetries += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val info = e.taskInfo
      if (info != null) j.durationMs += info.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.deserMs += m.executorDeserializeTime
        j.resultSerMs += m.resultSerializationTime
        if (info != null && info.gettingResult) j.gettingResultMs += info.finishTime - info.gettingResultTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillDiskBytes += m.diskBytesSpilled
        j.spillMemBytes += m.memoryBytesSpilled
        j.peakMemBytes = math.max(j.peakMemBytes, m.peakExecutionMemory)
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def phase(qe: QueryExecution, ok: Boolean): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    phases += Map("ok" -> ok, "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phase(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phase(qe, ok = false)

  /** Everything recorded since the previous drain. */
  def drain(): Map[String, Any] = synchronized {
    val out = Map(
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages,
      "stage_retries" -> stageRetries,
      "executions" -> phases.toSeq)
    jobs.clear(); stageJob.clear(); phases.clear()
    stages = 0; stageRetries = 0
    out
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

/** JVM-wide garbage-collection time, for per-operation deltas. */
object Gc {
  def totalMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Outside-in tracer. Spans are opened only around the benchmark's own
  * calls into the engine and kept in memory; Spark's own listeners feed
  * job, task, planning and micro-batch records, each tagged with the span
  * that was open when it started (jobs carry the span id as a local
  * property, which streaming and broadcast threads inherit). Everything
  * is dumped once at the end; attribution arithmetic (self time, time
  * with no job running) happens over the dump.
  *
  * Disabled, `span` only runs its body: untraced runs register nothing
  * but the micro-batch progress listener, whose count corpus_curate's
  * output check uses. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall-clock epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private final class Span(
      val id: Int, val parent: Int, val name: String, val start: Double,
      val compile0: Long, val classes0: Long) {
    var end = 0.0
    var compileNs = 0L
    var classes = 0L
    var opcacheLive = 0
    var cachedMb = 0.0
    var codeHeapMb = 0.0
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private final case class Job(id: Int, span: Int, desc: String, start: Long) {
    var end = 0L
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val phases = ArrayBuffer.empty[(Double, Double)]
  val progress: ArrayBuffer[Map[String, Double]] = ArrayBuffer.empty

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, span, desc, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (_, ph) =>
        phases += ((ph.startTimeMs.toDouble, ph.durationMs.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        if (p.numInputRows > 0) progress += (p.durationMs.asScala.map { case (k, v) =>
          k -> v.doubleValue }.toMap + ("numInputRows" -> p.numInputRows.toDouble))
      }
  }

  private var active = false
  spark.streams.addListener(streamListener)
  setActive(enabled)

  /** Attach or detach the job and planning listeners; spans are recorded
    * only while active. */
  private def setActive(on: Boolean): Unit = if (enabled && on != active) {
    active = on
    if (on) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    } else {
      org.apache.spark.PerfbenchAccess.drainListeners(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  /** Time `f` as span `name`, nested under the span open on this thread. */
  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, now(),
        CodeGenerator.compileTime, compileCount())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.end = now()
        s.compileNs = CodeGenerator.compileTime - s.compile0
        s.classes = compileCount() - s.classes0
        s.opcacheLive = graft.core.OpCache.liveCount
        s.cachedMb = cachedMb()
        s.codeHeapMb = codeHeapUsedMb()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Memory and disk held by persisted data (OpCache frames included). */
  private def cachedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Record a span measured elsewhere (the session start). */
  def record(name: String, start: Double, end: Double): Unit =
    if (enabled) {
      val s = new Span(spans.size, -1, name, start, 0L, 0L)
      s.end = end
      spans += s
    }

  /** Wait for every listener event posted so far, then detach. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    spark.streams.removeListener(streamListener)
    setActive(false)
  }

  def dump(): JValue = synchronized {
    JObject(
      "spans" -> JArray(spans.toList.map(s => JObject(
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
        "start" -> JDouble(s.start), "end" -> JDouble(s.end),
        "compile_s" -> JDouble(s.compileNs / 1e9), "classes" -> JInt(s.classes),
        "opcache_live" -> JInt(s.opcacheLive), "cached_mb" -> JDouble(s.cachedMb),
        "code_heap_mb" -> JDouble(s.codeHeapMb)))),
      "jobs" -> JArray(jobs.values.toList.map(j => JObject(
        "span" -> JInt(j.span), "desc" -> JString(j.desc),
        "start" -> JDouble(j.start.toDouble), "end" -> JDouble(j.end.toDouble),
        "tasks" -> JInt(j.tasks), "task_s" -> JDouble(j.taskMs / 1e3),
        "gc_s" -> JDouble(j.gcMs / 1e3), "shuffle_mb" -> JDouble(j.shuffleBytes / 1048576.0),
        "spill_mb" -> JDouble(j.spillBytes / 1048576.0)))),
      "phases" -> JArray(phases.toList.map { case (st, d) =>
        JObject("start" -> JDouble(st), "dur_s" -> JDouble(d / 1e3)) }))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** JIT code-heap occupancy: a session whose code cache filled runs
    * interpreted, and its timings are flagged rather than trusted. */
  def codeHeapUsedMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  def codeHeapMaxMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getMax).filter(_ > 0).sum / 1048576.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

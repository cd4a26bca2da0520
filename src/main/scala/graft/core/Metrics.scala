package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.Listeners

/** The engine's one structural metrics listener: jobs, tasks and summed
  * task time, in total and per operator phase — the
  * `spark.job.description` label a job was submitted under
  * ([[Jobs.described]]; `Iterate` labels its rounds `<name>: round N`).
  * Each stage is mapped to its job's label at job start, so a task is
  * charged to the phase that submitted its stage; AQE's per-stage jobs
  * inherit the label of the action that planned them. Jobs submitted
  * without a label count towards [[Metrics.Snapshot.unlabelled]], so the
  * total is always the phases plus the unlabelled counts.
  *
  * Counts are cumulative; measure a span as the difference of two
  * [[snapshot]]s. Events arrive on Spark's asynchronous listener bus, so
  * `snapshot` first drains it: every task that ended before the call is
  * counted, none is charged to the next span. */
final class Metrics private (sc: SparkContext) extends SparkListener {
  import Metrics._

  private val total = new Counter
  private val unlabelled = new Counter
  private val phases = new ConcurrentHashMap[String, Counter]()
  private val stagePhase = new ConcurrentHashMap[Int, Counter]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .fold(unlabelled)(l => phases.computeIfAbsent(phaseOf(l), _ => new Counter))
    total.jobs.incrementAndGet()
    phase.jobs.incrementAndGet()
    e.stageIds.foreach(stagePhase.put(_, phase))
    jobStages.put(e.jobId, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStages.remove(e.jobId)).foreach(_.foreach(stagePhase.remove))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) {
      total.task(e.taskInfo.duration)
      // a task reported after its job ended (killed, speculative) has no
      // phase left to charge; it counts as unlabelled
      stagePhase.getOrDefault(e.stageId, unlabelled).task(e.taskInfo.duration)
    }

  def snapshot(): Snapshot = {
    Listeners.drain(sc)
    Snapshot(total.counts, unlabelled.counts,
      phases.asScala.map { case (l, c) => l -> c.counts }.toMap)
  }
}

object Metrics {
  /** Structured Streaming labels a micro-batch's jobs
    * `<query name>\nid = <uuid>\nrunId = <uuid>\nbatch = N`; without the
    * run-unique ids the phase reads `<query name> batch = N` in every run. */
  private def phaseOf(label: String): String =
    if (!label.contains("\nrunId = ")) label
    else label.linesIterator
      .filterNot(l => l.startsWith("id = ") || l.startsWith("runId = "))
      .mkString(" ")

  /** Register a new listener on `sc`'s bus. */
  def attach(sc: SparkContext): Metrics = {
    val m = new Metrics(sc)
    sc.addSparkListener(m)
    m
  }

  final case class Counts(jobs: Long, tasks: Long, taskMs: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs)
    def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs)
    def taskSec: Double = taskMs / 1e3
  }
  val Zero: Counts = Counts(0, 0, 0)

  final case class Snapshot(
      total: Counts, unlabelled: Counts, phases: Map[String, Counts]) {
    /** What ran between `before` and this snapshot; phases that ran
      * nothing in between are left out. */
    def -(before: Snapshot): Snapshot = Snapshot(
      total - before.total, unlabelled - before.unlabelled,
      phases.map { case (l, c) => l -> (c - before.phases.getOrElse(l, Zero)) }
        .filter(_._2 != Zero))
  }

  private final class Counter {
    val jobs, tasks, taskMs = new AtomicLong
    def task(ms: Long): Unit = { tasks.incrementAndGet(); taskMs.addAndGet(ms); () }
    def counts: Counts = Counts(jobs.get, tasks.get, taskMs.get)
  }
}

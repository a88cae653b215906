package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds from the monotonic clock, so the benchmark's own
  * spans line up with Spark's epoch-millisecond event times. */
object Clock {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def us: Long = base + System.nanoTime() / 1000L
}

/** One timed operation: a query, a request, a pipeline step or a
  * micro-batch. `parts` are its construct / execute / verify children. */
final case class Op(id: Long, pass: Int, name: String, kind: String,
    startUs: Long, endUs: Long, ok: Boolean, traced: Boolean,
    parts: Seq[(String, Long, Long)]) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Spark's view of a run, gathered through its public listener APIs:
  * jobs, stages and task metrics from a `SparkListener`, Catalyst
  * phases from a `QueryExecutionListener`, micro-batch progress from a
  * `StreamingQueryListener`. Events are only collected here; they are
  * attributed to operations by [[Attribution]] once the bus is drained. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(OpProperty))).flatMap(_.toLongOption)
      jobs.add(Job(e.jobId, e.time, e.stageIds, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs, v.endTimeMs) }
      if (ph.nonEmpty) plans.add(Plan(ph))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(Progress(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every posted event.
    * `listenerBus` is package-private in Scala but public in bytecode. */
  def drain(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
    } catch { case _: Throwable => Thread.sleep(500) }
}

object Recorder {
  /** Local property carrying the id of the operation a job belongs to. */
  val OpProperty = "perfbench.op"

  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int], op: Option[Long])
  final case class Stage(id: Int, submitMs: Long, doneMs: Long)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long, output: Long)
  final case class Plan(phases: Map[String, (Long, Long)]) {
    def startMs: Long = phases.values.map(_._1).min
    def ms(phase: String): Long = phases.get(phase).map(p => p._2 - p._1).getOrElse(0L)
  }
  final case class Progress(durations: Map[String, Long])
}

/** Spark work attributed to one operation. */
final case class OpStats(jobs: Int, stages: Int, tasks: Int, taskRunMs: Long,
    taskCpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, input: Long, output: Long, stageCoveredMs: Double,
    analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Ties the recorder's events to operations. A job belongs to the
  * operation named by its op-id local property; jobs started off the
  * caller's thread (the HTTP dispatcher, the stream executor) carry no
  * property and belong to the operation whose window holds their start —
  * operations never overlap, because every workload has one client. */
final class Attribution(rec: Recorder, ops: Seq[Op]) {
  import Recorder._
  private val sorted = ops.sortBy(_.startUs).toArray
  private val byId = ops.map(o => o.id -> o).toMap

  private def opAt(ms: Long): Option[Op] = {
    val us = ms * 1000L
    sorted.find(o => o.startUs <= us + 1000L && us <= o.endUs + 1000L)
  }

  val jobOp: Map[Int, Long] = rec.jobs.asScala.toSeq.flatMap { j =>
    j.op.filter(byId.contains).orElse(opAt(j.startMs).map(_.id)).map(j.id -> _)
  }.toMap
  private val jobsOf: Map[Long, Seq[Job]] =
    rec.jobs.asScala.toSeq.filter(j => jobOp.contains(j.id)).groupBy(j => jobOp(j.id))
  private val stageById: Map[Int, Stage] =
    rec.stages.asScala.toSeq.map(s => s.id -> s).toMap
  // a shuffle stage reused by a later job is listed in that job too but
  // runs once: it belongs to the first job that lists it
  private val stageOwner: Map[Int, Int] = rec.jobs.asScala.toSeq
    .flatMap(j => j.stageIds.map(_ -> j.id)).groupBy(_._1)
    .map { case (s, js) => s -> js.map(_._2).min }
  private val tasksOf: Map[Int, Seq[Task]] = rec.tasks.asScala.toSeq.groupBy(_.stage)
  private val plansOf: Map[Long, Seq[Plan]] = rec.plans.asScala.toSeq
    .flatMap(p => opAt(p.startMs).map(_.id -> p)).groupBy(_._1)
    .map { case (k, v) => k -> v.map(_._2) }

  val jobEndMs: Map[Int, Long] = rec.jobEnds.asScala.toMap
  def progress: Seq[Progress] = rec.progress.asScala.toSeq

  /** Stages that ran for a job (not those it reused). */
  def stagesOfJob(j: Job): Seq[Stage] =
    j.stageIds.filter(s => stageOwner.get(s).contains(j.id)).flatMap(stageById.get)

  def stagesOf(op: Long): Seq[Stage] = jobsOf.getOrElse(op, Nil).flatMap(stagesOfJob)

  def jobs(op: Long): Seq[Job] = jobsOf.getOrElse(op, Nil)

  /** Union length of the stage intervals inside the operation window. */
  private def covered(o: Op, ss: Seq[Stage]): Double = {
    val lo = o.startUs / 1000.0
    val hi = o.endUs / 1000.0
    val iv = ss.filter(s => s.submitMs > 0 && s.doneMs >= s.submitMs)
      .map(s => (math.max(lo, s.submitMs.toDouble), math.min(hi, s.doneMs.toDouble)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var end = Double.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def stats(o: Op): OpStats = {
    val ss = stagesOf(o.id)
    val ts = ss.flatMap(s => tasksOf.getOrElse(s.id, Nil))
    val ps = plansOf.getOrElse(o.id, Nil)
    OpStats(jobs(o.id).size, ss.size, ts.size, ts.map(_.runMs).sum,
      ts.map(_.cpuNs).sum, ts.map(_.gcMs).sum, ts.map(_.shuffleWrite).sum,
      ts.map(_.shuffleRead).sum, ts.map(_.spill).sum, ts.map(_.input).sum,
      ts.map(_.output).sum, covered(o, ss), ps.map(_.ms("analysis")).sum,
      ps.map(_.ms("optimization")).sum, ps.map(_.ms("planning")).sum)
  }
}

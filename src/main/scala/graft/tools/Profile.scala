package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a declared query's time goes. Each query runs [[Runs]] times
  * through the noop sink — every row of the full projection is
  * computed, nothing crosses to the driver, and Catalyst cannot prune
  * the projection away the way it does under `count()`. Run 1 is cold
  * (builder first-touch); later runs are the steady state. Every run
  * prints its construct time (the `fn(spark, dir)` call) and wall time;
  * the last run adds its per-stage table, the Catalyst phases and
  * join/exchange census of the write that ran, and the residual: wall
  * time outside every stage and outside those phases (construct-time
  * analysis, driver work, scheduling gaps). Last come the round records
  * ([[graft.algo.Fixpoint]]) of every fixpoint loop the runs ran — a
  * memoized fixpoint runs only in run 1 — one `fixpoint` line per round.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.Profile <query>...
  * build.sbt sizes the driver heap from the same variable. */
object Profile extends AdaptiveSparkPlanHelper {
  val Runs = 3

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the sf dir to profile"))
    val spark = graft.Session()
    try args.foreach(q => report(spark, dir, q).foreach(println))
    finally spark.stop()
  }

  private final case class Stage(id: Int, start: Long, end: Long,
      taskS: Double, tasks: Int, shufReadB: Long, shufWriteB: Long,
      inputB: Long, spillB: Long, name: String) {
    def wallS: Double = (end - start) / 1e3
  }

  /** The report for one query on `spark`, as printed lines. */
  def report(spark: SparkSession, dir: String, query: String): Seq[String] = {
    val fn = graft.SparkEntry.queries(query)
    val stages = new ConcurrentLinkedQueue[Stage]
    val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        for (a <- s.submissionTime; b <- s.completionTime if m != null)
          stages.add(Stage(s.stageId, a, b, m.executorRunTime / 1e3,
            s.numTasks, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
            m.diskBytesSpilled, s.name.takeWhile(_ != '\n').take(60)))
      }
    }
    // the write's own QueryExecution: df.queryExecution is the plan as
    // built, not the command Spark planned and ran for the write
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = executions.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }

    val out = Seq.newBuilder[String]
    out += s"== $query ($dir)"
    def run(i: Int): Double = {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val constructS = (System.nanoTime() - t0) / 1e9
      df.write.mode("overwrite").format("noop").save()
      val wallS = (System.nanoTime() - t0) / 1e9
      out += f"run $i  construct $constructS%.2f s  wall $wallS%.2f s"
      wallS
    }
    val loopsBefore = graft.algo.Fixpoint.lastRuns
    (1 until Runs).foreach(run)
    val sc = spark.sparkContext
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(qeListener)
    val lastWallS =
      try {
        val wallS = run(Runs)
        // deliver every queued event before detaching — no timing guess.
        // listenerBus is private[spark] in Scala, public in bytecode.
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        wallS
      } finally {
        sc.removeSparkListener(stageListener)
        spark.listenerManager.unregister(qeListener)
      }

    val rs = stages.asScala.toSeq.sortBy(-_.wallS)
    def mb(b: Long) = f"${b / 1048576.0}%.2f"
    out += "stage  wall_s  task_s  tasks  shuf_read_mb  shuf_write_mb  " +
      "input_mb  spill_mb  name"
    rs.foreach { s =>
      out += f"${s.id}%5d  ${s.wallS}%6.2f  ${s.taskS}%6.2f  ${s.tasks}%5d  " +
        f"${mb(s.shufReadB)}%12s  ${mb(s.shufWriteB)}%13s  " +
        f"${mb(s.inputB)}%8s  ${mb(s.spillB)}%8s  ${s.name}"
    }
    val qe = executions.asScala.last
    val phases = Seq(PARSING, ANALYSIS, OPTIMIZATION, PLANNING)
      .flatMap(n => qe.tracker.phases.get(n).map(n -> _.durationMs))
    phases.foreach { case (name, ms) => out += s"phase $name $ms ms" }
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p.nodeName }
      .groupBy(identity).view.mapValues(_.size).toMap.withDefaultValue(0)
    out += s"census broadcastHash=${nodes("BroadcastHashJoin")} " +
      s"sortMerge=${nodes("SortMergeJoin")} " +
      s"shuffledHash=${nodes("ShuffledHashJoin")} " +
      s"nestedLoop=${nodes("BroadcastNestedLoopJoin")} " +
      s"cartesian=${nodes("CartesianProduct")} " +
      s"exchanges=${nodes("Exchange") + nodes("BroadcastExchange")}"
    // stages overlap, so they count once per instant they cover
    val stageWallS = rs.sortBy(_.start).foldLeft((0L, Long.MinValue)) {
      case ((busy, reach), s) =>
        (busy + math.max(0L, s.end - math.max(s.start, reach)),
          math.max(reach, s.end))
    }._1 / 1e3
    val phaseS = phases.map(_._2).sum / 1e3
    out += f"residual ${lastWallS - stageWallS - phaseS}%.2f s  " +
      f"(wall $lastWallS%.2f - stages $stageWallS%.2f - phases $phaseS%.2f)"
    // each finished run of a loop publishes a new record list
    for ((loop, rounds) <- graft.algo.Fixpoint.lastRuns.toSeq.sortBy(_._1)
         if !loopsBefore.get(loop).exists(_ eq rounds))
      rounds.foreach(out += _.line)
    out.result()
  }
}

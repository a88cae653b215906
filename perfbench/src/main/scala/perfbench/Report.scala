package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The unit of every metric the benchmark reports. */
object Units {
  val all: Map[String, String] = Map(
    "setup_s" -> "s", "cold_pass_s" -> "s", "warm_pass_s" -> "s",
    "op_p50_ms" -> "ms", "cached_mb_peak" -> "MB",
    "operators.construct_s" -> "s", "operators.construct_jobs" -> "count",
    "operators.corpus_write_s" -> "s",
    "algo.fixpoint_cold_s" -> "s", "algo.fixpoint_jobs" -> "count",
    "model.cache.entries_added" -> "count", "model.cache.hit_frac" -> "ratio",
    "model.cache.resident_mb" -> "MB",
    "spark.catalyst.analysis_ms" -> "ms", "spark.catalyst.optimization_ms" -> "ms",
    "spark.catalyst.planning_ms" -> "ms", "spark.catalyst.count_warm_s" -> "s",
    "spark.exec.jobs" -> "count", "spark.exec.stages" -> "count",
    "spark.exec.tasks" -> "count", "spark.exec.task_busy_s" -> "s",
    "spark.exec.task_cpu_s" -> "s", "spark.exec.slot_busy_frac" -> "ratio",
    "spark.exec.sched_gap_s" -> "s", "spark.exec.shuffle_write_mb" -> "MB",
    "spark.exec.shuffle_read_mb" -> "MB", "spark.exec.spill_mb" -> "MB",
    "spark.exec.input_mb" -> "MB", "spark.exec.output_mb" -> "MB",
    "spark.exec.gc_s" -> "s",
    "rec.recommend_ms" -> "ms", "rec.breakdown_ms" -> "ms", "rec.recs_ms" -> "ms",
    "rec.jobs_per_request" -> "count", "rec.ppr_hit_frac" -> "ratio",
    "rec.ppr_evictions" -> "count",
    "serve.http_self_ms" -> "ms", "serve.route.recs_ms" -> "ms",
    "serve.route.recommendations_ms" -> "ms", "serve.route.strategies_ms" -> "ms",
    "sources.etl_s" -> "s", "sources.files_written" -> "count",
    "sources.bytes_written_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
    "streaming.batch_last_s" -> "s", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.compact_s" -> "s",
    "streaming.compact_mb_rewritten" -> "MB", "streaming.state_files" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  /** Per-layer metrics a workload does not exercise read 0. */
  def layerDefaults: Map[String, Double] =
    all.keys.filter(_.contains('.')).map(_ -> 0.0).toMap
}

/** Per-layer figures every workload has: Catalyst phases and executor
  * work, per traced pass. */
object Layers {
  def spark(traced: Seq[Op], at: Attribution, cores: Int, passes: Int): Map[String, Double] = {
    val st = traced.map(at.stats)
    def per(x: Double): Double = x / passes
    val wallMs = traced.map(_.ms).sum
    val busyMs = st.map(_.taskRunMs).sum.toDouble
    Map(
      "spark.catalyst.analysis_ms" -> per(st.map(_.analysisMs).sum),
      "spark.catalyst.optimization_ms" -> per(st.map(_.optimizationMs).sum),
      "spark.catalyst.planning_ms" -> per(st.map(_.planningMs).sum),
      "spark.exec.jobs" -> per(st.map(_.jobs).sum),
      "spark.exec.stages" -> per(st.map(_.stages).sum),
      "spark.exec.tasks" -> per(st.map(_.tasks).sum),
      "spark.exec.task_busy_s" -> per(busyMs / 1000),
      "spark.exec.task_cpu_s" -> per(st.map(_.taskCpuNs).sum / 1e9),
      "spark.exec.slot_busy_frac" -> busyMs / (wallMs * cores),
      "spark.exec.sched_gap_s" -> per(traced.zip(st).map { case (o, s) =>
        math.max(0.0, o.ms - s.stageCoveredMs) }.sum / 1000),
      "spark.exec.shuffle_write_mb" -> per(Main.mb(st.map(_.shuffleWrite).sum)),
      "spark.exec.shuffle_read_mb" -> per(Main.mb(st.map(_.shuffleRead).sum)),
      "spark.exec.spill_mb" -> per(Main.mb(st.map(_.spill).sum)),
      "spark.exec.input_mb" -> per(Main.mb(st.map(_.input).sum)),
      "spark.exec.output_mb" -> per(Main.mb(st.map(_.output).sum)),
      "spark.exec.gc_s" -> per(st.map(_.gcMs).sum / 1000.0))
  }

  /** Wall of an operation's named part (construct, execute, ...), ms. */
  def partMs(o: Op, name: String): Double =
    o.parts.filter(_._1 == name).map(p => (p._3 - p._2) / 1000.0).sum

  /** Spark jobs started inside an operation's named part. */
  def jobsIn(o: Op, name: String, at: Attribution): Int =
    o.parts.filter(_._1 == name).map { case (_, s, e) =>
      at.jobs(o.id).count(j => j.startMs * 1000L >= s - 1000L && j.startMs * 1000L <= e)
    }.sum
}

/** The traced run's span file: one JSON object per line with a name,
  * start and end (epoch µs), parent and operation id. The tree is
  * run → operation → construct/execute/verify → Spark job → stage. */
object Spans {
  def write(path: Path, ops: Seq[Op], at: Attribution): Unit = {
    val sb = new StringBuilder
    def line(id: String, parent: String, name: String, op: Long, s: Long, e: Long): Unit =
      sb.append(Json.obj("id" -> id, "parent" -> parent, "name" -> name,
        "op" -> op, "start_us" -> s, "end_us" -> e)).append('\n')
    if (ops.nonEmpty)
      line("run", "", "run", 0L, ops.map(_.startUs).min, ops.map(_.endUs).max)
    ops.foreach { o =>
      val oid = s"op${o.id}"
      line(oid, "run", s"${o.kind}:${o.name}", o.id, o.startUs, o.endUs)
      o.parts.zipWithIndex.foreach { case ((n, s, e), i) => line(s"$oid.$i", oid, n, o.id, s, e) }
      at.jobs(o.id).foreach { j =>
        val startUs = j.startMs * 1000L
        val parent = o.parts.zipWithIndex
          .collectFirst { case ((_, s, e), i) if startUs >= s - 1000L && startUs <= e => s"$oid.$i" }
          .getOrElse(oid)
        val jid = s"job${j.id}"
        line(jid, parent, s"job ${j.id}", o.id, startUs,
          at.jobEndMs.getOrElse(j.id, j.startMs) * 1000L)
        at.stagesOfJob(j).foreach(s => line(s"stage${s.id}", jid, s"stage ${s.id}", o.id,
            s.submitMs * 1000L, s.doneMs * 1000L))
      }
    }
    Files.writeString(path, sb.toString, StandardCharsets.UTF_8)
  }
}

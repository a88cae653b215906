package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options of one benchmark run (see perfbench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String,
    expected: String, record: Boolean, fingerprint: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("data"), need("work"), need("out"),
      need("expected"), m.get("record").contains("1"), need("fingerprint"))
  }
}

/** Everything a workload needs while it runs: the session, the op
  * runner with its timeout and failure accounting, and the recorder of
  * the traced run. */
final class Ctx(val args: Args) {
  var spark: SparkSession = _
  val rng = new java.util.Random(args.seed)
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var recorder: Option[Recorder] = None
  var cachedPeakBytes = 0L
  /** Row count of each input table, from the data fingerprint. */
  var tableRows: Map[String, Long] = Map.empty
  /** Expected output hashes recorded at the commit that defined them. */
  val expected: Map[String, String] = Main.readExpected(args.expected)
  val observed = mutable.LinkedHashMap.empty[String, String]
  val opTimeoutS = 60L

  private var nextId = 0L
  private var pool = Executors.newSingleThreadExecutor(Main.daemon)
  private var parts = Vector.empty[(String, Long, Long)]

  def sc = spark.sparkContext
  def dataDir: String = args.data
  def workDir(sub: String): String = {
    val f = new File(args.work, sub); f.mkdirs(); f.getAbsolutePath
  }

  /** Time one operation on the op thread, under the op timeout. A
    * timeout, an exception or a `false` result is a failed operation;
    * the run goes on. */
  def op(pass: Int, name: String, kind: String)(body: => Boolean): Op = {
    nextId += 1
    val id = nextId
    parts = Vector.empty
    val traced = recorder.isDefined
    val t0 = Clock.us
    val fut = pool.submit(new java.util.concurrent.Callable[Boolean] {
      def call(): Boolean = {
        sc.setLocalProperty(Recorder.OpProperty, id.toString)
        try body finally sc.setLocalProperty(Recorder.OpProperty, null)
      }
    })
    val ok = try fut.get(opTimeoutS, TimeUnit.SECONDS) catch {
      case _: TimeoutException =>
        sc.cancelAllJobs(); fut.cancel(true)
        pool = Executors.newSingleThreadExecutor(Main.daemon)
        failures += s"$name: timed out after ${opTimeoutS}s"; false
      case e: ExecutionException =>
        failures += s"$name: ${Main.describe(e.getCause)}"; false
    }
    val o = Op(id, pass, name, kind, t0, Clock.us, ok, traced, parts)
    ops += o
    pollCache()
    o
  }

  /** A child span of the running operation (construct / execute / ...). */
  def part[T](name: String)(body: => T): T = {
    val t0 = Clock.us
    try body finally parts = parts :+ ((name, t0, Clock.us))
  }

  def fail(msg: String): Unit = { failures += msg; checksFailed += 1 }

  /** Correctness checks made by the gate, and how many of them failed. */
  var checks = 0
  var checksFailed = 0

  /** Storage memory held by cached blocks, sampled after each operation. */
  def cachedBytes: Long = sc.getRDDStorageInfo.map(_.memSize).sum
  def pollCache(): Unit = cachedPeakBytes = math.max(cachedPeakBytes, cachedBytes)

  /** Compare an output hash with the recorded one; in record mode, keep it. */
  def check(key: String, hash: String): Unit = {
    checks += 1
    observed(key) = hash
    if (!args.record) expected.get(key) match {
      case Some(h) if h == hash =>
      case Some(h) => fail(s"$key: hash $hash, expected $h")
      case None => fail(s"$key: no expected hash recorded")
    }
  }

  def stopPool(): Unit = pool.shutdownNow()
}

/** A benchmark workload: an untimed prepare step, a setup that is timed
  * as `setup_s`, measured passes, and an untimed correctness check. */
abstract class Workload(val ctx: Ctx) {
  /** Untimed, once per run, after setup: seeded inputs. */
  def prepare(): Unit = ()
  /** Timed as part of `setup_s`, once per setup repetition. */
  def setup(): Unit
  /** One measured pass; pass 0 is the cold one. */
  def pass(p: Int): Unit
  /** Untimed correctness gate after the measured window. */
  def verify(): Unit
  /** Measured operations after the passes and the correctness gate,
    * recorded under a negative pass number, outside the pass figures. */
  def tail(): Unit = ()
  /** The end-to-end figures under this workload's own names. */
  def detail(e2e: Map[String, Double], measured: Seq[Op]): Map[String, Double] = Map.empty
  /** Per-layer figures of the traced run. */
  def layers(measured: Seq[Op], at: Attribution): Map[String, Double] = Map.empty
  /** Extra traced-only work after the measured window (not timed in
    * end-to-end figures). */
  def tracedExtras(): Map[String, Double] = Map.empty
  def teardown(): Unit = ()
  /** Name of the layer that dominated each operation, traced runs only. */
  def dominant(measured: Seq[Op], at: Attribution): Map[String, String] = Map.empty
}

object Main {
  /** Task slots of the local master, and shuffle partitions: two, or
    * fewer on a smaller box (see perfbench/README.md). */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  /** Passes an untraced run makes at least: the cold one and enough
    * warm ones for a median. A traced run makes at least four, so that
    * it has traced and untraced warm passes to compare. */
  val MinPasses = 3

  /** Setups per run; `setup_s` is their median. The first pays JVM and
    * session start, so one sample alone would mostly measure that. */
  val Setups = 5

  val daemon: java.util.concurrent.ThreadFactory = r => {
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }

  def describe(e: Throwable): String = e match {
    case null => "unknown error"
    case _ => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("(no message)").take(300)}"
  }

  def readExpected(path: String): Map[String, String] = {
    val f = Paths.get(path)
    if (!Files.exists(f)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> m.group(2)).toMap
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Release every builder the engine memoizes for a session. */
  def releaseBuilders(spark: SparkSession): Unit = {
    graft.model.BuilderCache.release(spark)
    graft.algo.PageRank.releaseAdjacency(spark)
  }

  /** Order-independent content hash: row count plus the sum of one
    * 64-bit hash per row, over every output column rendered as JSON. */
  def hashOf(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().head
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val ctx = new Ctx(a)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    val wl: Workload = a.workload match {
      case "suite" => new Suite(ctx)
      case "serve" => new Serve(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum

    // untimed: start the session and fingerprint the data
    ctx.spark = session(a)
    val fingerprint = Fingerprint.cached(ctx.spark, a.data, Paths.get(a.fingerprint))
    ctx.tableRows = Fingerprint.tableRows(fingerprint)
    phase("start")

    // setup, repeated: a new session on the running context each time,
    // builders released, then the workload's own warm-up; the last one
    // stays for the measured run
    val base = ctx.spark
    val setups = (1 to Setups).map { i =>
      if (i > 1) { wl.teardown(); releaseBuilders(ctx.spark) }
      val t0 = System.nanoTime()
      ctx.spark = base.newSession()
      releaseBuilders(ctx.spark)
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val setupOps = ctx.ops.size
    phase("setup")

    // untimed: the seeded inputs, made after the setups, so that the JVM's
    // first Spark job and its warm-up always fall in the first setup, and
    // on the base session, so that nothing they touch is in the measured one
    val measuredSession = ctx.spark
    ctx.spark = base
    wl.prepare()
    ctx.spark = measuredSession
    phase("prepare")
    ctx.cachedPeakBytes = ctx.cachedBytes

    // the measured window: passes until the time is up, at least minPasses.
    // The traced run alternates untraced and traced warm passes so that
    // the tracing cost can be read off.
    val recorder = new Recorder(ctx.spark)
    val tracedPasses = mutable.Set.empty[Int]
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    var heapPeak = heap.getHeapMemoryUsage.getUsed
    val gc0 = gcMs
    val passWall = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var p = 0
    val minPasses = if (a.trace) math.max(4, MinPasses) else MinPasses
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && (p == 0 || p % 2 == 0)
      if (traced) { recorder.attach(); ctx.recorder = Some(recorder); tracedPasses += p }
      val s = System.nanoTime()
      wl.pass(p)
      passWall += (System.nanoTime() - s) / 1e9
      if (traced) { recorder.detach(); ctx.recorder = None }
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
      p += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    phase("measure")

    // end-to-end figures: pass 0 is cold, the rest warm; the warm figures
    // come from untraced passes only
    val warmPasses = (1 until p).filterNot(tracedPasses)
    val warmOps = ctx.ops.drop(setupOps).filter(o => warmPasses.contains(o.pass)).toSeq
    val warmWall = warmPasses.map(passWall(_)).sum
    val e2e = Map(
      "setup_s" -> median(setups),
      "cold_pass_s" -> passWall(0),
      "warm_pass_s" -> median(warmPasses.map(passWall(_))),
      "op_p50_ms" -> median(warmOps.map(_.ms)),
      "cached_mb_peak" -> mb(ctx.cachedPeakBytes.toDouble))
    // figures of the detail line only: with a fixed number of operations
    // per pass, ops_per_s restates warm_pass_s, and a run has too few
    // operations beyond its 90th percentile to bound op_p90_ms
    val aux = Map(
      "op_p90_ms" -> quantile(warmOps.map(_.ms), 0.9),
      "ops_per_s" -> warmOps.size / warmWall)

    // traced-only work, the untimed correctness gate, then the tail
    val extras = if (a.trace) wl.tracedExtras() else Map.empty[String, Double]
    phase("traced_extras")
    wl.verify()
    phase("verify")
    if (a.trace) { recorder.attach(); ctx.recorder = Some(recorder) }
    wl.tail()
    if (a.trace) { recorder.detach(); ctx.recorder = None }
    phase("tail")
    val measured = ctx.ops.drop(setupOps).toSeq

    val layerMetrics: Map[String, Double] = if (!a.trace) Map.empty else {
      val at = new Attribution(recorder, measured)
      val traced = measured.filter(_.traced)
      val tracedWarm = tracedPasses.filter(_ > 0).toSeq.map(passWall(_))
      val untracedWarm = warmPasses.map(passWall(_))
      Spans.write(Paths.get(a.out + ".spans.jsonl"), traced, at)
      Units.layerDefaults ++
        Layers.spark(traced.filter(_.pass >= 0), at, Cores, tracedPasses.size) ++
        wl.layers(traced, at) ++ extras ++ Map(
          "jvm.gc_s" -> gcS,
          "jvm.heap_peak_mb" -> mb(heapPeak.toDouble),
          "model.cache.resident_mb" -> mb(ctx.cachedBytes.toDouble),
          "trace.overhead_frac" -> (median(tracedWarm) / median(untracedWarm) - 1.0))
    }
    val dominant: Map[String, String] =
      if (!a.trace) Map.empty
      else wl.dominant(measured.filter(o => o.traced && o.pass >= 0),
        new Attribution(recorder, measured))
    wl.teardown()

    // a failed check counts as a failed operation, as a failed call does
    val attempted = measured.size + ctx.checks
    val failed = measured.count(!_.ok) + ctx.checksFailed
    val detail = wl.detail(e2e ++ aux, measured) ++ aux ++ Map(
      "ops_failed_frac" -> failed.toDouble / attempted)
    val units = Units.all
    val metrics = (e2e ++ layerMetrics).toSeq.sortBy(_._1)
    val json = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> ctx.failures.toSeq,
      "metrics" -> Json.raw(metrics.map { case (k, v) =>
        Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> units.getOrElse(k, "?"))
      }.mkString("{", ",", "}")),
      "detail" -> Json.raw(detail.toSeq.sortBy(_._1).map { case (k, v) =>
        Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")),
      "dominant_layer" -> Json.raw(dominant.toSeq.sortBy(_._1).map { case (k, v) =>
        Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")),
      "op_ms" -> Json.raw(measured.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
        Json.str(n) + ":" + (
          if (os.forall(_.pass < 0)) Json.obj("tail" -> median(os.map(_.ms)))
          else Json.obj("cold" -> median(os.filter(_.pass == 0).map(_.ms)),
            "warm" -> median(os.filter(_.pass > 0).map(_.ms))))
      }.mkString("{", ",", "}")),
      "phase_s" -> Json.raw(Json.obj(phases.toSeq: _*)),
      "passes" -> p, "measured_s" -> wallS,
      "setup_samples_s" -> setups,
      "fingerprint" -> Json.raw(fingerprint),
      "env" -> Json.raw(Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> Cores,
        "heap_max_mb" -> mb(Runtime.getRuntime.maxMemory.toDouble),
        "spark" -> ctx.spark.version,
        "jdk" -> System.getProperty("java.version"))))
    Files.writeString(Paths.get(a.out), json + "\n", StandardCharsets.UTF_8)
    if (a.record) Files.writeString(Paths.get(a.out + ".observed.json"),
      ctx.observed.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{\n", ",\n", "\n}\n"))
    ctx.stopPool()
    ctx.spark.stop()
  }
}

/** Facts about the data that must match before two runs are compared. */
object Fingerprint {
  /** The data is read-only, so its fingerprint is taken once per build. */
  def cached(spark: SparkSession, dir: String, cache: Path): String =
    if (Files.exists(cache)) Files.readString(cache).trim
    else { val f = of(spark, dir); Files.writeString(cache, f + "\n"); f }

  /** Distinct document tokens and the row count of every table. */
  def of(spark: SparkSession, dir: String): String = {
    val docs = graft.model.Tables.documents(spark, dir)
    val tokens = docs.select(explode(split(col("text"), " "))).distinct().count()
    val tables = new File(dir).list().filter(_.endsWith(".parquet")).sorted
      .map(t => t.stripSuffix(".parquet") -> spark.read.parquet(s"$dir/$t").count())
    Json.obj(("doc_tokens" -> tokens) +: tables.toSeq: _*)
  }

  def tableRows(fingerprint: String): Map[String, Long] =
    "\"([a-z_]+)\":([0-9]+)".r.findAllMatchIn(fingerprint)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
}

/** Minimal JSON writer: numbers, strings, booleans, arrays, objects. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

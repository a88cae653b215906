package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Tables
import graft.operators.Corpus
import graft.sources.Etl
import graft.streaming.CorpusStream

/** The three write paths, run once per `suite` run from released
  * builders into a fresh output directory. `Etl.run` turns the
  * relational tables into the node/edge parquet graph;
  * `corpus_prepare_full` is written to parquet;
  * `CorpusStream.ingestStateful` takes the seeded document slices one
  * per trigger, with `compactBands` halfway. Writes use Spark's default
  * parquet committer. Operations are recorded under pass [[Pass]]. */
final class WritePaths(ctx: Ctx) {
  import WritePaths._

  /** Slice files, in the seeded order they are fed to the stream. */
  private var slices: Seq[File] = Nil
  private var sliceOf: Map[Long, Int] = Map.empty
  private var rowsIn = 0L
  private var bytesIn = 0L
  private var out = ""
  private var compactMb = 0.0
  private var stateFiles = 0

  private def table(name: String) = s"${ctx.dataDir}/$name.parquet"

  /** Untimed: the seeded slice files. */
  def prepare(): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val docs = Tables.documents(spark, ctx.dataDir)
    val ids = scala.util.Random.javaRandomToRandom(ctx.rng)
      .shuffle(docs.select("doc_id").as[Long].collect().toSeq)
    sliceOf = ids.zipWithIndex.map { case (id, i) => id -> (i * Slices / ids.size) }.toMap
    val dir = new File(ctx.args.work, "slices").getAbsolutePath
    docs.join(sliceOf.toSeq.toDF("doc_id", "slice"), "doc_id")
      .repartition(col("slice")).write.partitionBy("slice").parquet(dir)
    slices = (0 until Slices).map { k =>
      new File(s"$dir/slice=$k").listFiles().filter(_.getName.endsWith(".parquet")).head
    }
    val tables = EtlTables :+ "documents"
    rowsIn = tables.map(ctx.tableRows).sum + ids.size
    bytesIn = (tables.map(t => new File(table(t))) ++ slices).map(sizeOf).sum
  }

  def run(): Unit = {
    val p = Pass
    Main.releaseBuilders(ctx.spark)
    out = ctx.workDir("out")
    ctx.op(p, "etl", "pipeline") { Etl.run(ctx.spark, ctx.dataDir, s"$out/graph"); true }
    ctx.op(p, "corpus_write", "pipeline") {
      val df = ctx.part("construct")(Corpus.corpusPrepareFull(ctx.spark, ctx.dataDir))
      ctx.part("execute")(df.write.parquet(s"$out/corpus"))
      true
    }
    val watch = ctx.workDir("out/watch")
    var q: StreamingQuery = null
    ctx.op(p, "stream_start", "pipeline") {
      q = CorpusStream.ingestStateful(
        ctx.spark.readStream.schema(CorpusStream.documentsSchema)
          .option("maxFilesPerTrigger", "1").parquet(watch),
        s"$out/stream", s"$out/checkpoint", s"$out/state")
      true
    }
    try slices.zipWithIndex.foreach { case (f, k) =>
      ctx.op(p, "batch", "micro-batch") {
        // copied under a hidden name, then renamed: the source never sees
        // a partial file
        val tmp = Paths.get(watch, s".$k.tmp")
        Files.copy(f.toPath, tmp)
        Files.move(tmp, Paths.get(watch, s"slice-$k.parquet"), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
        true
      }
      if (k == Slices / 2 - 1) {
        ctx.op(p, "compact", "pipeline") {
          CorpusStream.compactBands(ctx.spark, s"$out/state", k.toLong); true
        }
        compactMb = Main.mb(sizeOf(new File(s"$out/state/batch_id=-1")))
      }
    } finally if (q != null) q.stop()
    stateFiles = files(new File(s"$out/state")).size
  }

  private def read(path: String): DataFrame = ctx.spark.read.parquet(path)

  /** ETL and corpus outputs must hash to the values recorded for this
    * data. The stream output depends on the seeded slice order, so it is
    * checked by its invariants: every kept document once, in the batch
    * of its own slice, and the dedup store holds kept documents only. */
  def verify(): Unit = {
    def guard(name: String)(body: => Unit): Unit =
      try body catch { case e: Throwable => ctx.checks += 1; ctx.fail(s"$name: ${Main.describe(e)}") }
    def expect(name: String, ok: Boolean): Unit = {
      ctx.checks += 1
      if (!ok) ctx.fail(s"ingest/$name")
    }
    val last = out
    guard("etl") {
      ctx.check("ingest/etl_nodes", Main.hashOf(read(s"$last/graph/nodes")))
      ctx.check("ingest/etl_edges", Main.hashOf(read(s"$last/graph/edges")))
    }
    guard("corpus")(ctx.check("ingest/corpus", Main.hashOf(read(s"$last/corpus"))))
    guard("stream") {
      val spark = ctx.spark
      import spark.implicits._
      val kept = read(s"$last/stream")
      val n = kept.count()
      expect("stream_unique", kept.select("doc_id").distinct().count() == n && n > 0)
      val assign = sliceOf.toSeq.toDF("doc_id", "slice")
      expect("stream_batch_is_slice", kept.join(assign, "doc_id")
        .filter(col("batch_id") =!= col("slice")).isEmpty &&
        kept.join(assign, Seq("doc_id"), "left_anti").isEmpty)
      expect("stream_store_kept_only", read(s"$last/state").select("doc_id")
        .join(kept, Seq("doc_id"), "left_anti").isEmpty)
    }
  }

  /** Input rows consumed per second over the three write paths, and
    * bytes written (dedup store included) per byte of input read. */
  def detail(ops: Seq[Op]): Map[String, Double] = {
    val bytesOut = sizeOf(new File(out)) - sizeOf(new File(s"$out/watch"))
    Map(
      "ingest_s" -> ops.map(_.ms).sum / 1000,
      "ingest_rows_per_s" -> rowsIn / (ops.map(_.ms).sum / 1000),
      "bytes_out_per_byte_in" -> bytesOut.toDouble / bytesIn)
  }

  def layers(ops: Seq[Op], at: Attribution): Map[String, Double] = {
    def sec(name: String) = ops.filter(_.name == name).map(_.ms / 1000).sum
    val batches = ops.filter(_.name == "batch").sortBy(_.startUs)
    val graph = new File(s"$out/graph")
    val prog = at.progress
    Map(
      "sources.etl_s" -> sec("etl"),
      "sources.files_written" -> files(graph).count(_.getName.endsWith(".parquet")).toDouble,
      "sources.bytes_written_mb" -> Main.mb(sizeOf(graph)),
      "operators.corpus_write_s" -> sec("corpus_write"),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_p50_s" -> Main.median(batches.map(_.ms / 1000)),
      "streaming.batch_last_s" -> batches.lastOption.map(_.ms / 1000).getOrElse(0.0),
      "streaming.add_batch_ms" -> Main.median(prog.map(_.durations.getOrElse("addBatch", 0L).toDouble)),
      "streaming.planning_ms" -> Main.median(prog.map(_.durations.getOrElse("queryPlanning", 0L).toDouble)),
      "streaming.compact_s" -> sec("compact"),
      "streaming.compact_mb_rewritten" -> compactMb,
      "streaming.state_files" -> stateFiles.toDouble)
  }
}

object WritePaths {
  /** Pass number of the write-path operations: apart from the query passes. */
  val Pass: Int = -1
  val Slices = 2
  /** Tables `Etl.run` reads. */
  val EtlTables = Seq("customer", "part", "orders", "lineitem", "events")

  def files(f: File): Seq[File] =
    if (!f.exists) Nil
    else if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
    else Seq(f)

  def sizeOf(f: File): Long = files(f).map(_.length).sum
}

package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Round-13 instrument (r12 verdict item 5): the streaming twins are
  * parity-tested at toy scale; this measures the heaviest one — the
  * stateful as-of attribution — under a REPLAY at GenScale'd volume,
  * reporting per-micro-batch latency, input rows, and state-store
  * size (rows + bytes) from the engine's own progress metrics. The
  * claim under test is the scale posture in the asofAttribution
  * scaladoc: state is bounded by (watermark grace × arrival rate) +
  * one last-touch per live user, NOT by stream length — so across a
  * replay the state high-water should plateau once the user
  * population is touched, and batch latency should track batch input
  * size, not total rows ingested so far.
  *
  * Replay shape: the events table is split into `chunks` files by
  * event-time range (arithmetic bucketing — no single-partition
  * window) written in ascending mod-time order, and the file source
  * consumes them `maxFilesPerTrigger=1` → one micro-batch per chunk,
  * event time advancing across batches exactly like a live feed.
  *
  * Usage: runMain graft.tools.StreamScale <sfDir> [chunks=20]
  *          [graceUs=0] */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chunks = args.lift(1).map(_.toInt).getOrElse(20)
    val graceUs = args.lift(2).map(_.toLong).getOrElse(0L)
    val spark = graft.Session()

    val staging = Files.createTempDirectory("graft-streamscale").toString
    val ck = Files.createTempDirectory("graft-streamscale-ck").toString

    // normalize ts to µs TimestampType via the dispatching batch reader,
    // then chunk by event-time range so replay order == event-time order
    val ev = graft.model.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val Array(lo, hi) = ev
      .agg(unix_micros(min("ts")), unix_micros(max("ts")))
      .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
    val width = math.max(1L, (hi - lo) / chunks + 1)
    val nTotal = ev.count()
    println(s"STREAMSCALE input dir=$dir rows=$nTotal chunks=$chunks " +
      s"graceUs=$graceUs spanUs=${hi - lo}")
    Replay.stageChunks(ev,
      (unix_micros(col("ts")) - lo).divide(width).cast("long"),
      chunks, staging, "STREAMSCALE")

    val schema = spark.read.parquet(s"$staging/chunk000.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet")
      .parquet(staging)
    val t0 = System.nanoTime()
    val q = EventStream.asofAttribution(src, graceUs)
      .writeStream.format("noop")
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    var hwRows = 0L; var hwBytes = 0L
    progs.foreach { p =>
      val so = p.stateOperators.headOption
      val rows = so.map(_.numRowsTotal).getOrElse(0L)
      val bytes = so.map(_.memoryUsedBytes).getOrElse(0L)
      hwRows = math.max(hwRows, rows); hwBytes = math.max(hwBytes, bytes)
      println(f"STREAMBATCH batch=${p.batchId} in=${p.numInputRows} " +
        f"ms=${p.batchDuration} stateRows=$rows " +
        f"stateMB=${bytes / 1e6}%.1f")
    }
    println(f"STREAMSCALE result rows=$nTotal batches=${progs.length} " +
      f"wall=$wall%.1f s rate=${nTotal / wall}%.0f rows/s " +
      f"stateRowsHW=$hwRows stateMBHW=${hwBytes / 1e6}%.1f")
    spark.stop()
  }
}

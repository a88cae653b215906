package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.CorpusStream

/** Round-15 instrument (r14 verdict item 4): `scoredStream` — the
  * batch-fit → stream-score composition — is parity-tested at two-batch
  * toy scale; this replays a GenScale'd documents table through it at
  * volume and measures what the scaladoc claims: the plan is STATELESS
  * (a fully incremental append-mode projection — no state store, no
  * watermark), so per-batch latency must track batch input size with
  * zero state rows/bytes in the engine's own progress metrics and no
  * upward drift as cumulative ingest grows.
  *
  * Replay shape: the documents table split into `chunks` files
  * (doc_id mod bucketing, [[Replay.stageChunks]]), file
  * source `maxFilesPerTrigger=1` → one micro-batch per chunk; the
  * model weights come from the BATCH fit over the SAME source dir
  * (fit offline, hot-swap literals — the production shape); sink is
  * noop (full projection computed, nothing shipped — the Profile
  * method).
  *
  * Round 16: a `mix` mode replays [[CorpusStream.mixedStream]] — the
  * quality-aware assembly composition — through the same harness, with
  * the same stateless claim to verify (tier assignment, broadcast rate
  * config, and in-row copy explosion are all row-local, so
  * stateOperators must stay empty and latency flat).
  *
  * Round 17: an `ingest` mode replays [[CorpusStream.ingest]] — the
  * full preparation pipeline (quality gate, per-slice near-dup
  * removal, split assignment) through the foreachBatch parquet sink
  * (batch_id/split-partitioned, idempotent overwrite) — and a
  * `mixingest` mode replays [[CorpusStream.mixedIngest]], the
  * composed fit→mix loop with per-batch weight hot-swap, both
  * reporting landed-row counts alongside the progress metrics: the
  * fifth-decade cell for the one streaming surface (the parquet sink
  * loop) that only had sf10 numbers.
  *
  * Usage: runMain graft.tools.ScoreScale <sfDir> [chunks=20]
  *          [score|mix|ingest|mixingest] */
object ScoreScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chunks = args.lift(1).map(_.toInt).getOrElse(20)
    val mode = args.lift(2).getOrElse("score")
    require(Set("score", "mix", "ingest", "mixingest")(mode),
      s"unknown mode $mode")
    val spark = graft.Session()

    val staging = Files.createTempDirectory("graft-scorescale").toString
    val ck = Files.createTempDirectory("graft-scorescale-ck").toString

    val docs = spark.read.schema(CorpusStream.documentsSchema)
      .parquet(s"$dir/documents.parquet")
    val nTotal = docs.count()
    // the offline half: one memoized 9-sum reduction + O(1) solve
    val tFit0 = System.nanoTime()
    val w = graft.operators.Distill.fitWeights(spark, dir)
      .getOrElse(sys.error(s"empty corpus at $dir"))
    val fitSec = (System.nanoTime() - tFit0) / 1e9
    println(f"SCORESCALE mode=$mode dir=$dir docs=$nTotal chunks=$chunks " +
      f"fit=$fitSec%.1f s weights=$w")
    Replay.stageChunks(docs, pmod(col("doc_id"), lit(chunks)), chunks,
      staging, "SCORESCALE")
    val src = spark.readStream.schema(CorpusStream.documentsSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet")
      .parquet(staging)
    val outDir = Files.createTempDirectory("graft-scorescale-out").toString
    val stateDir = s"$outDir-state"
    val t0 = System.nanoTime()
    val q = mode match {
      case "ingest" =>
        CorpusStream.ingest(src, outDir, ck)
      case "mixingest" =>
        CorpusStream.mixedIngest(src, outDir, ck, stateDir,
          graft.operators.Corpus.defaultMixRates)
      case "mix" =>
        CorpusStream.mixedStream(src, w,
            graft.operators.Corpus.defaultMixRates)
          .writeStream.format("noop").option("checkpointLocation", ck)
          .outputMode("append").start()
      case _ =>
        CorpusStream.scoredStream(src, w)
          .writeStream.format("noop").option("checkpointLocation", ck)
          .outputMode("append").start()
    }
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.filter(_.numInputRows > 0).toSeq
    q.stop()
    var stateRows = 0L
    var stateBytes = 0L
    progs.foreach { p =>
      val st = p.stateOperators.map(s =>
        (s.numRowsTotal, s.memoryUsedBytes)).toSeq
      stateRows += st.map(_._1).sum
      stateBytes += st.map(_._2).sum
      println(s"SCOREBATCH batch=${p.batchId} in=${p.numInputRows} " +
        s"ms=${p.batchDuration} stateOps=${p.stateOperators.length}")
    }
    println(f"SCORESCALE result docs=$nTotal batches=${progs.length} " +
      f"wall=$wall%.1f s rate=${nTotal / wall}%.0f docs/s " +
      f"stateRowsTotal=$stateRows stateBytesTotal=$stateBytes")
    if (mode == "ingest" || mode == "mixingest") {
      val landed = spark.read.parquet(outDir).count()
      val sinkGb = org.apache.commons.io.FileUtils
        .sizeOfDirectory(new java.io.File(outDir)) / 1e9
      println(f"SCORESCALE sink rows=$landed size=$sinkGb%.2f GB " +
        s"dir=$outDir")
    }
    spark.stop()
  }
}

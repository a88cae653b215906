package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.streaming.CorpusStream

/** Round-13 instrument, the CorpusStream half of the streaming scale
  * posture (r12 verdict item 5): replay a GenScale'd documents table
  * through [[CorpusStream.ingestStateful]] in `chunks` micro-batches
  * and measure what the scaladoc claims — per-batch latency =
  * per-batch pipeline + one store-probe equi-join whose STORE side
  * grows with the corpus (inherent to global dedup, not a leak), so
  * the latency slope across batches is the store-scan term, and the
  * band store's row growth tracks emitted documents × bands exactly.
  *
  * With `compactAt = k` (0 = never), the replay STOPS after draining
  * the first k chunks, runs [[CorpusStream.compactBands]] over the
  * committed history, and resumes on the same checkpoint for the
  * remaining chunks — so the per-batch latency series crosses the
  * compaction boundary and the post-fold slope measures what the fold
  * actually buys (the O(batches) small-file listing term vs the
  * corpus-shaped data term).
  *
  * Usage: runMain graft.tools.CorpusScale <sfDir> [chunks=20]
  *          [compactAt=0] */
object CorpusScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chunks = args.lift(1).map(_.toInt).getOrElse(20)
    val compactAt = args.lift(2).map(_.toInt).getOrElse(0)
    val spark = graft.Session()

    val staging = Files.createTempDirectory("graft-corpusscale").toString
    val ck = Files.createTempDirectory("graft-corpusscale-ck").toString
    val out = Files.createTempDirectory("graft-corpusscale-out").toString
    val state = Files.createTempDirectory("graft-corpusscale-st").toString

    val hold = Files.createTempDirectory("graft-corpusscale-hold").toString
    val docs = spark.read.schema(CorpusStream.documentsSchema)
      .parquet(s"$dir/documents.parquet")
    val nTotal = docs.count()
    println(s"CORPSCALE input dir=$dir docs=$nTotal chunks=$chunks " +
      s"compactAt=$compactAt")
    val staged = Replay.stageChunks(docs, pmod(col("doc_id"), lit(chunks)),
      chunks, hold, "CORPSCALE")
    def place(from: Int, until: Int): Unit =
      staged.filter(i => i >= from && i < until).foreach { i =>
        Files.move(Paths.get(f"$hold/chunk$i%03d.parquet"),
          Paths.get(f"$staging/chunk$i%03d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }

    def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val src = spark.readStream.schema(CorpusStream.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "chunk*.parquet")
        .parquet(staging)
      val q = CorpusStream.ingestStateful(src, out, ck, state)
      q.processAllAvailable()
      val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
      q.stop()
      ps
    }

    val t0 = System.nanoTime()
    val progs =
      if (compactAt > 0 && compactAt < chunks) {
        place(0, compactAt)
        val pre = drain()
        CorpusStream.compactBands(spark, state, compactAt - 1L)
        println(s"CORPCOMPACT after batch ${compactAt - 1}")
        place(compactAt, chunks)
        pre ++ drain()
      } else { place(0, chunks); drain() }
    val wall = (System.nanoTime() - t0) / 1e9
    progs.foreach { p =>
      println(s"CORPBATCH batch=${p.batchId} in=${p.numInputRows} " +
        s"ms=${p.batchDuration}")
    }
    // partition-column types are INFERRED on read (batch_id comes back
    // as int) — cast before typed access
    val storeByBatch = spark.read.parquet(state)
      .groupBy(col("batch_id").cast("long").as("b")).count()
      .orderBy("b").collect()
    var cum = 0L
    storeByBatch.foreach { r =>
      cum += r.getLong(1)
      println(s"CORPSTORE batch=${r.getLong(0)} bands=${r.getLong(1)} " +
        s"cumBands=$cum")
    }
    val kept = spark.read.parquet(out).count()
    println(f"CORPSCALE result docs=$nTotal kept=$kept " +
      f"batches=${progs.length} wall=$wall%.1f s " +
      f"rate=${nTotal / wall}%.0f docs/s storeBands=$cum")
    spark.stop()
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{Corpus, Dedup, TextOps}

/** End-to-end STREAMING corpus ingestion (extension surface): the batch
  * [[graft.operators.Corpus.corpusPrepare]] pipeline — quality gate,
  * near-duplicate removal, split assignment — composed over a document
  * stream, writing split-partitioned parquet exactly once.
  *
  * Topology: `readStream` (documents parquet dir; kafka at 100 TB/day —
  * only the source line changes) → `foreachBatch` running the BATCH
  * preparation operators on each micro-batch slice → idempotent
  * split-partitioned parquet (each batch overwrites only its own
  * `batch_id=N` directory on replay, the [[EventStream.toParquetIdempotent]]
  * contract).
  *
  * Why foreachBatch rather than a fully incremental plan: the quality
  * gate and split assignment are stateless per-row columns (they stream
  * trivially — [[Corpus.splitOf]] composes unchanged, StreamingSpec
  * proves it), but near-dup removal is a JOIN-over-the-slice semantics:
  * MinHash banding + connected components need the whole slice visible
  * at once. foreachBatch is Structured Streaming's sanctioned bridge for
  * exactly that — full batch semantics (including the CC fixpoint's
  * driver loop) per micro-batch, checkpoint-replay safe. Dedup scope is
  * therefore PER BATCH: duplicates across batches are left to the
  * warmup-free streaming guard ([[EventStream.dedupEvents]]'s
  * watermarked exact-dedup pattern) or a periodic batch compaction —
  * the honest boundary of streaming near-dup at scale (global LSH state
  * would grow with the corpus, not the watermark horizon).
  *
  * Packing is deliberately EXCLUDED: pack ids are a global order over
  * the finished corpus (exclusive prefix sum) — order-global by design,
  * meaningless per micro-batch; a training run packs once, after
  * ingestion closes.
  */
object CorpusStream {

  /** documents schema as stored (TESTDATA.md). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents parquet dir. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** One slice through the preparation pipeline — the batch operators
    * verbatim ([[TextOps.keepGate]], [[Dedup.dedupSurvivorsOf]],
    * [[Corpus.splitOf]]), so a slice that arrives in one batch produces
    * exactly [[Corpus.corpusPrepare]]'s rows minus `pack_id`
    * (StreamingSpec asserts the parity). Gate scopes mirror the batch
    * composition: survivors are computed over the WHOLE slice, quality
    * keeps independently, and the two intersect. */
  def prepareSlice(docs: DataFrame): DataFrame = {
    val keep = docs.filter(TextOps.keepGate).select("doc_id")
    val surv = Dedup.dedupSurvivorsOf(docs).select("doc_id")
    docs
      .join(keep, Seq("doc_id"), "left_semi")
      .join(surv, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        Corpus.splitOf(col("doc_id")).as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
  }

  /** The batch-fit → stream-score composition: apply a PRE-FITTED
    * quality model (three numbers from
    * [[graft.operators.Distill.fitWeights]], trained offline on the
    * accumulated corpus) to a LIVE document stream. Unlike the
    * preparation pipeline this needs no foreachBatch bridge — scoring
    * is a stateless row-local projection, so it composes as a fully
    * incremental append-mode plan (no state store, no watermark, any
    * trigger), and each row's score is byte-identical to the batch
    * `quality_predict` projection's (StreamingSpec pins the parity).
    * This is the production shape for model-based quality filtering at
    * ingest: refit periodically in batch, hot-swap three literals. */
  def scoredStream(docs: DataFrame,
      weights: (Double, Double, Double)): DataFrame =
    graft.operators.Distill.scoreWith(weights)(
      graft.operators.Distill.featuredSlice(docs))

  /** QUALITY-AWARE streaming assembly — the full fit → score → assemble
    * loop closed over a LIVE stream: [[graft.operators.Corpus.mixQualityOf]]
    * applied per micro-batch with weights from [[runningFit]] (or any
    * pre-fitted triple). Tier assignment, the broadcast rate config,
    * and the in-row copy explosion are all stateless row-local work,
    * so — like [[scoredStream]] — this composes as a fully incremental
    * append-mode plan: no state store, no watermark, any trigger. The
    * only batch-vs-stream delta is the deterministic output sort, which
    * stays with the batch declared query (a stream has no global
    * order); per-row VALUES are byte-identical to the batch
    * `mix_quality` under the same weights (StreamingSpec pins the
    * parity on a one-batch slice).
    *
    * Production loop: `fittedStream` accumulates the nine sums →
    * `runningFit` re-solves → hot-swap the triple into this stream.
    * Because the incremental fit is EXACTLY the batch fit (integer
    * sums), the streamed mix after batch k equals the batch mix over
    * batches 1..k — no drift to monitor. */
  def mixedStream(docs: DataFrame, weights: (Double, Double, Double),
      rates: Map[String, Double],
      qLow: Double = graft.operators.Corpus.DefaultQLow, qHigh: Double = graft.operators.Corpus.DefaultQHigh): DataFrame =
    graft.operators.Corpus.mixQualityOf(docs.sparkSession,
      graft.operators.Distill.featuredSlice(docs), weights, rates,
      qLow, qHigh)

  /** INCREMENTAL quality-model fitting (the online half of the
    * distillation tier): each micro-batch reduces its slice to the nine
    * normal-equation sums ([[graft.operators.Distill.sumsOf]] — exact
    * integers, so per-batch rows merge by plain ADDITION) and lands the
    * 1-row result under its own `batch_id=N` partition with dynamic
    * partition overwrite — a replayed batch overwrites its own row, so
    * the accumulated state is effectively-once, the
    * [[ingest]]/[[ingestStateful]] contract. [[runningFit]] re-solves
    * from the summed state at any point; after batch k it equals the
    * BATCH fit over the union of batches 1..k exactly (integer sums
    * have no merge-order error — StreamingSpec pins the equality), so
    * the production loop "refit periodically, hot-swap three literals
    * into [[scoredStream]]" needs no offline pass at all.
    *
    * Scale posture: per batch, one map-side-combined reduction to ONE
    * row; the state grows one 9-decimal row per batch (boundary
    * metadata — compaction never needed in practice; a million batches
    * is ~100 MB of parquet overhead dominated by file count, foldable
    * by the [[compactBands]] pattern if that day comes). */
  def fittedStream(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        EventStream.writeBatch(graft.operators.Distill.sumsOf(
          graft.operators.Distill.featuredSlice(batch)), batchId, stateDir)
      }
      .start()

  /** Solve the running fit from [[fittedStream]]'s accumulated state:
    * add the per-batch integer sums (a count-weighted merge is just
    * addition — the whole point of normal-equation state), then the
    * same BigInt Cramer solve as the batch fit. None before the first
    * batch or on an all-empty stream. */
  def runningFit(spark: SparkSession,
      stateDir: String): Option[(Double, Double, Double)] =
    runningFitThrough(spark, stateDir, Long.MaxValue)

  /** [[runningFit]] restricted to state rows with `batch_id ≤ through`
    * — the replay-safe form [[mixedIngest]] uses: a re-delivered batch
    * N must solve from EXACTLY the state it solved from the first time,
    * so rows a later batch may already have landed (crash after N+1's
    * state write, replay from N) are filtered out by partition
    * pruning on the batch_id partition column. */
  def runningFitThrough(spark: SparkSession, stateDir: String,
      through: Long): Option[(Double, Double, Double)] =
    scala.util.Try(spark.read.parquet(stateDir)).toOption.flatMap { st0 =>
      val st = st0.filter(col("batch_id") <= through)
      val total = st.agg(
        sum("n").cast("decimal(38,0)").as("n"),
        sum("s1").cast("decimal(38,0)").as("s1"),
        sum("s2").cast("decimal(38,0)").as("s2"),
        sum("s11").cast("decimal(38,0)").as("s11"),
        sum("s12").cast("decimal(38,0)").as("s12"),
        sum("s22").cast("decimal(38,0)").as("s22"),
        sum("sy").cast("decimal(38,0)").as("sy"),
        sum("s1y").cast("decimal(38,0)").as("s1y"),
        sum("s2y").cast("decimal(38,0)").as("s2y")).collect()(0)
      if (total.isNullAt(0)) None // state dir exists but holds no rows
      else graft.operators.Distill.solveSums(total)
    }

  /** The CLOSED production loop — fit AND mix composed in one
    * foreachBatch, with the model hot-swapping as the stream runs (r16
    * verdict item 3: [[mixedStream]]'s parity is pinned under FIXED
    * weights; this is the live form the scaladocs narrate). Per
    * micro-batch k:
    *
    *  1. land batch k's nine normal-equation sums in the fit state
    *     (idempotent per-partition overwrite, as [[fittedStream]]);
    *  2. re-solve the running fit over state rows `batch_id ≤ k` —
    *     the INCLUSIVE schedule: batch k mixes under weights_k, the
    *     fit over batches 1..k. Inclusive is the pinned choice
    *     because it degenerates exactly to the batch semantics: a
    *     stream that delivers the whole corpus in one batch produces
    *     the declared `mix_quality` rows verbatim (weights fitted on
    *     the full corpus, applied to the full corpus). The `≤ k`
    *     filter (partition-pruned) keeps replay exact: a re-delivered
    *     batch re-solves from precisely the state it saw first time,
    *     even if later batches already landed their rows;
    *  3. mix batch k's slice under those weights and land it under its
    *     own `batch_id=k` output partition (idempotent overwrite — the
    *     [[ingest]] sink contract).
    *
    * Weights therefore CHANGE across the stream as evidence
    * accumulates — the hot-swap is the loop body, not an operator
    * restart. StreamingSpec pins exact row parity against the
    * batch-side replay of the same schedule over ≥3 micro-batches, and
    * the one-batch degenerate case against the declared query.
    *
    * Scale posture: per batch, one map-side-combined 1-row reduction,
    * one 9-number solve on the driver (bounded metadata), and the
    * stateless scan→broadcast-join→explode mix — no state store, no
    * watermark; the fit state grows one row per batch. */
  def mixedIngest(docs: DataFrame, outDir: String, checkpointDir: String,
      stateDir: String, rates: Map[String, Double],
      qLow: Double = Corpus.DefaultQLow,
      qHigh: Double = Corpus.DefaultQHigh): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val featured = graft.operators.Distill.featuredSlice(batch).cache()
        EventStream.writeBatch(graft.operators.Distill.sumsOf(featured),
          batchId, stateDir)
        // (0,0,0) on an unsolvable fit mirrors the batch mixQuality
        // convention: q_pred = 0 < qLow ⇒ every row tiers to 0 and
        // drops, exactly what the batch query emits on that state
        val w = runningFitThrough(spark, stateDir, batchId)
          .getOrElse((0.0, 0.0, 0.0))
        EventStream.writeBatch(
          Corpus.mixQualityOf(spark, featured, w, rates, qLow, qHigh),
          batchId, outDir)
        featured.unpersist()
        ()
      }
      .start()

  /** [[prepareSlice]] plus the round-5 gates — the streaming twin of
    * [[Corpus.corpusPrepareFull]] minus packing: repetition gate over
    * the slice, decontamination of the slice's train split against its
    * own held-out split. Same composition semantics as the batch form
    * (gates computed over the WHOLE slice, then intersected), so a
    * one-batch slice matches `corpus_prepare_full` rows exactly
    * (StreamingSpec). */
  def prepareSliceFull(docs: DataFrame): DataFrame = {
    val keep = docs.filter(TextOps.keepGate).select("doc_id")
    val keepRep = TextOps.textRepetitionOf(docs)
      .filter(col("keep_rep")).select("doc_id")
    val surv = Dedup.dedupSurvivorsOf(docs).select("doc_id")
    val cont = Corpus.decontaminateOf(docs)
      .filter(col("contaminated")).select("doc_id")
    docs
      .join(keep, Seq("doc_id"), "left_semi")
      .join(keepRep, Seq("doc_id"), "left_semi")
      .join(surv, Seq("doc_id"), "left_semi")
      .join(cont, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        Corpus.splitOf(col("doc_id")).as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
  }

  /** Run the ingestion: each micro-batch is prepared and lands in
    * split-partitioned parquet under its own `batch_id=N` directory with
    * dynamic partition overwrite — a replayed batch (same epoch id from
    * the checkpoint) overwrites itself instead of appending duplicates,
    * so the sink is effectively-once. Readers prune on `split=train`
    * directly (partition pruning — the reason the training-split column
    * is a PARTITION, not a filter downstream). */
  def ingest(docs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        EventStream.writeBatch(prepareSlice(batch), batchId, outDir, "split")
      }
      .start()

  /** MinHash band table of a document slice, keys only — the signature
    * a document leaves behind in the cross-batch state store. */
  private def bandsOf(docs: DataFrame): DataFrame =
    Dedup.minhashBandsOf(Dedup.minhashSignaturesOf(Dedup.shinglesOf(docs)))
      .select("doc_id", "band", "v1", "v2")

  /** Prior batches' band store, or an empty relation before the first
    * batch lands. The `batch_id < current` partition filter makes the
    * current batch's own (possibly partially written, or replayed)
    * signatures invisible to itself — the property that keeps replay
    * idempotent: a re-delivered batch N sees EXACTLY the state it saw
    * the first time. */
  private def priorBands(spark: SparkSession, stateDir: String,
      batchId: Long): DataFrame =
    scala.util.Try(spark.read.parquet(stateDir)).toOption
      .map(_.filter(col("batch_id") < batchId).select("band", "v1", "v2"))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Int, Long, Long)].toDF("band", "v1", "v2")
      }

  /** [[ingest]] with CROSS-BATCH near-duplicate state (the round-5 gap:
    * per-batch dedup lets a duplicate of batch N survive in batch N+k).
    * Each batch persists the minhash band table of the documents it
    * EMITS — parquet partitioned by (batch_id, band) — and drops any
    * incoming document sharing an LSH band bucket with the store before
    * the per-batch pipeline runs. The state mirrors the sink: what the
    * corpus contains is exactly what can suppress a later copy.
    *
    * Scale posture: the collision probe is ONE equi-join per batch —
    * written store-⋈-batch so the runtime can broadcast the (trigger-
    * bounded, but not PROVABLY bounded → unhinted, AQE decides) batch
    * side and stream the store scan without shuffling it; `band` is a
    * physical partition, so at 100 TB the store bucket-joins per band
    * directory. The store grows with the CORPUS, not a watermark — that
    * is inherent to global dedup (a signature store is the standard
    * design); compaction = rewrite the store keyed by band, dropping
    * batch_id, once ingestion closes.
    *
    * Replay contract (same as [[ingest]]): both writes land under
    * `batch_id=N` with dynamic partition overwrite, and [[priorBands]]
    * filters to `batch_id < N`, so a re-delivered batch recomputes the
    * identical decision and overwrites itself in sink AND store. */
  /** Compact the cross-batch band store: fold every batch partition at
    * or below `throughBatch` (plus any prior fold) into ONE segment per
    * band under the sentinel partition `batch_id = -1`. This is the
    * maintenance operation the r13 replay measurement names as the
    * production lever (SCALING.md r13 §7): [[priorBands]] re-lists and
    * re-opens an O(batches) small-file set every trigger, so per-batch
    * latency grows ~linearly with batch count even though the DATA is
    * tiny; after compaction the folded history is 8 band files.
    *
    * Correctness contract:
    *   - The sentinel is always visible (`-1 < N` for every batch) and
    *     never replay-overwritten (real batch ids are ≥ 0), so
    *     [[priorBands]] and the sink replay contract need no change.
    *   - `throughBatch` must be ≤ the last COMMITTED batch: only the
    *     batch after it can ever re-deliver, and its own bands stay
    *     under their own `batch_id = N > throughBatch` partition —
    *     invisible to itself, exactly as before compaction.
    *   - Run while ingestion is STOPPED. Two-phase and crash-safe
    *     under that contract: phase A stages the fold in a SIBLING
    *     directory (`<stateDir>.compacting`), committed by _SUCCESS
    *     (the parquet committer's marker) PLUS a `_THROUGH=<n>` file
    *     binding the stage to the throughBatch it folded — written
    *     last, so a stage missing either is uncommitted garbage.
    *     Phase B deletes the folded partitions and renames the stage
    *     in. A crash anywhere is recovered by re-running compactBands
    *     before resuming ingestion; the staged fold preserves the data
    *     across the delete/rename window, and a completed run deletes
    *     the stage last. The one ambiguous-looking recovery state — a
    *     committed stage whose batch_id=-1 is GONE (crash between the
    *     rename and the stage delete) — is disambiguated inside swapIn
    *     against the store's own -1 partition before any delete runs
    *     (see the inline note; StreamingSpec fabricates the crash). A committed stage is NEVER reused for a
    *     different throughBatch (a crash between phases can leave the
    *     store torn — partitions ≤ its recorded n already deleted — so
    *     a fresh rebuild would read a torn store, and swapping in a
    *     stale fold would silently drop the batches between n and the
    *     new argument): the recorded fold is COMPLETED first, restoring
    *     a whole store, and only then is the new argument folded. A
    *     duplicate band row surviving a partial recovery is harmless to
    *     results either way: the probe join feeding `dupIds` is
    *     followed by `.distinct()`. */
  def compactBands(spark: SparkSession, stateDir: String,
      throughBatch: Long): Unit = {
    require(throughBatch >= 0, s"throughBatch=$throughBatch")
    import org.apache.hadoop.fs.Path
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(stateDir))) return
    val stage = new Path(stateDir + ".compacting")
    // phase B of a (possibly crashed) run: drop the partitions the fold
    // covers, swap the staged sentinel segment in, drop the stage.
    def swapIn(upTo: Long): Unit = {
      val foldSrc = new Path(stage, "batch_id=-1")
      // Recovery disambiguation (r14 advice, HIGH): a committed stage
      // with NO batch_id=-1 while the STORE already holds one means the
      // rename below ALREADY ran and the crash landed before the final
      // stage delete — the store's -1 is the only copy of every row the
      // fold covered, and re-running the delete loop would destroy it.
      // The state is unambiguous: a genuinely EMPTY fold (stage holds
      // only _SUCCESS) cannot coexist with a nonempty store -1, because
      // the fold reads `batch_id <= n` INCLUDING any prior -1 — a
      // surviving store -1 would have made the fold nonempty. So:
      // finish the crashed run's only remaining step and return.
      if (!fs.exists(foldSrc) &&
          fs.exists(new Path(stateDir, "batch_id=-1"))) {
        fs.delete(stage, true)
        return
      }
      fs.listStatus(new Path(stateDir))
        .filter(_.getPath.getName.startsWith("batch_id="))
        .foreach { st =>
          val id = st.getPath.getName.stripPrefix("batch_id=").toLong
          if (id <= upTo || id == -1L) fs.delete(st.getPath, true)
        }
      // Hadoop rename signals failure by RETURN VALUE, not exception —
      // an ignored false here followed by the stage delete would lose
      // the fold. An absent source is the legitimate empty-fold case
      // (an empty frame writes only _SUCCESS); anything else must abort
      // BEFORE the stage is deleted.
      if (fs.exists(foldSrc))
        require(fs.rename(foldSrc, new Path(stateDir, "batch_id=-1")),
          s"compaction swap failed: could not rename $foldSrc into " +
            s"$stateDir — staged fold left intact for a re-run")
      fs.delete(stage, true)
    }
    val recorded: Option[Long] =
      if (fs.exists(new Path(stage, "_SUCCESS")))
        fs.listStatus(stage).map(_.getPath.getName)
          .collectFirst { case n if n.startsWith("_THROUGH=") =>
            n.stripPrefix("_THROUGH=").toLong }
      else None
    recorded match {
      case Some(n) =>
        // a committed stage: finish ITS phase B first (the store may be
        // torn mid-delete for exactly these partitions), then fall
        // through to fold the current argument from the whole store
        swapIn(n)
        if (n == throughBatch) return
      case None =>
        // uncommitted stage (crash mid-write, or pre-marker): the store
        // is still whole — discard and rebuild
        fs.delete(stage, true)
    }
    // an empty store (e.g. only _SUCCESS after an empty first batch)
    // has nothing to fold, and spark.read.parquet would throw on
    // schema inference over zero partitions
    if (!fs.listStatus(new Path(stateDir))
          .exists(_.getPath.getName.startsWith("batch_id="))) return
    // phase A: stage the fold, then bind it to its parameters
    spark.read.parquet(stateDir)
      .filter(col("batch_id") <= throughBatch) // includes any prior -1
      .select("doc_id", "band", "v1", "v2")
      .withColumn("batch_id", lit(-1L))
      .repartition(col("band"))
      .write.partitionBy("batch_id", "band")
      .parquet(stage.toString)
    fs.create(new Path(stage, s"_THROUGH=$throughBatch"), true).close()
    swapIn(throughBatch)
  }

  def ingestStateful(docs: DataFrame, outDir: String, checkpointDir: String,
      stateDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val bands = bandsOf(batch).cache()
        val dupIds = priorBands(spark, stateDir, batchId)
          .join(bands, Seq("band", "v1", "v2"))
          .select("doc_id").distinct()
        val kept = prepareSlice(
          batch.join(dupIds, Seq("doc_id"), "left_anti")).cache()
        EventStream.writeBatch(kept, batchId, outDir, "split")
        EventStream.writeBatch(
          bands.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
          batchId, stateDir, "band")
        bands.unpersist()
        kept.unpersist()
        ()
      }
      .start()
}

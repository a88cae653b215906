package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Quality-model distillation (extension surface, SURVEY §7.4 companion
  * tier): fit a linear model that predicts an expensive per-document
  * quality signal from cheap integer features, entirely in one
  * distributed pass — the standard pattern for turning a costly scorer
  * (an LM judge, a heavy heuristic stack) into a filter cheap enough to
  * run over 100 TB.
  *
  * The fit is CLOSED-FORM least squares over normal equations, not
  * gradient descent: every entry of XᵀX and Xᵀy is an exact integer sum
  * (the features and the teacher target are integers by construction),
  * so the whole fit is one `agg` producing nine numbers, and the 3×3
  * Cramer solve runs on the driver over BigInt — the result is
  * bit-reproducible across runs, partitionings, and engines (DuckDB
  * replays the same sums in HUGEINT and the same determinant
  * arithmetic). Iterative optimizers cannot make that promise: their
  * float reductions depend on partition order. The exact-arithmetic
  * discipline is the same one the blend/rank tiers use
  * ([[graft.operators.Det]]): floats appear only at the very end, as a
  * single integer→double cast and one division, then round(…, 6).
  *
  * Scale posture: one scan → one partial-aggregated reduction to a
  * single 9-number row (map-side combine does almost all the work; the
  * shuffle is #partitions rows). The driver-side solve is O(1) —
  * boundary metadata, not a data collect. Prediction is a second
  * shuffle-free scan with the three fitted weights folded in as
  * literals. Integer overflow cannot occur in the engine: Spark sums
  * into decimal(38,0) and the driver solves in BigInt (the ORACLE's
  * HUGEINT determinant arithmetic is the binding bound — it holds
  * through sf10 with ~10³⁵ headroom; past that only the oracle, never
  * the engine, would need staging).
  */
object Distill {

  /** The teacher signal being distilled: an exact-integer proxy for
    * "lexical quality" in millionths — stopword ratio + type-token
    * ratio, both as integer divisions so the target is a BIGINT both
    * engines compute identically (no float rounding anywhere in the
    * label). In production this column is the expensive scorer's output
    * (an LM judge score quantized to millionths); here it is derived
    * from the text so the oracle can replay it. */
  private def featured(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(expr("filter(split(text, ' '), " +
          "x -> x IN ('the', 'a', 'of', 'and', 'in'))"))
          .cast("long").as("stop_cnt"),
        size(array_distinct(split(col("text"), " ")))
          .cast("long").as("n_uniq"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("stop_cnt"),
        expr("1000000L * stop_cnt div n_tokens + " +
          "1000000L * n_uniq div n_tokens").as("q_teacher"))

  private[graft] def featuredOf(spark: SparkSession, dir: String): DataFrame =
    featured(Tables.documents(spark, dir))

  /** Exact 3×3 determinant over BigInt — the driver-side half of the
    * Cramer solve. Row-major. */
  private def det3(m: Array[Array[BigInt]]): BigInt =
    m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))

  /** Fit weights (w0 intercept, w1·n_tokens, w2·stop_cnt), each rounded
    * to 6 dp — the cross-engine contract is: exact integer sums, exact
    * integer determinants, ONE int→double cast per weight, one
    * division, one round. */
  /** The nine normal-equation sums as a session-memoized 1-row frame:
    * every consumer of the fit — `quality_fit`, `quality_predict`,
    * `mix_quality`, the stream-score composition — needs the same
    * reduction over the same corpus, and without the memo each would
    * re-scan and re-featurize it (the bpeMerges learn-twice pattern,
    * fixed the same way). One row ≈ boundary metadata; the cache holds
    * 9 decimals. */
  /** The nine normal-equation sums of any featured slice — the whole
    * fit state, and the reason the fit is trivially INCREMENTAL: every
    * entry is an exact integer sum, so per-batch sums merge by
    * addition ([[graft.streaming.CorpusStream.fittedStream]] exploits
    * exactly this). */
  private[graft] def sumsOf(featured: DataFrame): DataFrame =
    featured
      .select(col("n_tokens").cast("decimal(38,0)").as("x1"),
        col("stop_cnt").cast("decimal(38,0)").as("x2"),
        col("q_teacher").cast("decimal(38,0)").as("y"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum("y").as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))

  private def fitSums(spark: SparkSession, dir: String): DataFrame =
    graft.model.BuilderCache.memo(spark, s"qualityFitSums:$dir") {
      sumsOf(featuredOf(spark, dir))
    }

  /** The driver-side half: one 9-number row → rounded weights. Exact
    * BigInt Cramer; None on an empty corpus. */
  private[graft] def solveSums(s: org.apache.spark.sql.Row)
      : Option[(Double, Double, Double)] = {
    if (s.getDecimal(0).longValueExact == 0L) return None // empty corpus
    def bi(i: Int): BigInt = BigInt(s.getDecimal(i).toBigInteger)
    val (n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
      (bi(0), bi(1), bi(2), bi(3), bi(4), bi(5), bi(6), bi(7), bi(8))
    val a = Array(Array(n, s1, s2), Array(s1, s11, s12),
      Array(s2, s12, s22))
    val b = Array(sy, s1y, s2y)
    val den = det3(a)
    require(den != 0, "singular normal equations (degenerate features)")
    def w(col: Int): Double = {
      val m = a.map(_.clone())
      (0 until 3).foreach(r => m(r)(col) = b(r))
      val q = det3(m).doubleValue / den.doubleValue
      BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    Some((w(0), w(1), w(2)))
  }

  private[graft] def fitWeights(spark: SparkSession,
      dir: String): Option[(Double, Double, Double)] =
    solveSums(fitSums(spark, dir)
      .collect()(0)) // one 9-number row: boundary metadata, not data

  /** `quality_fit`: the fitted model as a 3-row relation (0 rows on an
    * empty corpus — there is no model to emit). */
  def qualityFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fitWeights(spark, dir) match {
      case Some((w0, w1, w2)) =>
        Seq(("w0_intercept", w0), ("w1_n_tokens", w1),
          ("w2_stop_cnt", w2))
          .toDF("feature", "weight").orderBy("feature")
      case None =>
        Seq.empty[(String, Double)].toDF("feature", "weight")
    }
  }

  /** `quality_predict`: apply the distilled model back over the corpus —
    * the cheap-filter pass a production pipeline runs at full scale.
    * Weights enter as literals (the fit is 9 numbers; shipping it
    * through a join would be theater), so the scoring plan is a single
    * shuffle-free scan→project; the residual column is the distillation
    * audit (where does the cheap model disagree with the teacher). The
    * per-doc arithmetic is a fixed-order 3-term expression over the
    * rounded weights — deterministic, no aggregate floats. */
  def qualityPredict(spark: SparkSession, dir: String): DataFrame = {
    // empty corpus: the projection below emits 0 rows regardless, so the
    // weights only need to be well-typed
    val w = fitWeights(spark, dir).getOrElse((0.0, 0.0, 0.0))
    scoreWith(w)(featuredOf(spark, dir)).orderBy("doc_id")
  }

  /** The scoring projection over any featured slice, as a reusable
    * transform — the batch-fit → stream-apply composition: fit offline
    * with [[fitWeights]], then apply the three numbers to a LIVE
    * document stream ([[graft.streaming.CorpusStream.scoredStream]]).
    * Stateless and sort-free (the declared query adds its
    * deterministic orderBy on top), so it is legal in a streaming
    * append-mode plan and identical row-for-row to the batch form. */
  private[graft] def scoreWith(w: (Double, Double, Double))(
      featured: DataFrame): DataFrame = {
    val (w0, w1, w2) = w
    featured
      .select(col("doc_id"), col("n_tokens"), col("stop_cnt"),
        col("q_teacher"),
        round(lit(w0) + lit(w1) * col("n_tokens")
          + lit(w2) * col("stop_cnt"), 6).as("q_pred"),
        round(col("q_teacher") - (lit(w0) + lit(w1) * col("n_tokens")
          + lit(w2) * col("stop_cnt")), 6).as("resid"))
  }

  /** [[featured]] over an arbitrary (doc_id, source, text) relation —
    * batch or streaming (every column is row-local). */
  private[graft] def featuredSlice(docs: DataFrame): DataFrame =
    featured(docs)

  /** `domain_topk`: per-domain curation — the k highest-quality
    * documents of every source by the teacher score (ties broken by
    * doc_id, the suite-wide determinism rule).
    *
    * Scale posture: Spark 4 compiles `row_number() ≤ k` into
    * WindowGroupLimit with a PARTIAL pass before the exchange (plan
    * verified: both stages show partial+final WindowGroupLimit), so
    * even a one-stage window ships at most k rows per source per map
    * task — the "whole domain through one task" straggler is already
    * gone. What the partial limit does NOT bound is the reducer-side
    * input for a hot domain: k × #map-tasks rows converge on one task,
    * and map-task count grows with the corpus. The salt stage caps
    * that at 16k rows per source INDEPENDENT of cluster width: stage 1
    * ranks within (source, salt-of-16), stage 2 re-ranks the ≤ 16k
    * survivors — boundary-sized by construction. Any row in the true
    * top-k is in its salt's top-k, so the two-stage result is exactly
    * the one-stage result (DistillSpec pins the equality; the oracle
    * replays the one-stage form). */
  /** `curriculum_order`: the global TRAINING ORDER — the step after
    * packing that decides what the model sees first. Documents are
    * staged easy→core→hard by exact global teacher-score rank
    * (quartiles: top 25 % = easy, bottom 25 % = hard — the
    * [[graft.operators.Retrieval]] nll_bucket convention), then
    * deterministically shuffled WITHIN each stage by the salted
    * [[TextOps.h32]] hash (training order must be random-looking but
    * reproducible — re-running the pipeline, or growing the cluster,
    * must never change what example 1,000,000 is), and assigned a
    * contiguous global position.
    *
    * Scale posture: both global ranks are the distributed two-pass
    * shape (range-partition + sort on the total order, then
    * zipWithIndex's per-partition-count + offset pass) — NOT a
    * single-partition window, the same family as [[Corpus.packAssign]]
    * and vocab_build; the quartile boundaries come from one 1-row
    * broadcast count. Partition boundaries cannot change positions
    * (both ranks are over total orders, wherever they are cut). */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Featurize ONCE: the rank pipeline and the quartile-boundary count
    // both consume the same 2-long-per-doc projection, and without a
    // materialization point each would re-scan and re-featurize the
    // whole corpus (r14 advice — at 100 TB the second scan is real
    // money). A lineage cut pins the ~16-bytes/doc projection: see
    // BuilderCache.checkpoint.
    val feats = graft.model.BuilderCache.checkpoint(featuredOf(spark, dir)
      .select(col("doc_id"), col("q_teacher")))
    val ranked = feats
      .repartitionByRange(desc("q_teacher"), asc("doc_id"))
      .sortWithinPartitions(desc("q_teacher"), asc("doc_id"))
      .as[(Long, Long)].rdd.zipWithIndex()
      .map { case ((id, q), r) => (id, q, r) }
      .toDF("doc_id", "q_teacher", "rk")
    val n = feats
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val staged = ranked.crossJoin(broadcast(n))
      .select(col("doc_id"), col("q_teacher"),
        when(col("rk") * 4 < col("n_docs"), 0L)
          .when(col("rk") * 4 >= col("n_docs") * 3, 2L)
          .otherwise(1L).as("si"),
        TextOps.h32(concat(lit("cur:"), col("doc_id").cast("string")))
          .as("h"))
    staged
      .repartitionByRange(asc("si"), asc("h"), asc("doc_id"))
      .sortWithinPartitions(asc("si"), asc("h"), asc("doc_id"))
      .select(col("doc_id"), col("q_teacher"), col("si"))
      .as[(Long, Long, Long)].rdd.zipWithIndex()
      .map { case ((id, q, si), ord) =>
        (ord, id, Seq("easy", "core", "hard")(si.toInt), q)
      }
      .toDF("ord", "doc_id", "stage", "q_teacher")
      .orderBy("ord")
  }

  def domainTopk(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = featuredOf(spark, dir)
      .select(col("source"), col("doc_id"), col("q_teacher"),
        pmod(col("doc_id"), lit(16)).as("salt"))
    val local = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("q_teacher").desc, col("doc_id").asc)
    val global = Window.partitionBy(col("source"))
      .orderBy(col("q_teacher").desc, col("doc_id").asc)
    scored
      .withColumn("lrk", row_number().over(local))
      .filter(col("lrk") <= k)
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("q_teacher"))
      .orderBy(col("source"), col("rank"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{BuilderCache, Tables}

/** Approximate-nearest-neighbor search over the embedding column
  * (extension surface, SURVEY §7.4). Vectors are float32 in the parquet;
  * all arithmetic casts to double first so both engines see identical
  * bits. The dot/norm folds are `aggregate`/`zip_with` array expressions —
  * codegen'd, no UDF.
  *
  * Every search is one pipeline (REPOSE, ICDE 2021, PAPERS.md): a probe
  * set ([[lowest]]), candidate buckets per probe, an equi-join on bucket
  * id, the exact [[cosine]], and a per-probe top-k ([[search]]). Only the
  * bucket differs: a deterministic sign-quantization over the leading
  * dimensions ([[bucketSearch]]) or the nearest centroid cell, fixed or
  * learned ([[ivfSearch]], [[nearestCells]]). Brute force is the
  * correctness baseline (O(N) per probe, broadcast the probes); the
  * bucketed variants are the 100 TB path, where the scan becomes one
  * shuffle on bucket id and recall/cost trade by bucket bit-width exactly
  * as IVF nlist does.
  */
object Similarity {

  // plain cast, not a transform lambda: float→double widening is exact
  // and the Cast stays inside whole-stage codegen (HOF lambdas don't)
  private def vectors(spark: SparkSession, dir: String,
      more: Column*): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    Tables.embeddings(spark, dir)
      .select(Seq(col("vec_id"), col("embedding").cast("array<double>")
        .as("v")) ++ more: _*)
  }

  /** The `n` lowest vec_ids of `e` with `vec_id`/`v` renamed `id`/`vec`:
    * the probe set (pid, pv; the same deterministic-parameter convention
    * as the seed customer) and the fixed centroid table (cell, cv). */
  private def lowest(e: DataFrame, n: Int, id: String, vec: String)
      : DataFrame =
    e.orderBy("vec_id").limit(n).select(col("vec_id").as(id), col("v").as(vec))

  /** Cosine from a dot product and two squared norms, rounded to 6
    * places. `try_divide`: a zero-norm side scores NULL, as the DuckDB
    * oracle's division does, instead of throwing DIVIDE_BY_ZERO under
    * ANSI mode; NULL ranks after every score under `desc`, and `max`
    * skips it. */
  private def cosineOf(dot: Column, na2: Column, nb2: Column): Column =
    round(try_divide(dot, sqrt(na2) * sqrt(nb2)), 6)

  /** Float cosine of array columns `a` and `b` through the native
    * codegen'd expressions (graft.functions.VectorExpressions) —
    * bit-identical to the aggregate/zip_with folds (VectorExprSpec) but a
    * fused primitive loop with no intermediate array. */
  private def cosine(a: String, b: String): Column =
    cosineOf(expr(s"graft_dot($a, $b)"), expr(s"graft_norm2($a)"),
      expr(s"graft_norm2($b)"))

  /** The `n` cells of `cents` (cell, cv) nearest each row's vector `vec`,
    * ranked per `key` by |c|² − 2c·x (|x|² is constant per row, so this
    * is distance order), ties on the lower cell; `n` = 1 is the argmin
    * assignment. `cents` is bounded (a `limit` or a fitted model's
    * centres), so the cross join broadcasts it. */
  private def nearestCells(rows: DataFrame, key: String, vec: String,
      cents: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(asc("d2"), asc("cell"))
    rows.crossJoin(broadcast(cents))
      .withColumn("d2",
        expr("graft_norm2(cv)") - lit(2.0) * expr(s"graft_dot(cv, $vec)"))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") <= n)
      .drop("d2", "crk")
  }

  /** Per-probe top-k: each probe (pid, pv, cb) meets the corpus rows
    * (vec_id, v, bucket) of its candidate bucket `cb`, its own vector
    * excluded; `score` ranks them per pid, ties on the lower vec_id. The
    * probe side is nProbes × buckets rows, so it broadcasts. */
  private def search(corpus: DataFrame, cand: DataFrame, k: Int,
      score: Column = cosine("v", "pv")): DataFrame = {
    val w = Window.partitionBy("pid").orderBy(desc("cosine"), asc("vec_id"))
    corpus.join(broadcast(cand),
        col("bucket") === col("cb") && col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"), score.as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cosine"))
      .orderBy("pid", "rank")
  }

  /** `sim_topk`: brute-force cosine top-k for the probe vector (min
    * vec_id). */
  def simTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = vectors(spark, dir)
    e.crossJoin(broadcast(lowest(e, 1, "pid", "pv")))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("vec_id"), cosine("v", "pv").as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Deterministic sign-quantization bucket over the first `signDims`
    * dimensions of array column `arr` — the IVF-style coarse partition.
    * Dimension-guarded: `size(arr) > i` short-circuits before the
    * `element_at` (Spark's And does not evaluate the right side when the
    * left is false, in eval and codegen both), so vectors shorter than
    * `signDims` bucket on their available signs instead of relying on
    * non-ANSI NULL-on-out-of-bounds — safe under
    * spark.sql.ansi.enabled=true. */
  private def signBucket(arr: Column, signDims: Int): Column =
    (0 until signDims)
      .map(i =>
        when(size(arr) > i && element_at(arr, i + 1) > 0, lit(1L << i))
          .otherwise(0L))
      .reduce(_ + _)

  /** Sign-bucket ANN over (vec_id, v): each of the `nProbes` probes
    * searches its own bucket plus the buckets one flipped bit away for
    * bits 0 until `flips` (multi-probe LSH). Still an equi-join: the
    * probe side explodes to flips+1 candidate bucket ids, the corpus side
    * never fans out, and cost stays bounded by bucket sizes. */
  private def bucketSearch(e: DataFrame, signDims: Int, nProbes: Int,
      k: Int, flips: Int, score: Column = cosine("v", "pv")): DataFrame = {
    val cand = lowest(e, nProbes, "pid", "pv")
      .withColumn("cb", signBucket(col("pv"), signDims))
      .withColumn("cb", explode(array(col("cb") +: (0 until flips)
        .map(b => col("cb").bitwiseXOR(lit(1L << b))): _*)))
    search(e.withColumn("bucket", signBucket(col("v"), signDims)), cand, k,
      score)
  }

  /** `knn_bucketed`: ANN — probes (the `nProbes` lowest vec_ids) matched
    * only against vectors in the same sign-bucket. The bucket equi-join
    * replaces the all-pairs cross join: at 100 TB this is one shuffle on
    * bucket id instead of a broadcast scan per probe batch. */
  def knnBucketed(spark: SparkSession, dir: String, signDims: Int = 8,
      nProbes: Int = 5, k: Int = 5): DataFrame =
    bucketSearch(vectors(spark, dir), signDims, nProbes, k, flips = 0)

  /** `knn_multiprobe`: [[knnBucketed]] with the IVF `nprobe` lever — each
    * probe also searches every bucket at hamming distance 1, the standard
    * multi-probe LSH recall fix: a near neighbor on the other side of one
    * hyperplane is no longer missed. Recall grows from 1 bucket to
    * signDims+1 buckets of candidates per probe at the same shuffle
    * shape. */
  def knnMultiProbe(spark: SparkSession, dir: String, signDims: Int = 8,
      nProbes: Int = 5, k: Int = 5): DataFrame =
    bucketSearch(vectors(spark, dir), signDims, nProbes, k, flips = signDims)

  /** IVF search over a (cell, cv) centroid table: `assigned` holds every
    * corpus vector in its argmin cell (`bucket`), and each of the
    * `nProbes` lowest vec_ids of `probesOf` searches its `nCells` nearest
    * cells — the assigned cell is always among them, and nCells = the
    * number of cells is the exhaustive scan (ExtensionSpec). */
  private def ivfSearch(probesOf: DataFrame, assigned: DataFrame,
      cents: DataFrame, nProbes: Int, k: Int, nCells: Int): DataFrame =
    search(assigned, nearestCells(lowest(probesOf, nProbes, "pid", "pv"),
        "pid", "pv", cents, nCells)
      .select(col("pid"), col("pv"), col("cell").as("cb")), k)

  private def assign(e: DataFrame, cents: DataFrame): DataFrame =
    nearestCells(e, "vec_id", "v", cents, 1)
      .select(col("vec_id"), col("v"), col("cell").as("bucket"))

  /** `knn_ivf`: ANN with a LEARNED coarse quantizer — k-means centroids
    * (Spark ML, fixed seed + bounded iterations) instead of fixed ones:
    * actual IVF, where cells adapt to the data distribution and occupancy
    * stays balanced even when the corpus doesn't straddle the axes. The
    * search is [[knnIvfFixed]]'s over the learned table. Like PageRank,
    * the k-means fixpoint is iterative and float-order-sensitive → no
    * DuckDB oracle by design; ScalaTest pins the invariants instead
    * (every returned score is brute-force-exact; probing every cell is
    * the exhaustive scan).
    *
    * At 100 TB: training runs on a seeded SAMPLE ([[ivfTrainingSet]]) —
    * k-means needs only enough rows to place `nClusters` centroids, not
    * the corpus — and the full table is touched once by the argmin
    * assignment against the broadcast centroid table. Both the table and
    * the assignment are builders, so a warm call fits nothing and assigns
    * nothing; an empty corpus fits no model and has no cells. */
  def knnIvf(spark: SparkSession, dir: String, nClusters: Int = 16,
      nProbes: Int = 5, k: Int = 5, nCells: Int = 3): DataFrame = {
    lazy val e = vectors(spark, dir) // read only when a builder runs
    val cents = BuilderCache.memo(spark, s"ivfCentroids:$dir:$nClusters") {
      import spark.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val train = ivfTrainingSet(e, nClusters)
      val centres = if (train.isEmpty) Array.empty[Array[Double]]
        else new KMeans().setK(nClusters).setSeed(7L).setMaxIter(5)
          .setFeaturesCol("fv")
          .fit(train.withColumn("fv", array_to_vector(col("v"))))
          .clusterCenters.map(_.toArray)
      centres.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("cell", "cv")
    }
    val assigned = BuilderCache.memo(spark, s"ivfAssigned:$dir:$nClusters") {
      assign(e, cents)
    }
    ivfSearch(assigned, assigned, cents, nProbes, k, nCells)
  }

  /** `knn_ivf_fixed`: the hash-checkable twin of [[knnIvf]] — the SAME
    * IVF search, but with FIXED centroids (the vectors of the first
    * `nClusters` vec_ids, cell id = that vec_id) instead of learned
    * k-means means. No iterative float state → every step is
    * SQL-expressible and the DuckDB oracle replays the whole pipeline
    * bit-for-bit, moving the IVF candidate-generation + scoring machinery
    * into the hash gate. The cell ranking runs on the codegen'd
    * [[graft.functions.VectorExpressions]] folds whose index order the
    * DuckDB `list_transform` oracles are proven to match.
    *
    * Scale posture: the centroid table is a `limit(nClusters)` bounded
    * relation (broadcast-safe by maxRows), the argmin is a per-vector
    * window over nClusters rows, and the candidate join fans each vector
    * out to at most the probes sharing its cell. */
  def knnIvfFixed(spark: SparkSession, dir: String, nClusters: Int = 16,
      nProbes: Int = 5, k: Int = 5, nCells: Int = 3): DataFrame = {
    val e = vectors(spark, dir)
    val cents = lowest(e, nClusters, "cell", "cv")
    ivfSearch(e, assign(e, cents), cents, nProbes, k, nCells)
  }

  /** `dedup_embedding`: embedding-cosine near-duplicate pairs — all pairs
    * sharing a sign-bucket (the LSH-style candidate filter: near-identical
    * vectors agree on every leading-dimension sign), scored by exact
    * cosine, highest first. The bucket equi-join bounds the pairwise work
    * per bucket exactly as MinHash banding does for text
    * ([[Dedup.dedupMinhash]]); the hot-bucket guard drops degenerate
    * cells (e.g. a mass of all-equal or all-zero vectors collapsing into
    * one sign pattern) whose in-bucket all-pairs join would go quadratic.
    * The sf0.1 maximum bucket is 16, so the default never fires on
    * oracle-checked data. */
  def dedupEmbedding(spark: SparkSession, dir: String, signDims: Int = 8,
      limit: Int = 100, maxBucket: Int = 1000): DataFrame = {
    val e = BuilderCache.memo(spark, s"embBuckets:$dir:$signDims:$maxBucket") {
      Dedup.dropHotBuckets(vectors(spark, dir)
        .withColumn("bucket", signBucket(col("v"), signDims)),
        Seq("bucket"), maxBucket)
    }
    e.as("x").join(e.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("p1"), col("y.vec_id").as("p2"),
        cosine("x.v", "y.v").as("cosine"))
      .orderBy(desc("cosine"), asc("p1"), asc("p2"))
      .limit(limit)
  }

  /** `semdedup_fixed`: semantic deduplication over the embedding space —
    * the SemDeDup scheme (Abbas et al. 2023, arXiv:2303.09540, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the corpus, then WITHIN each cluster mark
    * every vector that sits within cosine τ of a higher-priority vector
    * as a semantic duplicate, keeping one representative per
    * neighborhood. Complements the exact/near-dup text tier
    * ([[graft.operators.Dedup]]) and [[dedupEmbedding]]'s top-pairs
    * report: this is the per-vector KEEP/DROP verdict a curation
    * pipeline applies, plus `max_cos` — the vector's semantic-redundancy
    * score (its closest in-cluster neighbor), the quantity SemDeDup
    * thresholds on. Priority = lower vec_id (deterministic, the repo's
    * min-id survivor convention, [[Dedup.dedupSurvivors]]); clustering =
    * the [[knnIvfFixed]] fixed centroids and argmin (the three
    * fixed-centroid queries pin each other), so every step is
    * SQL-expressible and the DuckDB oracle replays the verdicts
    * bit-for-bit. A vector with no cluster peer keeps `max_cos` NULL and
    * `keep = true`.
    *
    * Scale posture: the published algorithm's whole point is that
    * clustering BOUNDS the quadratic — pairwise cosine runs only inside
    * a cell, so cost is Σ|cell|², and `nClusters` is the scale knob
    * (SemDeDup uses 50k clusters on LAION-440M; cells stay ~10⁴ rows at
    * any corpus size when nClusters grows with N — here 16 cells match
    * the test-scale knn_ivf_fixed topology). The cell equi-join carries
    * no broadcast hint (cell population is data-dependent); the
    * [[Dedup.dropHotBuckets]] guard excludes degenerate cells (>
    * `maxCell` rows, e.g. a mass of identical vectors collapsing into
    * one cell) from pair generation entirely — their members emit
    * `max_cos` NULL / `keep = true`, the same conservative lower-bound
    * semantics as [[dedupEmbedding]]'s guard: an oversized cell demands
    * a finer quantizer, not a quadratic join. sf0.1 max cell is 148, so
    * the default never fires on oracle-checked data (GuardSpec feeds the
    * degenerate case). */
  def semdedupFixed(spark: SparkSession, dir: String, nClusters: Int = 16,
      tau: Double = 0.4, maxCell: Int = 1000): DataFrame =
    semdedupFixedOf(vectors(spark, dir), nClusters, tau, maxCell)

  /** [[semdedupFixed]] over any (vec_id, v) relation — the
    * fixture-testable form (callers must have
    * [[graft.functions.VectorExpressions]] registered). */
  private[graft] def semdedupFixedOf(e: DataFrame, nClusters: Int = 16,
      tau: Double = 0.4, maxCell: Int = 1000): DataFrame = {
    val assigned = nearestCells(e, "vec_id", "v",
        lowest(e, nClusters, "cell", "cv"), 1)
      .select(col("vec_id"), col("v"), col("cell"))
    val cool = Dedup.dropHotBuckets(assigned, Seq("cell"), maxCell)
    // both orientations of each in-cell pair, so the per-vector max and
    // the lower-id-peer drop test are one groupBy over the same stream
    val pairs = cool.as("a")
      .join(cool.select(col("cell"), col("vec_id").as("pid"),
        col("v").as("pv")).as("b"),
        col("a.cell") === col("b.cell") && col("vec_id") =!= col("pid"))
      .select(col("vec_id"), col("pid"), cosine("v", "pv").as("cosine"))
    val perVec = pairs.groupBy("vec_id")
      .agg(max(col("cosine")).as("max_cos"),
        max(when(col("pid") < col("vec_id") && col("cosine") >= tau, 1)
          .otherwise(0)).as("drp"))
    assigned.join(perVec, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("max_cos"),
        (coalesce(col("drp"), lit(0)) === 0).as("keep"))
      .orderBy("vec_id")
  }

  /** `cluster_stats`: the semantic-cluster audit over the embedding
    * space — assign every vector to its nearest of the [[knnIvfFixed]]
    * fixed centroids (same argmin, so the two queries pin each other),
    * then per cluster: size, mean cosine-to-centroid (the cluster's
    * coherence), and the label MODE with its purity (how well
    * unsupervised cells recover the labeled classes — the topic-balance
    * report a curation pipeline reads before up/down-weighting semantic
    * regions, and the standard external cluster-quality check while
    * labels are available). Mean cosine avoids cross-row float
    * accumulation entirely: each cosine rounds once, quantizes to an
    * exact micro-unit long, sums exactly (order-free), and divides back
    * out once — bit-stable under any partitioning, replayed exactly by
    * the DuckDB oracle.
    *
    * Scale posture: the centroid table is `limit(nClusters)` bounded →
    * broadcast-safe by maxRows; assignment is one narrow pass with a
    * vec_id-keyed argmin window (no corpus shuffle beyond it); both
    * rollups are partial-aggregated shuffles keyed by cell — at most
    * nClusters × nLabels rows survive the map side. */
  def clusterStats(spark: SparkSession, dir: String,
      nClusters: Int = 16): DataFrame = {
    val e = vectors(spark, dir, col("label").cast("long").as("label"))
    val assigned = nearestCells(e, "vec_id", "v",
        lowest(e, nClusters, "cell", "cv"), 1)
      .select(col("vec_id"), col("label"), col("cell"),
        round(cosine("v", "cv") * 1000000).cast("long").as("cos_micro"))
    val perCell = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum("cos_micro").as("sum_micro"))
    val lrk = Window.partitionBy("cell").orderBy(desc("ln"), asc("label"))
    val top = assigned.groupBy("cell", "label")
      .agg(count(lit(1)).as("ln"))
      .withColumn("lrk", row_number().over(lrk))
      .filter(col("lrk") === 1)
      .select(col("cell"), col("label").as("top_label"),
        col("ln").as("top_label_n"))
    perCell.join(top, "cell")
      .select(col("cell"), col("n_vecs"),
        round(col("sum_micro").cast("double")
          / (col("n_vecs") * 1000000L).cast("double"), 6).as("mean_cos"),
        col("top_label"), col("top_label_n"),
        round(col("top_label_n") / col("n_vecs").cast("double"), 6)
          .as("purity"))
      .orderBy("cell")
  }

  /** Quantizer training set: a seeded 10% sample of the vector table —
    * centroid placement needs sampling density, not the corpus, so the
    * k-means iterations scan ~N/10 rows instead of N per pass (at 100 TB
    * the fraction shrinks further; 256 cells train fine on millions of
    * rows, never billions). Falls back to the full table only when the
    * sample is too thin to separate `nClusters` centroids (tiny sf dirs),
    * so small-scale correctness tests and large-scale cost see the same
    * code path. Seeded → deterministic within a session; knn_ivf is
    * invariant-tested (no cross-engine oracle), so sample-vs-full changes
    * centroids, never the score/assignment invariants. */
  private[graft] def ivfTrainingSet(e: DataFrame, nClusters: Int,
      fraction: Double = 0.1): DataFrame = {
    val sample = e.sample(withReplacement = false, fraction, seed = 7L)
    if (sample.count() >= nClusters.toLong * 8) sample else e
  }

  /** `embed_quantize`: symmetric int8 quantization per embedding — the
    * compression step a 100 TB ANN index applies before storage (4×
    * smaller than float32, SIMD-friendly dot products): per vector,
    * scale = 127/max|x| and q_i = floor(x_i·scale + 0.5), so values
    * span [-127, 127] with the sign structure preserved. Declared
    * output is the quantization SUMMARY (scale, q_min/q_max/q_sum) of
    * [[quantizedVectors]] — exact integers plus one rounded double,
    * chosen so DuckDB replays it bit-for-bit: max is order-insensitive,
    * 127/maxabs is a single correctly-rounded division, each
    * x·scale+0.5→floor chain is three exact-deterministic double ops, and
    * the q-sums are integer arithmetic. The full q-vector stays internal
    * (same contract as [[graft.operators.Multimodal]]'s float features).
    *
    * Scale posture: embarrassingly parallel — scan→project, zero
    * shuffles except the deterministic output sort; the quantized
    * array would be written columnar next to the bucket id, and the
    * reconstruction bound (|x − q/scale| ≤ 1/(2·scale), ExtensionSpec)
    * is the standard scalar-quantization recall argument. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    quantizedVectors(spark, dir)
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        expr("CAST(array_min(qs) AS BIGINT)").as("q_min"),
        expr("CAST(array_max(qs) AS BIGINT)").as("q_max"),
        expr("aggregate(qs, CAST(0 AS BIGINT), (a, q) -> a + q)").as("q_sum"))
      .orderBy("vec_id")

  /** The quantized vectors themselves (internal form for tests and
    * downstream index builds): (vec_id, v, scale, qs). */
  private[graft] def quantizedVectors(spark: SparkSession,
      dir: String): DataFrame =
    vectors(spark, dir)
      .select(col("vec_id"), col("v"),
        expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))")
          .as("maxabs"))
      .withColumn("scale",
        when(col("maxabs") > 0, lit(127.0) / col("maxabs")).otherwise(0.0))
      .select(col("vec_id"), col("v"), col("scale"),
        expr("transform(v, x -> CAST(floor(x * scale + 0.5D) AS BIGINT))")
          .as("qs"))

  /** `knn_quantized`: ANN over the int8-quantized vectors — the query
    * path that justifies [[embedQuantize]] at 100 TB: candidates are
    * scored by the INTEGER dot product alone, because in
    * cos ≈ Σ(qa/sa)(qb/sb) / (|qa|/sa · |qb|/sb) the scales cancel —
    * quantized cosine = Σqa·qb / (√Σqa² · √Σqb²), pure int64 folds plus
    * two square roots. A production index stores only (bucket, qs):
    * 4× smaller scans, SIMD integer dots, no float payload. The
    * [[knnBucketed]] search over the quantized vectors: the sign bucket
    * is computed FROM the quantized values (quantization preserves
    * signs), so the float vector is never needed after the one-time
    * quantization pass. Scores approximate exact cosine within the
    * scalar-quantization error (ExtensionSpec pins the tolerance and
    * top-k recall vs the exact scorer) — but the quantized computation
    * ITSELF is deterministic end-to-end (the quantization chain is
    * engine-exact, see [[embedQuantize]]; the dots are pure integer
    * arithmetic), so unlike knn_ivf this path is DuckDB oracle-checked. */
  def knnQuantized(spark: SparkSession, dir: String, signDims: Int = 8,
      nProbes: Int = 5, k: Int = 5): DataFrame = {
    val sumSq = (c: String) =>
      expr(s"aggregate($c, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")
        .cast("double")
    bucketSearch(quantizedVectors(spark, dir)
        .select(col("vec_id"), col("qs").as("v")),
      signDims, nProbes, k, flips = 0,
      cosineOf(expr("aggregate(zip_with(v, pv, (a, b) -> a * b), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)").cast("double"),
        sumSq("v"), sumSq("pv")))
  }
}

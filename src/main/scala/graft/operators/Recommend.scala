package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's similarity / recommendation tier (SURVEY.md §2.3-§2.7):
  * collaborative filtering (3-hop join), Jaccard product similarity, and
  * the blended recommender (`tp1/knoledge_graphs/recommendation.py`).
  *
  * Seed-customer convention: the reference parameterizes by `customer_id`;
  * for a deterministic declared query we derive the seed as the minimum
  * customer id present in the purchase graph (SURVEY §7.3 step 3). The
  * underlying builders take any seed set.
  *
  * Scale posture: only provably bounded relations carry a broadcast
  * hint (the 1-row seed scalar; the seed's products, bounded by catalog
  * size). Data-dependent sets — the customers sharing a seed product —
  * join unhinted on their natural equi-keys and AQE picks broadcast
  * only when the runtime size fits.
  * The all-pairs Jaccard expansion is the one quadratic-risk operator:
  * it is bounded per-customer by basket size, and the hot-customer
  * guard in [[jaccardPairsFrom]] (maxBasket, broadcast anti-join before
  * the basket collect) caps the corner AQE cannot split.
  */
object Recommend {

  private def seedOf(b: DataFrame): DataFrame =
    b.agg(min("customer_id").as("seed_cid"))

  /** J3+A2 `collab_topk`: 3-hop collaborative filtering — customers who
    * interacted with the seed's products, what else did they interact
    * with; score = distinct similar customers per candidate
    * (ref: `tp2/app/main.py:144-153`; theta filters c1<>c2, p1<>p2).
    */
  def collabTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val b = Relational.bipartite(spark, dir)
    collabFrom(b, seedOf(b), k)
  }

  /** Same 3-hop ranking for an explicit customer id (the `/recs?
    * strategy=similarity&customer_id=` path, `tp2/app/main.py:144-153`). */
  def collabTopkFor(spark: SparkSession, dir: String, customerId: Long,
      k: Int = 10): DataFrame = {
    val b = Relational.bipartite(spark, dir)
    collabFrom(b, spark.range(1).select(lit(customerId).as("seed_cid")), k)
  }

  private def collabFrom(b: DataFrame, seed: DataFrame, k: Int): DataFrame = {
    val p1s = b.join(broadcast(seed), col("customer_id") === col("seed_cid"))
      .select(col("product_id").as("p1"))
    // distinct by construction: b is a distinct incidence and p1s a
    // distinct product list, so b ⋈ p1s never duplicates a (c2, p1) pair
    // — no Distinct shuffle needed. p1s (one customer's basket) is
    // data-dependent — small in practice but NOT provably bounded, so it
    // carries no broadcast hint (bounded-relation rule); AQE elects
    // broadcast at runtime when it measures small. Only the 1-row `seed`
    // aggregate (maxRows = 1) may force its strategy.
    val c2s = b.crossJoin(broadcast(seed))
      .join(p1s, col("product_id") === col("p1"))
      .filter(col("customer_id") =!= col("seed_cid"))
      .select(col("customer_id").as("c2"), col("p1"))
    // c2s (customers sharing any seed product) is DATA-DEPENDENT and
    // unbounded — one popular seed product makes it a large fraction of
    // the customer base, so a forced broadcast would OOM at scale. The
    // join key is a plain equi-key: leave the strategy to AQE, which
    // broadcasts only when the runtime size actually fits.
    val paths = c2s
      .join(b, col("c2") === col("customer_id"))
      .filter(col("product_id") =!= col("p1"))
    paths.groupBy(col("product_id"))
      .agg(countDistinct(col("c2")).as("score"))
      .orderBy(desc("score"), asc("product_id"))
      .limit(k)
  }

  /** A10 `jaccard_topk` building block: per unordered product pair,
    * |customers(a) ∩ customers(b)| / |customers(a) ∪ customers(b)|
    * (ref: `tp1/knoledge_graphs/recommendation.py:114-133`), as pure
    * joins+aggs — intersection via self-join on customer, union via
    * inclusion-exclusion on exact set sizes. All inputs are exact longs;
    * the division is one correctly-rounded double op → engine-identical.
    */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsFrom(Relational.bipartite(spark, dir))

  /** Same computation over any (customer_id, product_id) incidence —
    * shared with [[graft.rec.Engine]], whose incidence may also include
    * event-derived interactions (`graph.py:55-66`). Registered in
    * [[graft.model.BuilderCache]] keyed by the incidence plan: the basket
    * pairing is the expensive part and the SAME frame serves jaccard_topk
    * and the serving Engine's per-customer similarity (where one shared
    * materialization amortized over many requests beats per-request
    * seed-anchoring). The one-shot declared blends stopped scanning it in
    * round 11 — they enumerate only (seed, other) co-memberships
    * ([[seedStrategyScores]]), the full frame being the measured sf10
    * scratch wall for a single-seed answer.
    *
    * Shape: per-customer baskets (groupBy + collect_set) expanded to
    * unordered pairs IN-ROW ([[Dedup.bucketPairs]]) — one shuffle, vs the
    * old customer self-join's sort-merge of the incidence against itself.
    * The hot-customer guard ([[Dedup.dropHotBuckets]], broadcast
    * anti-join) excludes customers with more than `maxBasket` products
    * BEFORE anything is collected, so one degenerate customer can never
    * pin an executor on a |basket|² pair expansion (the 100 TB skew
    * corner AQE cannot split — a single groupBy key). When the guard
    * fires, `common` (and so jaccard) is a LOWER BOUND for pairs
    * involving hot customers while `sz` stays exact — the same
    * honesty contract as [[Dedup.ngramJaccard]]'s maxDf. The sf0.1
    * maximum basket is 105, so the default never fires on oracle-checked
    * data (GuardSpec exercises the degenerate corner).
    *
    * Per-product degrees ride ALONG the pair expansion (baskets hold
    * `struct(product_id, sz)`, the pair aggregate emits max(s1)/max(s2) —
    * constant within a (p1,p2) group) instead of being joined onto the
    * pair aggregate afterwards. Joining after costs two extra
    * shuffles+sorts of the pair aggregate, the one frame whose row count
    * grows superlinearly when the catalog grows with the data
    * (SCALING.md's sf1 audit: 231k rows at sf0.1 → 11.5M at sf1) — and
    * AQE does NOT rescue those joins at scale: the `sizes` aggregate's
    * own exchange already satisfies the join distribution, so the stage
    * AQE measures is the PARTIAL-aggregate shuffle, inflated by
    * per-map-partition duplicates past the broadcast threshold even
    * though the final aggregate is tiny (measured at sf1: both joins
    * stayed sort-merge). Attaching `sz` upstream joins it to the
    * incidence instead — linear in |b|, the smaller frame at any scale
    * where pairing matters. `sizes` is computed on the FULL incidence
    * before the guard, so degrees stay exact when the guard fires. */
  def jaccardPairsFrom(b: DataFrame, maxBasket: Int = 1000): DataFrame =
    graft.model.BuilderCache.memoByPlan(b.sparkSession,
        s"jaccardPairs:$maxBasket", b) {
      val sizes = b.groupBy("product_id").agg(count(lit(1)).as("sz"))
      // Unhinted join (sizes is unbounded — one row per product; the
      // bounded-relation rule bans forcing it past AQE's measurement).
      val baskets = Dedup.dropHotBuckets(b, Seq("customer_id"), maxBasket)
        .join(sizes, "product_id")
        .groupBy("customer_id")
        .agg(sort_array(collect_set(struct(col("product_id"), col("sz"))))
          .as("ds"))
        .filter(size(col("ds")) >= 2)
      baskets
        .select(Dedup.bucketPairs((x, y) =>
          s"struct($x.product_id AS p1, $y.product_id AS p2, " +
            s"$x.sz AS s1, $y.sz AS s2)").as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).as("common"),
          max(col("pr.s1")).as("s1"), max(col("pr.s2")).as("s2"))
        .select(col("p1"), col("p2"),
          (col("common") / (col("s1") + col("s2") - col("common")))
            .as("jaccard"))
    }

  /** `jaccard_topk`: top-k most-similar product pairs, deterministic
    * tie-break (score desc, then pair ids asc — T2 precedent,
    * `recommendation.py:221`). */
  def jaccardTopk(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    jaccardPairs(spark, dir)
      .select(col("p1"), col("p2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(desc("jaccard"), asc("p1"), asc("p2"))
      .limit(k)

  /** `jaccard_lsh`: the LSH tier for catalog-pair similarity — the
    * 100 TB path SCALING.md's `jaccard_sim` audit points to. The exact
    * operator's aggregate OUTPUT grows superlinearly when the catalog
    * grows with the data (measured exp 1.39 on the sf0.1→sf1 step);
    * this variant never materializes all pairs. MinHash each product's
    * CUSTOMER set (the same k=16 permutation family as
    * [[Dedup.minhashSignaturesOf]], element hash =
    * [[graft.operators.TextOps.h32]] of the decimal customer id), band
    * into 8 bands of 2 rows, bucket-join for candidates
    * ([[Dedup.minhashCandidatesOf]] — hot-bucket-guarded, in-row pair
    * expansion), then compute EXACT Jaccard only on candidates via the
    * same inclusion–exclusion arithmetic as [[jaccardPairsFrom]]. Total
    * work is one signature pass over the incidence plus
    * Σ|customers(p)| over candidate products — linear in the incidence,
    * never |catalog|². Candidate recall follows the standard banding
    * curve P(collide) = 1−(1−j²)⁸; every emitted score is exact, so a
    * surfaced pair is never wrong, only a low-j pair possibly absent.
    * All joins unhinted (candidates and sizes are data-dependent —
    * bounded-relation rule); AQE elects broadcast when they measure
    * small. Max bucket at tested sfs is 70 (sf0.1), so the default
    * guard never fires on oracle-checked data. */
  def jaccardLsh(spark: SparkSession, dir: String, k: Int = 100,
      maxBucket: Int = 1000): DataFrame =
    jaccardLshFrom(Relational.bipartite(spark, dir), k, maxBucket)

  /** Same computation over any (customer_id, product_id) incidence —
    * the testable core (property specs feed random incidences). */
  def jaccardLshFrom(b: DataFrame, k: Int = 100,
      maxBucket: Int = 1000): DataFrame =
    jaccardLshWith(b, k, maxBucket, Dedup.minhashCandidatesOf(_, _))

  /** `jaccard_lsh_2l`: the TWO-LEVEL-AGGREGATION experiment variant of
    * [[jaccardLsh]] (round-12 verdict item 2, the unrun half of the r11
    * sf30 diagnosis). Identical semantics and output by construction —
    * only the bucket-collect aggregation differs
    * ([[Dedup.minhashCandidatesTwoLevelOf]]: salted partial collect →
    * merge, two smaller hash states instead of one wide one) — so it
    * shares `jaccard_lsh`'s DuckDB oracle verbatim and A/Bs against it
    * under `tools/Profile`'s per-stage table. Kept as a declared
    * query (not a branch) so the driver hash-checks both shapes every
    * round; SCALING.md r13 records the measured verdict. */
  def jaccardLshTwoLevel(spark: SparkSession, dir: String, k: Int = 100,
      maxBucket: Int = 1000): DataFrame =
    jaccardLshTwoLevelFrom(Relational.bipartite(spark, dir), k, maxBucket)

  private[graft] def jaccardLshTwoLevelFrom(b: DataFrame, k: Int = 100,
      maxBucket: Int = 1000): DataFrame =
    jaccardLshWith(b, k, maxBucket, Dedup.minhashCandidatesTwoLevelOf(_, _))

  private def jaccardLshWith(b: DataFrame, k: Int, maxBucket: Int,
      candidates: (DataFrame, Int) => DataFrame): DataFrame = {
    val hashed = b.select(col("product_id").as("doc_id"),
      graft.operators.TextOps.h32(col("customer_id").cast("string")).as("h"))
    // sizes ride the signature aggregation (one groupBy(product) shuffle
    // of the incidence instead of two on the same key — round 17, guide
    // §2.4): `hashed` has exactly one row per incidence row, so the
    // count(1) alongside the 16 mins IS |customers(p)|, the same value
    // the former b.groupBy(product).count() pass produced. Round 18
    // extends the ride through the banding: candidate pairs arrive as
    // (p1, p2, s1, s2), so the inclusion–exclusion denominator needs no
    // join back onto the signature frame — the former `sizes`
    // projection re-instantiated the whole signature aggregation (its
    // exchange was reused but the 16-min+count final aggregate re-ran —
    // a duplicate pass over the shuffled incidence, measured as a
    // second ~9 task-s 32-task stage at sf0.1) and re-shuffled the pair
    // aggregate twice more.
    // The counted signature frame is session-memoized keyed by the
    // incidence plan (round 18): jaccard_lsh and jaccard_lsh_2l sketch
    // the SAME incidence — the md5 h32 pass + 16-permutation aggregation
    // re-ran per query per run (measured ~22 task-s / 0.8 s wall at
    // sf0.1, the largest CPU stage of both) while the document-LSH twin
    // ([[Dedup.minhashBands]]) has memoized its signatures since round
    // 10. One catalog-sized cached frame now serves both variants'
    // candidate generation; plan-inspection sweeps bypass the memo.
    // Same registry-scope contract as reachHopsOf's edge memo: keyed by
    // the incidence plan — one entry on the declared path, one per
    // fixture frame in test sessions (dropped with the session).
    val sig = graft.model.BuilderCache.memoByPlan(
        b.sparkSession, "lshSig", b) {
      Dedup.minhashOfHashedCounted(hashed)
    }
    val cand = candidates(sig, maxBucket)
    // The two scoring joins keep their r17 equi-join shape: a per-
    // customer basket-array variant (groupBy(customer).collect_set +
    // array_contains membership) was built and measured this round —
    // equal within noise at sf0.1 (both ~2.3–2.6 s solo) — and
    // REJECTED on the 100 TB posture: the collect is an unguarded
    // per-customer array (one degenerate customer pins a task, the
    // skew corner AQE cannot split), while the (p2, customer)
    // equi-join stays AQE-skew-splittable. `sz` riding the candidates
    // is what removed the former sizes joins; (s1, s2) are constant
    // within a (p1, p2) group, so max() just carries them through the
    // count aggregation.
    val common = cand
      .join(b.as("x"), col("p1") === col("x.product_id"))
      .select(col("p1"), col("p2"), col("s1"), col("s2"),
        col("x.customer_id").as("cid"))
      .join(b.as("y"), col("p2") === col("y.product_id") &&
        col("cid") === col("y.customer_id"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("common"),
        max(col("s1")).as("s1"), max(col("s2")).as("s2"))
    common
      .select(col("p1"), col("p2"),
        round(col("common") / (col("s1") + col("s2") - col("common")),
          6).as("jaccard"))
      .orderBy(desc("jaccard"), asc("p1"), asc("p2"))
      .limit(k)
  }

  /** The seed-customer strategy inputs shared by [[recBlend]] and
    * [[recBlendFixed]] (and mirrored by both DuckDB oracles): seed
    * products of the min purchasing customer, the per-candidate
    * co-occurrence score Σ over seeds of directed pair counts, and the
    * per-candidate Jaccard score Σ over seeds of per-seed similarity.
    * One definition so the two blends (and a future tie-break or guard
    * change) cannot drift apart.
    *
    * The Jaccard side is SEED-ANCHORED (round 11, following its own
    * oracle's rewrite): only (seed, other) basket co-memberships are
    * enumerated — the previous formulation built the FULL
    * [[jaccardPairs]] frame (grows superlinearly when the catalog grows
    * with the data; the dominant footprint of the sf10 rec_blend_fixed
    * dump) and then kept only the rows touching seeds. Value-identical
    * by construction: a (seed, other) pair contributes
    * common/(sz_s+sz_o−common) in both shapes, pairs with no common
    * customer contribute nothing, and the hot-customer guard and
    * full-incidence degrees are applied identically ([[jaccardPairsFrom]]
    * discipline: guard BEFORE pairing, `sz` on the unguarded incidence).
    * The size joins that were a measured sort-merge hazard on the full
    * pair aggregate (SCALING.md sf1 audit) are safe here: `commons` is
    * bounded by |seed basket| × co-purchasers, and AQE elects broadcast
    * when it measures small. */
  private def seedStrategyScores(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // All three fragments are session-memoized (round 18): rec_blend
    // and rec_blend_fixed each rebuilt the identical seed basket,
    // co-occurrence score and seed-anchored jaccard score per RUN, and
    // isolated profiling (r17, re-confirmed this round) shows the blend
    // family's residual cost is Catalyst planning of the large shared
    // tree over already-cached builders — memoizing the fragments both
    // stops the recomputation and collapses each consumer's logical
    // plan to three cached leaves. Same discipline as
    // coocCounts/docTf/jaccardPairs; plan-inspection sweeps bypass the
    // memo and see today's full tree.
    val b = Relational.bipartite(spark, dir)
    val seed = seedOf(b)
    // seeds (one customer's basket) is data-dependent, not provably
    // bounded — no broadcast hint (bounded-relation rule); AQE elects
    // broadcast at runtime. Only the 1-row `seed` aggregate may force.
    val seeds = graft.model.BuilderCache.memo(spark, s"recSeeds:$dir") {
      b.join(broadcast(seed), col("customer_id") === col("seed_cid"))
        .select(col("product_id").as("sp"))
    }
    val cScore = graft.model.BuilderCache.memo(spark, s"recCScore:$dir") {
      Relational.coocCounts(spark, dir)
        .join(seeds, col("src") === col("sp"))
        .groupBy(col("dst").as("product_id"))
        .agg(sum("cnt").as("s_cooc"))
    }
    val jScore = graft.model.BuilderCache.memo(spark, s"recJScore:$dir") {
      val bg = Dedup.dropHotBuckets(b, Seq("customer_id"), 1000)
      val sizes = b.groupBy("product_id").agg(count(lit(1)).as("sz"))
      val commons = bg.join(seeds, col("product_id") === col("sp"))
        .select(col("sp"), col("customer_id").as("cid"))
        .join(bg.select(col("customer_id").as("cid"),
          col("product_id").as("pid")), "cid")
        .filter(col("pid") =!= col("sp"))
        .groupBy("sp", "pid").agg(count(lit(1)).as("common"))
      commons
        .join(sizes.select(col("product_id").as("sp"), col("sz").as("sz1")),
          "sp")
        .join(sizes.select(col("product_id").as("pid"), col("sz").as("sz2")),
          "pid")
        .select(col("pid"),
          (col("common") / (col("sz1") + col("sz2") - col("common")))
            .as("jacc"))
        .groupBy(col("pid").as("product_id"))
        .agg(sum("jacc").as("s_jacc"))
    }
    (seeds, cScore, jScore)
  }

  /** A7+A8+A9+P3+T2 `rec_blend`: the full tp1 blended recommender minus
    * the PPR strategy (oracle-expressible subset; PPR joins the blend in
    * [[graft.algo.PageRank]] and is invariant-tested instead):
    *   - seeds = the seed customer's interacted products
    *     (`recommendation.py:48-51`);
    *   - co-occurrence score = Σ over seeds of directed pair counts
    *     (`recommendation.py:105-112`);
    *   - similarity score = Σ over seeds of per-seed Jaccard
    *     (`recommendation.py:114-133`);
    *   - each strategy max-normalized, max==0 → zeros
    *     (`recommendation.py:190-196`);
    *   - weighted blend cooc 0.4 / similarity 0.3
    *     (`recommendation.py:10-14`), non-positive dropped
    *     (`recommendation.py:209-210`);
    *   - seen products excluded via anti-join (`recommendation.py:66-67`);
    *   - top-N by (-score, product_id) (`recommendation.py:221`).
    * Per-strategy contributions kept as columns, rounded to 6 dp
    * (`api.py:47-48`).
    */
  def recBlend(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (seeds, cScore, jScore) = seedStrategyScores(spark, dir)
    val cand = cScore.join(jScore, Seq("product_id"), "full_outer")
      .select(col("product_id"),
        coalesce(col("s_cooc"), lit(0L)).as("s_cooc"),
        coalesce(col("s_jacc"), lit(0.0)).as("s_jacc"))
      .join(broadcast(seeds), col("product_id") === col("sp"), "left_anti")
    // cached via the registry, so repeat calls — rec_blend and the
    // oracle dump — share one entry
    val candC = graft.model.BuilderCache.ensureCached(spark, "recBlendCand", cand)
    // no PPR strategy: a zero PPR term adds +0.0 to the blend, the same
    // double
    blend(candC.withColumn("s_ppr", lit(0.0)).withColumn("ppr_max", lit(0.0)),
      k).drop("c_ppr")
  }

  /** `rec_blend_fixed`: the COMPLETE tp1 three-strategy blend —
    * co-occurrence + Jaccard + seeded personalized PageRank, the exact
    * arithmetic `graft.rec.Engine.recommend` serves (weights 0.4/0.3/0.3,
    * PPR normalized over its FULL rank vector seeds included
    * `recommendation.py:135-142,190-196`, per-strategy contributions) —
    * with the PPR strategy on the FIXED-iteration fixpoint
    * ([[graft.algo.PageRank.seededRanksFixed]], 8 power steps) instead
    * of the converged one. `rec_blend_full` stays the converged serving
    * path (no oracle by design); THIS variant makes the full blend
    * arithmetic hash-checkable end-to-end: the DuckDB oracle unrolls the
    * same 8 steps and replays the whole blend in one statement. Since the
    * fixed ranks cover every product, the candidate set is all non-seed
    * products (full-outer collapses to left joins from the rank vector).
    */
  def recBlendFixed(spark: SparkSession, dir: String, k: Int = 10,
      iters: Int = 8): DataFrame = {
    val (seeds, cScore, jScore) = seedStrategyScores(spark, dir)
    val pScore = graft.algo.PageRank.seededRanksFixed(spark, dir, iters)
      .select(col("id").as("product_id"), col("rank").as("s_ppr"))
    val cand = pScore
      .join(cScore, Seq("product_id"), "left_outer")
      .join(jScore, Seq("product_id"), "left_outer")
      .select(col("product_id"),
        coalesce(col("s_cooc"), lit(0L)).as("s_cooc"),
        coalesce(col("s_jacc"), lit(0.0)).as("s_jacc"),
        col("s_ppr"))
      .join(broadcast(seeds), col("product_id") === col("sp"), "left_anti")
      // PPR max over the FULL vector (seeds included) — Engine's
      // normalization contract; cooc/jaccard maxes over candidates
      .crossJoin(broadcast(pScore.agg(max("s_ppr").as("ppr_max"))))
    blend(graft.model.BuilderCache.ensureCached(spark, "recBlendFixedCand",
      cand), k)
  }

  /** The tp1 blend weights, co-occurrence / similarity / PPR
    * (`recommendation.py:10-14`). */
  private[graft] val BlendWeights = (0.4, 0.3, 0.3)

  /** The tp1 blend step (`recommendation.py:190-221`) of [[recBlend]],
    * [[recBlendFixed]] and [[graft.rec.Engine.recommend]], over a
    * seed-excluded candidate frame (product_id, s_cooc, s_jacc, s_ppr,
    * ppr_max) that the caller has cached, since both the max aggregate
    * and the normalization scan it. Each strategy is max-normalized
    * (max == 0 → zeros; PPR by `ppr_max`, the max of its full rank
    * vector) and weighted by [[BlendWeights]]; non-positive blends are
    * dropped. Output (product_id, score, c_cooc, c_sim, c_ppr), rounded
    * to 6 dp (`api.py:47-48`), top-k by (-score, product_id). */
  private[graft] def blend(cand: DataFrame, k: Int): DataFrame = {
    val (wCooc, wSim, wPpr) = BlendWeights
    // A8 max-scaling without a single-partition window: the maxes are a
    // partial-aggregated scalar broadcast back over the candidates, so no
    // candidate row ever leaves its partition
    val maxes = cand.agg(max("s_cooc").as("max_cooc"),
      max("s_jacc").as("max_jacc"))
    def weighted(w: Double, s: String, m: String) =
      lit(w) * when(col(m) > 0, col(s) / col(m)).otherwise(0.0)
    cand.crossJoin(broadcast(maxes))
      .select(col("product_id"),
        weighted(wCooc, "s_cooc", "max_cooc").as("wc"),
        weighted(wSim, "s_jacc", "max_jacc").as("ws"),
        weighted(wPpr, "s_ppr", "ppr_max").as("wp"))
      .withColumn("blend", col("wc") + col("ws") + col("wp"))
      .filter(col("blend") > 0)
      .select(col("product_id"), round(col("blend"), 6).as("score"),
        round(col("wc"), 6).as("c_cooc"), round(col("ws"), 6).as("c_sim"),
        round(col("wp"), 6).as("c_ppr"))
      .orderBy(desc("score"), asc("product_id"))
      .limit(k)
  }
}

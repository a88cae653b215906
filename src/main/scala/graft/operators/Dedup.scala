package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.Fixpoint
import graft.model.{BuilderCache, Tables}
import graft.operators.TextOps.h32

/** Document deduplication for training-data pipelines (extension surface,
  * SURVEY §7.4 / BASELINE.json north star): exact hash dedup, MinHash+LSH
  * near-dup candidate generation, SimHash fingerprints, and exact n-gram
  * Jaccard. Everything is joins + aggregations over codegen'd expressions —
  * no UDFs — and every hash derives from the md5-based [[TextOps.h32]]
  * primitive, so DuckDB can replay the computation bit-for-bit (the whole
  * tier is oracle-checked, unusual for MinHash implementations).
  *
  * Scale posture (100 TB):
  *   - exact dedup: one shuffle on the 128-bit content hash — the standard
  *     first pass; at petabyte scale the hash groupBy replaces any
  *     pairwise comparison;
  *   - minhash: per-doc signatures are a narrow map + one groupBy(doc);
  *     LSH banding turns O(N²) candidate generation into an equi-join on
  *     (band, signature) — the shuffle is bounded by bucket sizes, and the
  *     hot-bucket guard (drop buckets with > maxBucket docs,
  *     [[dropHotBuckets]]) caps the quadratic corner exactly like a
  *     skew-join salt would: a degenerate bucket (10k byte-identical docs
  *     land every band in one cell) would otherwise go O(bucket²);
  *   - ngram jaccard: the inverted-index self-join is bounded per shingle;
  *     high-document-frequency shingles are dropped first — they carry no
  *     discriminative signal and are exactly the rows that blow up the
  *     self-join (a corpus-wide stop-shingle pairs every doc with every
  *     doc). The drop threshold is CORPUS-RELATIVE (round-10, from the
  *     sf10 DNF finding): `df > max(maxDf, ⌈n_docs/10⁴⌉)` — the classic
  *     0.01 %-of-documents stop rule with an absolute floor, so a fixed
  *     threshold can't silently stop firing as the corpus grows (sf10's
  *     fixed 40-token vocabulary put avg fingerprint df at 371 with max
  *     985, ALL under the old absolute 1000 — 3.22 billion candidate
  *     pairs with the guard dark). Integer arithmetic on both sides
  *     (`(n + 9999) div 10⁴`), so engine and oracle compute the
  *     identical cap at any n.
  * Guard defaults are far above anything the testdata produces (measured
  * sf0.1 maxima: shingle df 25, minhash bucket 12), so guarded and
  * unguarded results agree on every oracle-checked scale; the guards exist
  * for the degenerate corners at corpus scale (GuardSpec exercises them).
  */
object Dedup {

  /** Denominator of the corpus-relative stop-element rule: an element
    * (shingle / winnow fingerprint) present in more than 1-in-10⁴
    * documents is boilerplate at any scale (the CCNet/MOSS stop-gram
    * intuition). Mirrored as the literal 9999/10000 integer-ceil in the
    * DuckDB oracles — change in lockstep. */
  val RelDfDenom = 10000L

  /** Floor of the corpus-relative df cap (`max(DfFloor, ⌈n/RelDfDenom⌉)`):
    * keeps small corpora — where 1-in-10⁴ rounds to a single document —
    * from dropping every element. Interpolated into the `winnow_pairs`
    * and `ngram_jaccard` oracle SQL (SparkEntry) so a floor change can
    * never silently fork the engine from its oracle. */
  val DfFloor = 100

  /** `dedup_exact`: group by full-content hash, keep the minimum doc_id as
    * the canonical representative (deterministic survivor policy), count
    * duplicates. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("text_hash")

  /** Distinct 3-word shingles per document: (doc_id, sh). Registered in
    * [[BuilderCache]] — the same relation feeds the MinHash signatures
    * AND both scans of [[ngramJaccard]] (sizes + inverted index), so one
    * session materializes the document scan + shingling exactly once. */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    BuilderCache.memo(spark, s"shingles:$dir") {
      shinglesOf(Tables.documents(spark, dir))
    }

  /** [[shingles]] over any (doc_id, text) relation — the un-cached form
    * the per-micro-batch streaming path ([[graft.streaming.CorpusStream]])
    * and the wider-window consumers ([[Corpus.decontaminate]]'s 5-grams)
    * compose. */
  private[graft] def shinglesOf(docs: DataFrame, n: Int = 3): DataFrame =
    // the >= n guard matters: Spark's sequence(0, negative) is a
    // DESCENDING sequence (not empty like DuckDB's range), so an
    // unguarded expression would fabricate shingles for docs shorter
    // than the window; explode drops the guarded empty array (no row —
    // both engines agree a short doc has no shingles).
    // Tokenize ONCE into `t` in a separate projection (the textCleanOf
    // pattern): higher-order-function lambdas are interpreted, so a
    // `split(text)` INSIDE the transform lambda re-splits the whole
    // document per element — O(len²) characters per doc. CollapseProject
    // keeps the projections apart (the alias is non-cheap and referenced
    // more than once), so `t` is computed once per row.
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(array_distinct(expr(
      s"""CASE WHEN size(t) >= $n
         |  THEN transform(sequence(0, size(t) - $n),
         |         i -> concat_ws(' ', slice(t, i + 1, $n)))
         |  ELSE array()
         |END""".stripMargin))).as("sh"))

  /** `winnow_fingerprints`: robust winnowing (Schleimer, Wilkerson &
    * Aiken, SIGMOD'03 — the MOSS fingerprinting scheme): hash every
    * k-token gram, slide a w-gram window, and record each window's
    * MINIMUM hash at its RIGHTMOST minimizing position. The guarantee
    * that makes it the standard local dedup signature: any shared
    * substring of ≥ w+k−1 tokens yields at least one shared
    * fingerprint, while density stays ~2/(w+1) of the gram stream —
    * positional, unlike MinHash's set sketch, so matches localize.
    *
    * Plan shape: positions come from one `posexplode`; the per-window
    * rightmost minimizer is ONE doc-partitioned bounded window frame
    * (CURRENT ROW … w−1 FOLLOWING — never unpartitioned, never
    * unbounded) taking the lexicographic MIN of struct(h, −pos): the
    * struct ordering picks the window's minimum hash first and, among
    * equal hashes, the smallest −pos = the RIGHTMOST position — the
    * winnowing tie rule — so no fan-out join back to the gram relation
    * is needed (round 17: the previous shape exploded each window start
    * w ways and equi-joined the w·|grams| candidates back to grams +
    * one max aggregation — two extra shuffles and a w× intermediate
    * for a value the window operator already sees; plans/r17/
    * winnow_fingerprints_*). Everything is keyed by doc_id —
    * embarrassingly parallel across documents. Docs with fewer than w
    * complete windows emit nothing (no complete window exists;
    * byte-identical short docs belong to `dedup_exact`). */
  def winnowFingerprints(spark: SparkSession, dir: String, k: Int = 3,
      w: Int = 4): DataFrame =
    winnowOf(Tables.documents(spark, dir), k, w)

  private[graft] def winnowOf(docs: DataFrame, k: Int = 3,
      w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (doc_id, pos, h): positioned k-gram hashes — NOT array_distinct
    // (winnowing is positional; repeats are distinct grams)
    // pre-split `t` once per row — same O(len²)-avoidance note as
    // [[shinglesOf]]
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(t) >= $k
           |  THEN transform(sequence(0, size(t) - $k),
           |         i -> concat_ws(' ', slice(t, i + 1, $k)))
           |  ELSE array()
           |END""".stripMargin)))
      // posexplode emits an Int position; the contract (and the
      // DuckDB oracle) is BIGINT
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        h32(col("col")).as("h"))
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val perDoc = Window.partitionBy("doc_id")
    grams
      // min of struct(h, -pos) over the w-row frame = (window-min hash,
      // negated RIGHTMOST position achieving it): struct comparison is
      // lexicographic, so ties on h resolve to the smallest -pos
      .withColumn("mnp",
        min(struct(col("h"), (-col("pos")).as("negpos"))).over(frame))
      .withColumn("np", count(lit(1)).over(perDoc))
      .filter(col("pos") <= col("np") - w) // complete windows only
      .select(col("doc_id"), (-col("mnp.negpos")).as("pos"),
        col("mnp.h").as("fingerprint"))
      .distinct() // adjacent windows often elect the same (pos, hash)
      .orderBy("doc_id", "pos")
  }

  /** `winnow_pairs`: near-duplicate candidates from the winnowed
    * fingerprint SETS — fingerprint-set jaccard via the same guarded
    * inverted-index shape as [[ngramJaccard]], but over a signature
    * ~2/(w+1) the size of the shingle surface (the winnowing density
    * bound), which is exactly why MOSS pairs documents this way at
    * repository scale. Sizes are computed over the UNGUARDED sets
    * (exact); the hot-fingerprint guard — corpus-relative,
    * `df > max(maxDf, ⌈n/10⁴⌉)` with n the fingerprinted-doc count
    * ([[dropHotBucketsRel]]) — drops only pairing mass, so scores are
    * exact for pairs sharing no hot fingerprint and lower bounds
    * otherwise (the [[ngramJaccard]] contract). */
  def winnowPairs(spark: SparkSession, dir: String, k: Int = 3,
      w: Int = 4, limit: Int = 200, maxDf: Int = DfFloor): DataFrame = {
    val sets = BuilderCache.memo(spark, s"winnowSets:$dir:$k:$w") {
      winnowOf(Tables.documents(spark, dir), k, w)
        .select("doc_id", "fingerprint").distinct()
    }
    // The guarded inverted index is memoized like [[ngramJaccard]]'s
    // (round 18): the self-join references it twice, and un-cached each
    // side re-ran the whole guard chain (hot-fingerprint aggregate +
    // broadcast anti-join over the sets cache — two ~6.5 task-s map
    // stages at sf0.1, the query's dominant cost). One cached frame
    // serves both sides; the self-join stays the broadcast shape AQE
    // elects from the measured index size (an explicit repartition was
    // tried first and measured WORSE — it replaced the broadcast join
    // with two non-reused hash exchanges of the index; the sets cache
    // already carries 32-way parallelism into the probe side).
    val nDocs = sets.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_docs"))
    val idx = BuilderCache.memo(spark, s"winnowIdx:$dir:$k:$w:$maxDf") {
      dropHotBucketsRel(sets, Seq("fingerprint"), nDocs, maxDf)
    }
    winnowPairsScored(sets, idx, limit)
  }

  private[graft] def winnowPairsOf(sets: DataFrame, limit: Int,
      maxDf: Int): DataFrame = {
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // n = docs with ≥1 fingerprint (= |sizes|) — the corpus the df
    // fractions are relative to; the oracle counts its sizes CTE
    val nDocs = sizes.agg(count(lit(1)).as("n_docs"))
    val idx = dropHotBucketsRel(sets, Seq("fingerprint"), nDocs, maxDf)
    winnowPairsScored(sets, idx, limit)
  }

  /** Pair scoring over a pre-built (possibly cached) guarded index —
    * the shared core of the declared path (memoized idx) and the
    * fixture path (inline idx). */
  private def winnowPairsScored(sets: DataFrame, idx: DataFrame,
      limit: Int): DataFrame = {
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = idx.as("x").join(idx.as("y"),
        col("x.fingerprint") === col("y.fingerprint") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("p1"), col("y.doc_id").as("p2"))
      .agg(count(lit(1)).as("common"))
    // sizes is corpus-sized (one row per doc) — plain equi-joins, AQE
    // decides (same note as ngramJaccard)
    common
      .join(sizes.as("s1"), col("p1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("p2") === col("s2.doc_id"))
      .select(col("p1"), col("p2"), col("common"),
        round(col("common") /
          (col("s1.sz") + col("s2.sz") - col("common")), 6).as("jaccard"))
      .orderBy(desc("jaccard"), asc("p1"), asc("p2"))
      .limit(limit)
  }

  /** MinHash parameters: k affine permutations of the 32-bit shingle hash
    * modulo a prime. Multipliers must be LARGE (≈p) so aᵢ·h wraps the
    * modulus ~10⁹ times — small multipliers keep the permutations
    * order-correlated (the globally smallest h wins the min for every i,
    * inflating estimates for near-disjoint docs; observed est 0.75 for
    * true jaccard 0.01). aᵢ·h ≤ p·2³² ≈ 4.3·10¹⁸ stays inside Long. */
  val MinhashK = 16
  private val Prime = 1000000007L
  /** aᵢ = 2654435761^(i+1) mod p, bᵢ = 40503^(i+1) mod p — modular POWERS,
    * not multiples: linearly-related multipliers (aᵢ = base·(i+1)) make
    * every permutation share its argmin whenever base·h mod p is small,
    * which inflated one observed pair to est 0.94 vs true jaccard 0.007.
    * The same 16 (a,b) literals are inlined in the DuckDB oracle. */
  private val PermA = Array(654435747L, 953445008L, 666121539L, 916718432L,
    635055555L, 613703214L, 478985632L, 685929885L, 537319864L, 113289140L,
    443904346L, 237508372L, 760536115L, 56448786L, 174558421L, 842614604L)
  private val PermB = Array(40503L, 640493002L, 887878419L, 739353030L,
    15564468L, 407642994L, 764070412L, 143680607L, 495584588L, 662427260L,
    291123970L, 394074373L, 194217892L, 407224614L, 818425391L, 683379637L)
  private def perm(i: Int, h: Column): Column =
    (lit(PermA(i)) * h + lit(PermB(i))) % lit(Prime)

  /** Per-document MinHash signature columns m0..m{k-1}. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(shingles(spark, dir))

  private[graft] def minhashSignaturesOf(sh: DataFrame): DataFrame =
    minhashOfHashed(sh.select(col("doc_id"), h32(col("sh")).as("h")))

  /** MinHash signature over an already-hashed element relation
    * (doc_id, h) — the set being sketched need not be text shingles:
    * [[graft.operators.Recommend.jaccardLsh]] sketches each product's
    * CUSTOMER set with the same permutation family. One groupBy, k mins. */
  private[graft] def minhashOfHashed(hashed: DataFrame): DataFrame = {
    val aggs = (0 until MinhashK).map(i => min(perm(i, col("h"))).as(s"m$i"))
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashOfHashed]] plus the per-doc element count `sz` in the SAME
    * aggregation — for consumers that need exact set sizes alongside the
    * sketch ([[graft.operators.Recommend.jaccardLshWith]]'s
    * inclusion–exclusion scoring): the count rides the one signature
    * shuffle instead of a second full groupBy pass over the element
    * relation (round 17 — the sizes aggregation was a separate
    * incidence-sized shuffle on the same key). */
  private[graft] def minhashOfHashedCounted(hashed: DataFrame): DataFrame = {
    val aggs = (0 until MinhashK).map(i => min(perm(i, col("h"))).as(s"m$i")) :+
      count(lit(1)).as("sz")
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Hot-bucket guard shared by the LSH-style candidate generators: drop
    * every row whose bucket key holds more than `maxBucket` members. The
    * per-bucket counts aggregate to a handful of rows (only degenerate
    * buckets survive the filter), so the exclusion is a broadcast
    * anti-join — no extra shuffle of the big side beyond the count's
    * partial agg. Dropping (vs capping) is the right semantics: a bucket
    * with 10k members is boilerplate/degenerate content whose pairs carry
    * no dedup signal, and exact-hash dedup already covers byte-identical
    * mass. */
  private[operators] def dropHotBuckets(rows: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val hot = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_sz"))
      .filter(col("bucket_sz") > maxBucket)
      .select(keys.map(col): _*)
    rows.join(broadcast(hot), keys, "left_anti")
  }

  /** Corpus-RELATIVE variant of [[dropHotBuckets]] for the document-
    * frequency guards: drop every row whose key's df exceeds
    * `max(floorDf, ⌈n_docs/RelDfDenom⌉)`, where `nDocs` is a 1-row
    * (n_docs BIGINT) frame counting the corpus the keys were drawn from —
    * the audited 1-row-totals cross (BroadcastNestedLoopJoin by
    * construction, same shape as nll_bucket's n_docs and bigram_nll's
    * V). `floorDf` keeps small corpora (where 0.01 % < 1 doc) from
    * dropping everything; the relative term keeps the guard LIVE as the
    * corpus grows — a fixed absolute threshold goes dark exactly when
    * the quadratic it guards becomes fatal (the sf10 lesson). The ceil
    * is integer ((n + denom−1) div denom), replayed exactly by the
    * DuckDB oracles. */
  private[operators] def dropHotBucketsRel(rows: DataFrame,
      keys: Seq[String], nDocs: DataFrame, floorDf: Long): DataFrame = {
    val hot = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_sz"))
      .crossJoin(broadcast(nDocs))
      .filter(col("bucket_sz") > greatest(lit(floorDf),
        expr(s"(n_docs + ${RelDfDenom - 1}) div $RelDfDenom")))
      .select(keys.map(col): _*)
    rows.join(broadcast(hot), keys, "left_anti")
  }

  /** In-bucket pair expansion shared by the LSH-style candidate
    * generators: expand a guarded bucket's SORTED member array `ds` into
    * its unordered pairs (i < j) inside the row — an array lambda, no
    * self-join. Combined with a preceding `groupBy(bucket).collect_list`,
    * this turns candidate generation from
    * `self-join + distinct + payload re-joins` (4 shuffles) into
    * `one groupBy + explode` (1 shuffle): the payload (signature /
    * fingerprint) rides inside the collected struct, so scoring needs no
    * join back. Safe ONLY after the hot-bucket guard — the guard bounds
    * `size(ds)` (and so the per-row pair fan-out) by `maxBucket` BEFORE
    * anything is collected; a degenerate bucket never materializes an
    * array at all. `mk` renders the output pair struct from the lambda
    * variables (x, y), with x < y in array-sort order. */
  private[operators] def bucketPairs(mk: (String, String) => String): Column =
    explode(expr(
      s"""flatten(transform(ds, (x, i) ->
         |  transform(slice(ds, i + 2, size(ds)), y -> ${mk("x", "y")})))"""
        .stripMargin))

  /** Banded signature relation (doc_id, sig, band, v1, v2) — one
    * posexplode over the signature table (a single scan, vs a k/2-way
    * union of selects), registered in [[BuilderCache]] because the
    * hot-bucket guard aggregates it and the candidate groupBy reads it
    * again. */
  private def minhashBands(spark: SparkSession, dir: String): DataFrame =
    BuilderCache.memo(spark, s"minhashBands:$dir") {
      minhashBandsOf(minhashSignatures(spark, dir))
    }

  private[graft] def minhashBandsOf(sig: DataFrame): DataFrame =
    sig
      .select(col("doc_id"),
        struct((0 until MinhashK).map(i => col(s"m$i")): _*).as("sig"),
        posexplode(array((0 until MinhashK / 2).map { j =>
          struct(col(s"m${2 * j}").as("v1"), col(s"m${2 * j + 1}").as("v2"))
        }: _*)).as(Seq("band", "bv")))
      .select(col("doc_id"), col("sig"), col("band"),
        col("bv.v1").as("v1"), col("bv.v2").as("v2"))

  /** `dedup_minhash`: LSH candidate pairs — band the k-wide signature into
    * k/2 bands of 2 rows, bucket the bands on (band, v1, v2), then score
    * each in-bucket pair by the fraction of agreeing minhashes (the
    * unbiased Jaccard estimate). est = int/16 is dyadic → engine-exact.
    * `maxBucket` bounds the in-bucket pairwise work (see
    * [[dropHotBuckets]] — applied BEFORE the collect, so a degenerate
    * bucket is never materialized); the sf0.1 maximum bucket is 12, so
    * the default never fires on oracle-checked data. */
  def dedupMinhash(spark: SparkSession, dir: String, limit: Int = 500,
      maxBucket: Int = 1000): DataFrame =
    BuilderCache.memo(spark, s"minhashPairs:$dir:$limit:$maxBucket") {
      dedupMinhashUncached(spark, dir, limit, maxBucket)
    }

  private def dedupMinhashUncached(spark: SparkSession, dir: String,
      limit: Int, maxBucket: Int): DataFrame =
    minhashPairsOf(minhashBands(spark, dir), limit, maxBucket)

  /** Sig-free LSH candidate pairs from a COUNTED signature relation
    * ([[minhashOfHashedCounted]]): band the k-wide signature into k/2
    * bands of 2 rows, bucket on (band, v1, v2), expand each guarded
    * bucket in-row. Unlike [[minhashPairsOf]] the banded rows carry NO
    * signature payload (the caller re-scores candidates exactly, so the
    * estimate is never needed) — the bucket shuffle moves 5 longs per
    * row instead of a 16-long struct. The exact set size `sz` RIDES the
    * banding (round 18, guide §2.4): each emitted pair carries
    * (s1, s2), so the caller's inclusion–exclusion scoring needs no
    * join back onto the signature relation — the former two sizes
    * joins re-instantiated the whole signature aggregation a second
    * time (its exchange is reused, but the post-shuffle 16-min+count
    * aggregate re-ran — a full duplicate pass at any scale) and
    * re-shuffled the pair aggregate twice. One extra long per band row
    * buys both passes back. Same guard-before-collect discipline: a
    * degenerate bucket is dropped before any array exists, and `sz`
    * is functionally dependent on doc_id so the collected member set
    * and the emitted pair set are unchanged. */
  private[graft] def minhashCandidatesOf(sig: DataFrame,
      maxBucket: Int): DataFrame = {
    val bands = sig.select(col("doc_id"), col("sz"),
      posexplode(array((0 until MinhashK / 2).map { j =>
        struct(col(s"m${2 * j}").as("v1"), col(s"m${2 * j + 1}").as("v2"))
      }: _*)).as(Seq("band", "bv")))
      .select(col("doc_id"), col("sz"), col("band"),
        col("bv.v1").as("v1"), col("bv.v2").as("v2"))
    val buckets = dropHotBuckets(bands, Seq("band", "v1", "v2"), maxBucket)
      .groupBy("band", "v1", "v2")
      .agg(array_sort(collect_set(struct(col("doc_id"), col("sz"))))
        .as("ds"))
      .filter(size(col("ds")) >= 2)
    buckets
      .select(bucketPairs((x, y) =>
        s"struct($x.doc_id AS p1, $y.doc_id AS p2, " +
          s"$x.sz AS s1, $y.sz AS s2)").as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"),
        col("pr.s1").as("s1"), col("pr.s2").as("s2"))
      .distinct() // the same pair collides in several bands
  }

  /** TWO-LEVEL variant of [[minhashCandidatesOf]] — the round-12
    * verdict's item-2 experiment for the jaccard_lsh sf10→sf30 CPU-side
    * residual (r11 diagnosis: per-task hash state over tens of millions
    * of collect buckets falls out of cache at constant task count).
    * Level 1 salts the bucket key with `pmod(doc_id, salt)` and collects
    * PARTIAL member sets; level 2 merges the partials per true bucket
    * key (`flatten(collect_list)`). A doc_id lands in exactly one salt
    * class of its bucket, the guard runs BEFORE either level on the
    * unsalted key, and the final `array_sort` restores the canonical
    * member order — so the emitted candidate-pair set is IDENTICAL to
    * the one-level shape (the `jaccard_lsh_2l` query hash-checks this
    * against jaccard_lsh's own oracle). The trade under test: each
    * level's per-task group state is smaller (level 1 splits buckets
    * `salt` ways; level 2 aggregates pre-shrunk arrays, one row per
    * non-empty salt class instead of one per member), against one extra
    * shuffle of the partial arrays.
    *
    * MEASURED (SCALING.md r13 §4): rejected as the default — the extra
    * shuffle is a constant tax (+46 % sf10, +24 % sf30 wall vs
    * one-level) — but the sf10→sf30 exponent drops 1.26 → 1.11,
    * confirming the r11 per-task-hash-state attribution by
    * intervention. One-level remains the production shape; this stays
    * declared as the measured alternative. */
  private[graft] def minhashCandidatesTwoLevelOf(sig: DataFrame,
      maxBucket: Int, salt: Int = 16): DataFrame = {
    val bands = sig.select(col("doc_id"), col("sz"),
      posexplode(array((0 until MinhashK / 2).map { j =>
        struct(col(s"m${2 * j}").as("v1"), col(s"m${2 * j + 1}").as("v2"))
      }: _*)).as(Seq("band", "bv")))
      .select(col("doc_id"), col("sz"), col("band"),
        col("bv.v1").as("v1"), col("bv.v2").as("v2"))
    val partial = dropHotBuckets(bands, Seq("band", "v1", "v2"), maxBucket)
      .groupBy(col("band"), col("v1"), col("v2"),
        pmod(col("doc_id"), lit(salt)).as("sc"))
      .agg(collect_set(struct(col("doc_id"), col("sz"))).as("part"))
    val buckets = partial.groupBy("band", "v1", "v2")
      .agg(array_sort(flatten(collect_list(col("part")))).as("ds"))
      .filter(size(col("ds")) >= 2)
    buckets
      .select(bucketPairs((x, y) =>
        s"struct($x.doc_id AS p1, $y.doc_id AS p2, " +
          s"$x.sz AS s1, $y.sz AS s2)").as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"),
        col("pr.s1").as("s1"), col("pr.s2").as("s2"))
      .distinct() // the same pair collides in several bands
  }

  private[graft] def minhashPairsOf(bands: DataFrame, limit: Int,
      maxBucket: Int): DataFrame = {
    val buckets =
      dropHotBuckets(bands, Seq("band", "v1", "v2"), maxBucket)
        .groupBy("band", "v1", "v2")
        .agg(array_sort(collect_list(struct(col("doc_id"), col("sig"))))
          .as("ds"))
        .filter(size(col("ds")) >= 2)
    val pairs = buckets.select(bucketPairs((x, y) =>
      s"struct($x.doc_id AS p1, $y.doc_id AS p2, " +
        s"$x.sig AS s1, $y.sig AS s2)").as("pr"))
    val agree = (0 until MinhashK)
      .map(i => when(col(s"pr.s1.m$i") === col(s"pr.s2.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"),
        (agree.cast("long") / lit(MinhashK.toDouble)).as("est_jaccard"))
      .distinct() // the same pair collides in several bands
      .orderBy(desc("est_jaccard"), asc("p1"), asc("p2"))
      .limit(limit)
  }

  /** Fingerprint width. Mirrored by hand in the DuckDB oracle SQL
    * (SparkEntry's `dedup_simhash*` entries: 15-hex-char md5 prefix =
    * 60 bits, `range(60)` bit loop) — change it there in lockstep. */
  val SimhashBits = 60

  /** [[simhashPairs]]'s hot-band guard threshold. Interpolated into the
    * `dedup_simhash_pairs` oracle SQL (SparkEntry) since round 11, so
    * the guard can never silently fork engine from oracle. */
  val SimhashMaxBand = 100000

  /** `dedup_simhash`: 60-bit frequency-weighted SimHash fingerprint per
    * document — bit j is the sign of Σ_tokens freq·(±1 by bit j of the
    * token hash, [[TextOps.h60]]). Near-dup = small hamming distance
    * (bit_count(xor) ≤ t); the pairing pass is exercised in ScalaTest, the
    * fingerprint column is the oracle-checked surface. 60 bits, not 32:
    * in a 32-bit space topically-similar documents collide within
    * hamming ≤ 3 (measured sf0.1: 83k "near-dup" pairs from 5k docs, vs
    * 512 genuine ones at 60 bits), and the collision rate grows with
    * corpus size — a 100 TB corpus would mark everything a near-dup. The
    * published scheme (Manku et al., WWW'07) uses 64-bit fingerprints;
    * 60 is the widest md5 prefix that stays sign-safe in both engines.
    * One narrow scan + one groupBy(doc). Registered in [[BuilderCache]]:
    * the same fingerprints serve the dedup_simhash query and every band
    * of [[simhashPairs]]. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    BuilderCache.memo(spark, s"simhash:$dir") {
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("freq"))
        .withColumn("h", TextOps.h60(col("tok")))
      val bitSums = (0 until SimhashBits).map { j =>
        sum(col("freq") *
          (shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1)).as(s"s$j")
      }
      val sig = (0 until SimhashBits)
        .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
        .reduce(_ + _)
      tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), sig.as("simhash"))
        .orderBy("doc_id")
    }

  /** `dedup_simhash_pairs`: near-duplicate pairs by SimHash hamming
    * distance, found WITHOUT an all-pairs cross join. The 60-bit
    * fingerprint splits into 4 15-bit bands; by pigeonhole, any pair
    * within hamming distance 3 differs in at most 3 bands, so it agrees
    * exactly on at least one — a (band, value) equi-join therefore
    * generates a COMPLETE candidate set for t ≤ 3 (the standard
    * multi-index hamming scheme), and the exact `bit_count(xor)` filter
    * keeps no false positives. 15-bit bands (32,768 values) discriminate
    * 128× better than the former 8-bit bytes: measured at sf0.1 the
    * candidate set fell 2.34 M → 330 k for the same 5 k docs, and at
    * corpus scale band width is the lever that keeps E[bucket] = n/2^15
    * per band bounded. Radii up to t = 7 switch to an 8-band multi-index
    * (same pigeonhole, one extra fan-out — see [[simhashPairsFrom]]).
    * Same banding shape as [[dedupMinhash]], same hot-band guard for
    * degenerate corpora (a band value shared by the whole corpus would
    * otherwise pair everything with everything). */
  def simhashPairs(spark: SparkSession, dir: String, t: Int = 3,
      maxBand: Int = SimhashMaxBand): DataFrame =
    simhashPairsFrom(simhash(spark, dir), t, maxBand)

  /** Banded pairing over any (doc_id, simhash) fingerprint relation —
    * factored out so the pigeonhole-completeness claim is property-tested
    * on arbitrary synthetic fingerprints (PropertySpec), not just the
    * testdata corpus. */
  def simhashPairsFrom(sig: DataFrame, t: Int = 3,
      maxBand: Int = 100000): DataFrame = {
    require(t >= 0 && t <= 7, "banding is complete only for hamming ≤ 7")
    // Pigeonhole: a pair differing in ≤ t bits leaves at least one of
    // t+1 disjoint bands untouched, so a (band, value) equi-join over
    // ANY partition into > t bands is a complete candidate generator.
    // Use the FEWEST bands the threshold allows — fewer bands are wider,
    // and band width is the discrimination lever (E[bucket] = n/2^width
    // per band): t ≤ 3 keeps the 4×15-bit default (32,768 values/band),
    // t ≤ 7 switches to the 8-band multi-index (4×8-bit + 4×7-bit — the
    // Manku et al. WWW'07 multi-index at 60 bits), trading one extra
    // union fan-out and ~128× coarser buckets for the wider radius.
    val nBands = if (t <= 3) 4 else 8
    val base = SimhashBits / nBands
    val extra = SimhashBits % nBands // first `extra` bands 1 bit wider
    val widths = Seq.tabulate(nBands)(b => if (b < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    // ONE posexplode emits every band row per fingerprint (pos = band
    // index, matching the lit(b) of the former nBands-way unionAll of
    // per-band selects — same rows, same types). The union form
    // instantiated each branch as its own map stage PER REFERENCE (hot
    // count + both self-join sides = 8 stages at nBands = 4, ~20 AQE
    // stages for the whole query), and stage-profile showed the query
    // wall dominated by that stage/codegen overhead, not data
    // (plans/r17/dedup_simhash_pairs_*). The [[minhashBandsOf]] shape —
    // one Generate over one scan — cuts the map work to a single stage
    // per reference at any scale (guide §2.4).
    val allBands = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map { b =>
        shiftright(col("simhash"), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1))
      }: _*)).as(Seq("band", "bv")))
    // no per-call cache: every recompute of `allBands` (hot count + both
    // self-join sides) is a narrow shift-and-mask over the BuilderCache'd
    // fingerprint table — cheaper than pinning a 4× copy of it.
    // Deliberately a SELF-JOIN, not the [[bucketPairs]] in-row expansion
    // [[dedupMinhash]] uses: simhash's `maxBand` guard is permissive
    // (100k — dropping a band byte loses completeness, unlike dropping a
    // degenerate minhash bucket), so a hot band must stay SPLITTABLE —
    // AQE's skew-join splits one join key's pair expansion across tasks,
    // while a collect_list row pins it on one core. The hamming filter
    // sits before the cross-band distinct (only near-dups reach it, not
    // every bucket-sharing candidate).
    val bands = dropHotBuckets(allBands, Seq("band", "bv"), maxBand)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("p1"), col("b.doc_id").as("p2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= t)
      .distinct() // the same pair collides in several bands
      .orderBy(asc("hamming"), asc("p1"), asc("p2"))
  }

  /** Connected components over a near-duplicate pair relation — the
    * dedup pipeline's last step: candidate pairs ([[dedupMinhash]],
    * [[simhashPairs]], [[Similarity.dedupEmbedding]]) cluster into
    * duplicate groups, and one survivor per cluster (the minimum doc_id
    * — the same deterministic policy as [[dedupExact]]) is kept.
    *
    * Algorithm: min-label propagation with pointer SHORTCUTTING — each
    * round a node takes the minimum of its own label, its neighbors'
    * labels, and its label's label (the hash-to-min shortcut), so
    * convergence is O(log n) rounds even on a path graph, not
    * O(diameter). Each round is two equi-joins + an agg on the label
    * table (one row per node appearing in a pair — bounded by 2×|pairs|,
    * which the candidate generators' guards bound in turn; the full
    * corpus never enters the loop). The rounds run under
    * [[graft.algo.Fixpoint]] and stop after the first that changed no
    * label: converged is proven, a loop that reaches `maxRounds` fails.
    * Each round's labels are cut by [[BuilderCache.checkpointCounting]],
    * whose one action also counts the changed labels. Inside
    * [[BuilderCache.uncached]] nothing is cut: the plan is the whole
    * unrolled loop down to the pair pipeline's scans, and each round
    * counts with a direct aggregate.
    *
    * Output: (doc_id, cluster_id, is_survivor), cluster_id = min doc_id
    * of the component. Oracle-checked via DuckDB's recursive-CTE
    * transitive closure — unusual for a distributed CC implementation. */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // pairs may be a full query — cut, so it runs ONCE
    val edges = BuilderCache.checkpoint(pairs
      .select(col("p1").as("a"), col("p2").as("b"))
      .unionAll(pairs.select(col("p2").as("a"), col("p1").as("b"))))
    // round 0 fused into initialization: label = min(self, neighbors) —
    // the identity-label round's hop join is a no-op, so starting from
    // the neighbor-min saves one full iteration
    val init = BuilderCache.checkpoint(
      edges.groupBy("a").agg(min("b").as("nmin"))
        .select(col("a").as("v"), least(col("a"), col("nmin")).as("lbl")))
    val labels = Fixpoint.run("dupClusters", init, maxRounds,
        mustConverge = true)(_ == 0) { (labels, _) =>
      val nbr = edges.join(labels, col("b") === col("v"))
        .groupBy(col("a")).agg(min("lbl").as("nmin"))
      val hop = labels.as("x")
        .join(labels.as("y"), col("x.lbl") === col("y.v"))
        .select(col("x.v").as("a2"), col("y.lbl").as("hmin"))
      // prev rides along so the changed-label count is an aggregate
      // over the round's own rows, taken on the cut's action
      val next = labels
        .join(nbr, col("v") === col("a"), "left_outer")
        .join(hop, col("v") === col("a2"), "left_outer")
        .select(col("v"), least(col("lbl"),
          coalesce(col("nmin"), col("lbl")),
          coalesce(col("hmin"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
      val changed = col("lbl") =!= col("prev")
      val (cut, counts) = BuilderCache.checkpointCounting(next, changed)
      val (rows, nChanged) = counts.getOrElse {
        val r = next.agg(count(lit(1)), count_if(changed)).head()
        (r.getLong(0), r.getLong(1))
      }
      (cut.select("v", "lbl"), nChanged.toDouble, rows)
    }
    labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"),
      (col("v") === col("lbl")).as("is_survivor"))
  }

  /** `dedup_clusters`: duplicate groups + survivor selection over the
    * declared [[dedupMinhash]] candidate pairs. The converged label
    * table is a registry builder — [[dedupSurvivors]] reads it without
    * re-running the fixpoint. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    BuilderCache.memo(spark, s"dupClusters:$dir") {
      dupClusters(dedupMinhash(spark, dir).select("p1", "p2"))
    }.orderBy("doc_id")

  /** `dedup_survivors`: the pipeline's terminal output — the corpus
    * with near-duplicates removed. A document survives when it is not
    * a non-survivor member of any duplicate cluster (docs outside every
    * cluster are untouched). Broadcast anti-join: the non-survivor list
    * is bounded by the candidate pair count, never corpus-sized. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val dropped = dedupClusters(spark, dir)
      .filter(!col("is_survivor")).select("doc_id")
    Tables.documents(spark, dir)
      .select("doc_id", "lang", "source")
      .join(broadcast(dropped), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** The whole near-dup pipeline (shingles → minhash → LSH pairs → CC →
    * survivor anti-join) over ANY (doc_id, text, ...) relation, with the
    * SAME parameters as the declared [[dedupMinhash]]/[[dedupSurvivors]]
    * chain — the form [[graft.streaming.CorpusStream]] runs per
    * micro-batch (foreachBatch hands it a batch DataFrame; batch
    * semantics inside the batch, so a slice that arrives in one batch
    * dedups exactly as the batch pipeline would). No BuilderCache
    * entries: a micro-batch is consumed once. Returns the input rows
    * minus non-surviving near-duplicates. */
  private[graft] def dedupSurvivorsOf(docs: DataFrame, limit: Int = 500,
      maxBucket: Int = 1000): DataFrame = {
    val pairs = minhashPairsOf(minhashBandsOf(
      minhashSignaturesOf(shinglesOf(docs))), limit, maxBucket)
    val dropped = dupClusters(pairs.select("p1", "p2"))
      .filter(!col("is_survivor")).select("doc_id")
    docs.join(broadcast(dropped), Seq("doc_id"), "left_anti")
  }

  /** `ngram_jaccard`: exact 3-gram-shingle Jaccard for every pair sharing
    * at least one shingle (inverted-index self-join + inclusion-exclusion
    * on exact set sizes — same shape as [[Recommend.jaccardPairs]]).
    * Shingles appearing in more than `max(maxDf, ⌈n/10⁴⌉)` documents
    * ([[dropHotBucketsRel]] — n the shingled-doc count) are dropped from
    * the INDEX side only (sizes stay exact): a corpus-wide stop-shingle
    * ("the of the") pairs every document with every document — quadratic —
    * while contributing nothing to near-dup discrimination, and the
    * Σdf² candidate volume it drives grows with the corpus, which is why
    * the threshold must scale with it (sf10 formerly filled 75 GB of
    * disk with every df under the old fixed cap). When the guard fires,
    * `common` (and so jaccard) is a lower bound for pairs sharing hot
    * shingles; the sf0.1 maximum df is 25, so the default never fires on
    * oracle-checked data. */
  def ngramJaccard(spark: SparkSession, dir: String, limit: Int = 200,
      maxDf: Int = DfFloor): DataFrame = {
    val sh = shingles(spark, dir) // BuilderCache'd — never re-mark it
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val nDocs = sizes.agg(count(lit(1)).as("n_docs"))
    // The cached index is REPARTITIONED by the join key at the session's
    // shuffle parallelism (round 18; the reachEdges discipline from
    // round 17): the raw guarded index is small relative to its pair
    // EXPANSION (Σ df² vs Σ df rows), and AQE — sizing stages by map
    // output bytes, blind to join fan-out — coalesced the cached
    // relation to a single partition at sf0.1, so the self-join's whole
    // pair expansion + partial pair-count aggregation ran in ONE task
    // (measured: a 1-task 1.3 s stage carrying 8.7 MB of pair partials,
    // the query's dominant stage). With the cache hash-partitioned on
    // `sh`, both self-join sides consume the one materialized layout
    // with no exchange at all, and the expansion runs at the session's
    // parallelism — conf-driven (cpus locally, cluster-sized on a real
    // deployment), never a local constant (guide §2.2/§2.5: the
    // expansion-aware partition floor AQE cannot derive itself).
    val idx = BuilderCache.memo(spark, s"ngramIdx:$dir:$maxDf:rel") {
      dropHotBucketsRel(sh, Seq("sh"), nDocs, maxDf).repartition(
        spark.sessionState.conf.numShufflePartitions, col("sh"))
    }
    val common = idx.as("x").join(idx.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("p1"), col("y.doc_id").as("p2"))
      .agg(count(lit(1)).as("common"))
    // `sizes` is one row per DOCUMENT — corpus-sized, not dimension-sized
    // — so no forced broadcast: these are plain equi-joins and AQE
    // broadcasts only when the runtime size fits (contrast
    // [[Recommend.jaccardPairs]], whose sizes table is bounded by the
    // product catalog).
    common
      .join(sizes.as("s1"), col("p1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("p2") === col("s2.doc_id"))
      .select(col("p1"), col("p2"),
        round(col("common") / (col("s1.sz") + col("s2.sz") - col("common")), 6)
          .as("jaccard"))
      .orderBy(desc("jaccard"), asc("p1"), asc("p2"))
      .limit(limit)
  }
}

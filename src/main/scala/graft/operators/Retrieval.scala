package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Retrieval scoring and language-model corpus statistics over the
  * `documents` table — the ranking/quality tier a training-data pipeline
  * runs after dedup and before packing (extension surface, SURVEY §7.4):
  *
  *   - `bm25_topk`: Okapi BM25 document ranking for a fixed query-term
  *     set (Robertson & Spärck Jones; the Lucene `(N-df+0.5)/(df+0.5)+1`
  *     idf variant, which is always positive);
  *   - `unigram_logprob`: per-document average negative log-likelihood
  *     under a Laplace-smoothed corpus unigram model — the cheap,
  *     model-free stand-in for perplexity-based quality filtering
  *     (CCNet-style: rank docs by LM surprise, drop the tails);
  *   - `pmi_bigrams`: pointwise mutual information of adjacent token
  *     pairs (Church & Hanks) — collocation strength, the signal behind
  *     phrase-vocabulary induction and boilerplate detection.
  *
  * All three are pure `functions._` expression trees (no UDFs), all
  * output floats are `round(_, 6)` of arithmetic over exact integer
  * counts, and every ordering carries a total tie-break — the same
  * engine-determinism contract as the rest of the text tier.
  */
object Retrieval {

  /** The fixed query for `bm25_topk`. Static and small: the per-term
    * document-frequency relation is semantically bounded by its length
    * (≤ 4 groups survive the `isin`), but Catalyst cannot PROVE that
    * bound (`maxRows` is None through a Filter over a file scan), so
    * under the repo's bounded-relation rule the df join stays unhinted
    * and AQE elects broadcast from the measured 4-row size at runtime —
    * same treatment as tfidf's df side (TextOps.scala). */
  val QueryTerms: Seq[String] = Seq("spark", "join", "filter", "window")

  /** Okapi defaults (Robertson et al., TREC-3). */
  val BmK1 = 1.2
  val BmB = 0.75

  private def toks(c: Column): Column = split(c, " ")

  /** Adjacent-pair extraction shared by [[pmiBigrams]] and
    * [[bigramNll]] — one definition so the guard, sequence bounds and
    * 1-based offsets can never drift apart between the two consumers.
    * The `size >= 2` guard is load-bearing: Spark's
    * `sequence(0, negative)` DESCENDS rather than returning empty.
    * Takes a PRE-SPLIT token-array column (see [[Dedup.shinglesOf]]'s
    * O(len²) note: a `split` inside the interpreted transform lambda
    * would re-split the document once per element). */
  private def bigramsOf(tCol: String): Column = expr(
    s"""CASE WHEN size($tCol) >= 2
       |  THEN transform(sequence(0, size($tCol) - 2),
       |    i -> struct(element_at($tCol, i + 1) AS w1,
       |                element_at($tCol, i + 2) AS w2))
       |  ELSE array()
       |END""".stripMargin)

  /** `bm25_topk`: top-k documents by BM25 score against [[QueryTerms]].
    *
    * Scale: the token stream is filtered to the query terms BEFORE the
    * tf aggregation, so the one per-doc shuffle carries only matching
    * tokens (a |query|/|vocab| fraction of the corpus); `dfreq` is
    * ≤ |QueryTerms| rows but joins unhinted (see [[QueryTerms]]);
    * corpus length stats are a 1-row agg crossJoined broadcast. Top-k
    * plans as TakeOrderedAndProject. Documents containing no query term
    * score 0 and drop out of the ranking by construction — at 100 TB
    * that early filter is the difference between shuffling the corpus
    * and shuffling the postings of four terms. */
  def bm25Topk(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // Corpus stats (N, avgdl) off the memoized per-(doc,term) tf frame
    // (round 18, guide §1.2): Σ tf over docTf IS Σ size(split(text))
    // (split of a non-NULL text emits ≥1 token; NULL text yields no tf
    // row and a NULL size — skipped by both sums), so the stats pass
    // needs no second full-corpus tokenize — at sf0.1 that was a
    // separate single-task scan+split of every document per run, and at
    // corpus scale it is a full extra pass over the text. N counts the
    // raw scan (columnless parquet count). Same exact longs through the
    // same double division → bit-identical avgdl, oracle hash unchanged.
    val docs = Tables.documents(spark, dir)
    val stats = docTf(spark, dir).agg(sum("tf").as("t_toks"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).cast("long").as("n_docs"))))
      .select(col("n_docs"),
        (col("t_toks").cast("double") / col("n_docs")).as("avgdl"))
    bm25Scored(docs, stats, QueryTerms, k)
  }

  private[graft] def bm25TopkOf(docs: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    val stats = docs.agg(count(lit(1)).cast("long").as("n_docs"),
      (sum(size(toks(col("text")))).cast("double") /
        count(lit(1))).as("avgdl"))
    bm25Scored(docs, stats, terms, k)
  }

  /** BM25 scoring over pre-computed corpus stats (n_docs, avgdl) — the
    * shared core of the declared path (stats derived from the memoized
    * docTf) and the fixture path (stats from the docs frame itself). */
  private def bm25Scored(docs: DataFrame, stats: DataFrame,
      terms: Seq[String], k: Int): DataFrame = {
    // Coarse substring prescreen BEFORE the explode: a doc whose text
    // contains no query term as a substring cannot contribute a scoring
    // row, so it never pays the tokenize+explode (the exact `isin` after
    // the explode still decides membership — substring false-positives
    // like "sparkly" are dropped there). At corpus scale this turns
    // "explode everything" into "explode the postings superset".
    // EXCEPT the corpus stats (N, avgdl), which are over ALL docs.
    val hit = docs.filter(
      terms.map(t => col("text").contains(t)).reduce(_ || _))
    val tok = hit.select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("dl"),
        explode(toks(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
    // dl is functionally dependent on doc_id; grouping by both keeps it
    // in scope without a re-join against the documents table
    val tf = tok.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val norm = col("tf") + lit(BmK1) *
      (lit(1.0 - BmB) + lit(BmB) * col("dl") / col("avgdl"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(idf * col("tf") * lit(BmK1 + 1.0) / norm), 6)
        .as("bm25"),
        count(lit(1)).cast("long").as("n_terms_hit"))
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(k)
  }

  /** `unigram_logprob`: per-document average negative log-likelihood
    * under a Laplace-smoothed corpus unigram LM —
    * `p(t) = (cnt(t)+1) / (T+V)`, `avg_nll(d) = Σ tf·(−ln p) / Σ tf`.
    * High avg_nll = rare-token-heavy (noise, codes, other-language);
    * low = repetitive boilerplate — both tails are what a quality
    * filter cuts.
    *
    * Scale: one map-side-combined shuffle to per-(doc,term) tf; the
    * global term counts RE-AGGREGATE the tf frame (shuffle carries
    * distinct terms, not the token stream); tf ⋈ cnt on term is left
    * unhinted — the model side scales with vocabulary, so AQE elects
    * the strategy from measured sizes (bounded-relation rule); the
    * (T, V) totals are a 1-row crossJoined broadcast. */
  /** Per-(doc, term) frequencies — the shared base of the whole
    * LM-statistics tier ([[unigramLogprob]], [[nllBucket]],
    * [[textEntropy]]). Registered in BuilderCache like the shingle and
    * cooc builders: within one session (Verify/Bench run every query
    * in one) the token-stream shuffle materializes once and all three
    * queries read the cached counts. */
  private[operators] def docTf(spark: SparkSession, dir: String): DataFrame =
    graft.model.BuilderCache.memo(spark, s"docTf:$dir") {
      tfOf(Tables.documents(spark, dir))
    }

  private def tfOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprobOfTf(docTf(spark, dir))

  private[graft] def unigramLogprobOf(docs: DataFrame): DataFrame =
    unigramLogprobOfTf(tfOf(docs))

  private def unigramLogprobOfTf(tf: DataFrame): DataFrame =
    unigramNllOfTf(tf)
      .select(col("doc_id"), col("n_tokens"),
        round(col("nll"), 6).as("avg_nll"))
      .orderBy("doc_id")

  /** Shared raw frame: (doc_id, n_tokens, nll UNROUNDED) — each
    * consumer rounds at its own output edge ([[unigramLogprob]] for
    * display, [[nllBucket]] BEFORE ranking: the per-doc sum's
    * accumulation order is engine-dependent in the last ulp, so only
    * the 6-dp value is a cross-engine-stable sort key). */
  private def unigramNllOfTf(tf: DataFrame): DataFrame = {
    val cnt = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val tot = cnt.agg(sum("cnt").cast("long").as("t_tokens"),
      count(lit(1)).cast("long").as("v_size"))
    val nll = -log((col("cnt") + lit(1.0)) /
      (col("t_tokens") + col("v_size")))
    tf.join(cnt, "term")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_tokens"),
        (sum(col("tf") * nll) / sum("tf")).as("nll"))
  }

  /** `nll_bucket`: CCNet-style corpus quality binning — every document
    * assigned to the `head` (most fluent quarter by unigram-LM NLL),
    * `tail` (least fluent quarter), or `middle` of the corpus. CCNet
    * (Wenzek et al., LREC'20) bins by LM perplexity and trains on the
    * head/middle; this is that gate with [[unigramLogprob]]'s NLL as
    * the score.
    *
    * Bucketing is by EXACT GLOBAL RANK, not by percentile-value
    * thresholds: an exact percentile aggregate buffers a value→count
    * map whose size grows with the number of distinct doubles (≈ every
    * doc — a driver-memory wall at corpus scale), and interpolated
    * thresholds reintroduce float-boundary sensitivity. The rank runs
    * as the vocab_build two-pass (range repartition on (nll, doc_id) +
    * `zipWithIndex`) — fully distributed, no single-partition window —
    * and the quartile test is pure integer arithmetic (`4·rank` vs
    * `n_docs`), replayed identically by the oracle's `row_number`.
    * The rank key is the ROUNDED 6-dp NLL (like every other ordered
    * float output): a per-doc NLL is a float SUM whose accumulation
    * order is fixed in neither engine, so ranking unrounded would let
    * last-ulp differences reorder near-ties differently than the
    * oracle; at 6 dp the values are engine-identical and the doc_id
    * tie-break decides every residual tie the same way on both sides. */
  def nllBucket(spark: SparkSession, dir: String): DataFrame =
    nllBucketImpl(spark, unigramNllOfTf(docTf(spark, dir)),
      Tables.documents(spark, dir))

  private[graft] def nllBucketOf(spark: SparkSession,
      docs: DataFrame): DataFrame =
    nllBucketImpl(spark, unigramNllOfTf(tfOf(docs)), docs)

  private def nllBucketImpl(spark: SparkSession, nllRaw: DataFrame,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val nll = nllRaw
      .select(col("doc_id"), round(col("nll"), 6).as("avg_nll"))
    val ranked = nll
      .repartitionByRange(asc("avg_nll"), asc("doc_id"))
      .sortWithinPartitions(asc("avg_nll"), asc("doc_id"))
      .select(col("doc_id"), col("avg_nll")).as[(Long, Double)]
      .rdd.zipWithIndex()
      .map { case ((id, v), r) => (id, v, r) }
      .toDF("doc_id", "avg_nll", "rank")
    // n must equal |nll| (the oracle ranks and counts the same frame):
    // a doc yields token rows — and so an NLL row — exactly when its
    // text is non-NULL (split('') still emits one '' token; split(NULL)
    // explodes to nothing in both engines), so count the scan under
    // that predicate rather than re-executing the NLL pipeline (the
    // explode + both shuffles) a second time just for one number. The
    // filter reaches the parquet scan as an IsNotNull pushdown.
    val n = docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).cast("long").as("n_docs"))
    ranked.crossJoin(broadcast(n))
      .select(col("doc_id"), col("avg_nll"),
        when(col("rank") * 4 < col("n_docs"), "head")
          .when(col("rank") * 4 >= col("n_docs") * 3, "tail")
          .otherwise("middle").as("bucket"))
      .orderBy("doc_id")
  }

  /** `text_entropy`: within-document token-distribution Shannon entropy
    * `H(d) = −Σ (tf/n)·ln(tf/n)`, computed in the single-pass form
    * `ln(n) − Σ tf·ln(tf) / n` (no second join against the per-doc
    * total). Low entropy = repetitive/templated text (the within-doc
    * complement of [[unigramLogprob]]'s corpus-LM surprise and of
    * text_repetition's bigram slot ratio); the standard cheap filter
    * axis alongside them.
    *
    * Scale: one map-side-combined shuffle to per-(doc,term) tf, one
    * per-doc aggregate — the tfidf tf shape minus the df join. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    textEntropyOfTf(docTf(spark, dir))

  private[graft] def textEntropyOf(docs: DataFrame): DataFrame =
    textEntropyOfTf(tfOf(docs))

  private def textEntropyOfTf(tf: DataFrame): DataFrame = {
    tf.groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("distinct_tokens"),
        round(log(sum(col("tf"))) -
          sum(col("tf") * log(col("tf"))) / sum(col("tf")), 6)
          .as("entropy"))
      .orderBy("doc_id")
  }

  /** `bigram_nll`: per-document average negative log-likelihood under
    * a Laplace-smoothed corpus BIGRAM LM —
    * `p(w₂|w₁) = (c(w₁w₂)+1) / (c_ctx(w₁)+V)` with `c_ctx(w₁) =
    * Σₓ c(w₁x)` the exact prefix-context count (derived by re-
    * aggregating the bigram counts — not the raw unigram count, which
    * overstates contexts by each doc's final token). Together with
    * [[unigramLogprob]] this is the classic two-order LM quality pair:
    * the bigram surprise separates scrambled-but-common-vocabulary
    * text (high) from fluent text (low), which unigram NLL cannot see.
    *
    * Scale: per-doc bigram tf is one map-side-combined shuffle; the
    * corpus bigram counts and context counts RE-AGGREGATE that frame
    * (shuffles carry distinct bigrams, then distinct prefixes); model
    * joins are unhinted (vocabulary-sized — AQE decides); V is a 1-row
    * crossJoined broadcast. Docs with fewer than 2 tokens have no
    * bigram and emit no row (the length gate upstream owns them). */
  def bigramNll(spark: SparkSession, dir: String): DataFrame =
    // V from the memoized per-(doc,term) tf frame — an aggregate over
    // the cached counts instead of a second full-corpus explode
    bigramNllImpl(Tables.documents(spark, dir), vocabSizeOfTf(docTf(spark, dir)))

  private[graft] def bigramNllOf(docs: DataFrame): DataFrame =
    bigramNllImpl(docs, vocabSizeOfTf(tfOf(docs)))

  private def vocabSizeOfTf(tf: DataFrame): DataFrame =
    tf.agg(count_distinct(col("term")).cast("long").as("v_size"))

  private def bigramNllImpl(docs: DataFrame, v: DataFrame): DataFrame = {
    val dbg = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), explode(bigramsOf("t")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val bcnt = dbg.groupBy("w1", "w2").agg(sum("tf").as("c_ab"))
    val ctx = bcnt.groupBy("w1").agg(sum("c_ab").as("c_ctx"))
    val nll2 = -log((col("c_ab") + lit(1.0)) /
      (col("c_ctx") + col("v_size")))
    // assemble the MODEL first (bigram counts ⋈ context counts — both
    // bounded by distinct-bigram cardinality), then attach it to the
    // per-doc stream with ONE join: the doc-keyed frame is the one that
    // grows with the corpus, and joining it twice (on (w1,w2), then
    // again on w1) shuffled it once more than necessary; with the model
    // pre-joined, AQE can also broadcast it whole when it measures
    // small, leaving the doc stream entirely unshuffled between its two
    // aggregations (guide §3.1/§2.4). Value-identical: the same
    // (c_ab, c_ctx) pair attaches to each (w1, w2).
    val model = bcnt.join(ctx, Seq("w1"))
    dbg.join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_bigrams"),
        round(sum(col("tf") * nll2) / sum("tf"), 6).as("avg_nll2"))
      .orderBy("doc_id")
  }

  /** `source_kl`: per-source token-distribution drift — the KL
    * divergence `KL(p_src ‖ p_corpus) = Σ_t p_src(t)·ln(p_src(t)/p(t))`
    * of each source's token distribution from the whole corpus's. The
    * curation audit behind mixture decisions: a source whose KL rises
    * release-over-release is drifting (template change, scraper
    * breakage, language shift) — count-level reports
    * (domain_stats) can't see it. KL ≥ 0 always; 0 iff identical
    * distributions. No smoothing is needed: a source's support is a
    * subset of the corpus's by construction, so p(t) > 0 wherever
    * p_src(t) > 0.
    *
    * Scale: one (source, term) map-side-combined count shuffle, a
    * corpus re-aggregate of it (distinct terms), one unhinted model
    * join, per-source totals carried by a window-free group
    * aggregation. Every ratio is exact-integer counts through one
    * fixed double tree; the per-source sum runs over the vocabulary —
    * the one float accumulation, same contract as tfidf/NLL. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame =
    sourceKlOf(Tables.documents(spark, dir))

  private[graft] def sourceKlOf(docs: DataFrame): DataFrame = {
    val st = docs.select(col("source"),
        explode(toks(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c_st"))
    val ct = st.groupBy("term").agg(sum("c_st").as("c_t"))
    val tot = ct.agg(sum("c_t").cast("long").as("t_all"))
    val stot = st.groupBy("source").agg(sum("c_st").as("t_src"))
    // p_src(t)/p(t) = (c_st/t_src)/(c_t/t_all) = (1.0*c_st*t_all)/(1.0*t_src*c_t)
    // — the pmi parse-shape discipline, mirrored textually in the oracle
    val ratio = (lit(1.0) * col("c_st") * col("t_all")) /
      (lit(1.0) * col("t_src") * col("c_t"))
    st.join(ct, "term")
      .join(stot, "source")
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(sum("c_st").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_terms"),
        round(sum((col("c_st").cast("double") / col("t_src")) *
          log(ratio)), 6).as("kl_nats"))
      .orderBy("source")
  }

  /** `pmi_bigrams`: top-k adjacent token pairs by pointwise mutual
    * information, `PMI(a,b) = ln( (c_ab/B) / ((c_a/T)(c_b/T)) )`, with
    * a minimum-count support filter (Church & Hanks' guard against the
    * low-count PMI explosion).
    *
    * Scale: bigram totals B and token totals T come from the document
    * scan arithmetically (Σ(len−1), Σ len) — no extra pass over the
    * exploded stream; the support filter runs BEFORE the unigram joins,
    * so only collocation candidates (not the full bigram vocabulary)
    * reach them; both joins are unhinted — unigram counts scale with
    * vocabulary, AQE decides. The PMI expression keeps one fixed
    * parse shape, `ln((1.0·c_ab·T·T)/(1.0·B·c_a·c_b))`, mirrored
    * textually in the DuckDB oracle so both engines evaluate the same
    * IEEE tree. */
  def pmiBigrams(spark: SparkSession, dir: String, minCount: Long = 5L,
      k: Int = 100): DataFrame =
    pmiBigramsOf(Tables.documents(spark, dir), minCount, k)

  private[graft] def pmiBigramsOf(docs: DataFrame, minCount: Long = 5L,
      k: Int = 100): DataFrame = {
    val big = docs.select(toks(col("text")).as("t"))
      .select(explode(bigramsOf("t")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bcnt = big.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val ucnt = docs.select(explode(toks(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val tot = docs.agg(
      sum(greatest(size(toks(col("text"))) - 1, lit(0))).cast("long")
        .as("b_total"),
      sum(size(toks(col("text")))).cast("long").as("t_total"))
    bcnt
      .join(ucnt.withColumnRenamed("term", "w1")
        .withColumnRenamed("c", "c_a"), "w1")
      .join(ucnt.withColumnRenamed("term", "w2")
        .withColumnRenamed("c", "c_b"), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((lit(1.0) * col("c_ab") * col("t_total") * col("t_total")) /
          (lit(1.0) * col("b_total") * col("c_a") * col("c_b"))), 6)
          .as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(k)
  }
}

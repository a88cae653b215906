package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Text analysis over the `documents` table (extension surface, SURVEY
  * §7.4): token statistics, quality scoring, language-ID heuristic, and
  * document fingerprinting. Everything is built from codegen'd
  * `functions._` array/string expressions — no UDFs — and all output
  * floats are ratios of exact integers (engine-deterministic).
  */
object TextOps {

  /** Portable 32-bit string hash both engines can compute identically:
    * first 8 hex chars of md5 as an unsigned int. Spark: conv(hex,16,10);
    * DuckDB: CAST('0x'||hex AS BIGINT). Used as the shared primitive for
    * fingerprints, minhash and simhash (graft.operators.Dedup). */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Portable 60-bit string hash (first 15 hex chars of md5): the widest
    * md5 prefix that stays a POSITIVE signed 64-bit value in both engines,
    * so sum-based bit assembly and `//`-based band extraction behave
    * identically in Spark and DuckDB (no sign-bit corner). Used for the
    * SimHash fingerprint, where 32 bits is too small a space: at corpus
    * scale (or even 5k topical docs) unrelated documents land within
    * hamming ≤ 3 of each other by pigeonhole — the published scheme
    * (Manku et al., WWW'07, "Detecting Near-Duplicates for Web Crawling")
    * uses 64-bit fingerprints for exactly this reason. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def toks(c: Column): Column = split(c, " ")

  /** `text_stats`: per-document token counts, distinct tokens, mean token
    * length, and a 32-bit content fingerprint. Mean token length is
    * derived arithmetically from char count and token count (single-space
    * tokenization) so it's one exact division. Embarrassingly parallel —
    * no shuffle at all; the plan is scan→project. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(toks(col("text")))).cast("long").as("n_uniq"),
        round((length(col("text")) - size(toks(col("text"))) + 1)
          / size(toks(col("text"))).cast("double"), 6).as("avg_token_len"),
        h32(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** The `text_quality` keep-gate as a standalone boolean COLUMN over a
    * `text` field — factored out so the streaming corpus pipeline
    * ([[graft.streaming.CorpusStream]]) applies the exact rule the batch
    * query declares (length bounds + stopword floor). */
  private[graft] def keepGate: Column = {
    val t = toks(col("text"))
    val stopCnt = size(expr(
      "filter(split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'in'))"))
    size(t) >= 20 && size(t) <= 1000 && stopCnt > 0
  }

  /** `text_quality`: quality scoring — stopword ratio, type-token ratio,
    * and a boolean keep-gate, the standard pre-training corpus filters
    * (length bounds + stopword floor). */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val stopCnt = size(expr(
      "filter(split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'in'))"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        stopCnt.cast("long").as("stop_cnt"),
        round(stopCnt / size(t).cast("double"), 6).as("stop_ratio"),
        round(size(array_distinct(t)) / size(t).cast("double"), 6)
          .as("ttr"),
        keepGate.as("keep"))
      .orderBy("doc_id")
  }

  /** `text_fingerprint`: order-sensitive document fingerprinting — a
    * polynomial rolling hash folded over the token-hash sequence
    * ((acc·31 + h32(tok)) mod p), plus a BPE-ish regex token count
    * (letters / digits / punctuation runs — the pre-tokenizer split most
    * BPE vocabularies use). Unlike the set-based minhash/simhash
    * signatures, the rolling hash distinguishes token ORDER, so shuffled
    * duplicates don't collide. Fold + regex are single-pass, shuffle-free.
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"), lit(0)))
          .cast("long").as("n_tokens_re"),
        expr(
          """aggregate(
            |  transform(split(text, ' '),
            |    t -> cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)),
            |  cast(0 as bigint),
            |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin)
          .as("rolling_fp"))
      .orderBy("doc_id")

  /** `tfidf`: term frequency × inverse document frequency over the token
    * stream — the UDTF-shaped explode generator (SURVEY §7.4): explode →
    * two hash aggregations → join of the df dimension back onto tf. idf
    * uses the raw ln(N/df) form; tf·idf is a product of exact longs
    * through libm ln, rounded to 6 dp. Scale: tf shuffles on (doc, term),
    * df on term — both partial-aggregated map-side. The df relation is
    * the DISTINCT-TERM table of raw text — data-dependent and unbounded
    * (billions of rows on web-scale corpora), so it carries NO broadcast
    * hint ("only provably bounded relations carry a broadcast hint",
    * [[graft.operators.Recommend]]): the df side reuses its own
    * aggregation's term partitioning, tf pays one exchange on term, and
    * AQE may still elect a broadcast at runtime when df MEASURES small —
    * the decision belongs to the runtime, not a compile-time promise.
    * Only the 1-row corpus count keeps its hint. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // tf off the memoized per-(doc,term) frame (round 18, guide §1.2):
    // [[Retrieval.docTf]] IS this query's tf relation — the whole
    // LM-statistics tier already shares that one token-stream shuffle,
    // and tfidf was the last consumer still re-exploding the corpus and
    // re-aggregating the identical counts per run. Identical values by
    // construction (same groupBy over the same scan).
    val tf = Retrieval.docTf(spark, dir)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** `ngram_counts`: corpus-level top-k n-gram statistics (default
    * 2-grams) — the corpus-statistics pass a tokenizer/data-audit
    * pipeline runs first: which token sequences dominate the corpus,
    * with document frequency alongside raw occurrence count.
    * Occurrences count REPEATS within a doc (no array_distinct —
    * unlike the dedup shingles, frequency is the signal here); df
    * counts each doc once.
    *
    * Scale: explode → one partial-aggregated shuffle on the n-gram —
    * the map-side combine collapses within-partition repeats, so the
    * shuffle carries (distinct-ngram × partition) rows, not the token
    * stream; top-k plans as TakeOrderedAndProject. */
  def ngramCounts(spark: SparkSession, dir: String, n: Int = 2,
      k: Int = 100): DataFrame = {
    // pre-split `t` once per row (the textCleanOf pattern): a split
    // inside the interpreted transform lambda re-splits the document
    // per element — O(len²) chars per doc (see Dedup.shinglesOf)
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(t) >= $n
           |  THEN transform(sequence(0, size(t) - $n),
           |         i -> concat_ws(' ', slice(t, i + 1, $n)))
           |  ELSE array()
           |END""".stripMargin)).as("gram"))
    // two-level aggregation instead of count+countDistinct in one agg:
    // the mixed form makes Catalyst Expand the gram stream (one copy
    // per aggregate family — 2× rows through the shuffle), while
    // (gram, doc) partial counts collapse in the map side and the
    // second agg is over the already-distinct pairs
    grams.groupBy("gram", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("gram")
      .agg(sum("c").as("occurrences"), count(lit(1)).as("df"))
      .orderBy(desc("occurrences"), asc("gram"))
      .limit(k)
  }

  /** `vocab_build`: tokenizer-vocabulary construction — the frequency
    * table a WordLevel/BPE trainer seeds from: tokens with at least
    * `minCount` occurrences, assigned DENSE deterministic ids by
    * (-count, token) rank. Reproducible across runs and engines (rank
    * over exact counts with a total tie-break), which is the property a
    * training pipeline needs: re-running vocab construction must never
    * renumber the embedding matrix.
    *
    * Scale: token-count aggregation is one partial-aggregated shuffle;
    * the global dense rank is NOT a single-partition window (the
    * oracle's naive form, and exactly what the repo's plan guard
    * rejects) but the distributed two-pass shape: range-partition +
    * sort on (-n, token) — a total global order — then
    * `zipWithIndex`'s per-partition-count + offset pass assigns global
    * ids without any executor seeing more than its slice. Same family
    * as [[Corpus.packAssign]]'s prefix sum; partition boundaries
    * cannot change the ids (the rank is over the total order wherever
    * it is cut). */
  def vocabBuild(spark: SparkSession, dir: String,
      minCount: Long = 5L): DataFrame =
    vocabFrame(spark, dir, minCount).orderBy("token_id")

  /** The memoized (token_id, token, n) vocabulary — the builder behind
    * [[vocabBuild]], [[vocabCoverage]], [[tokenizeIds]], [[tokenizeUnk]]
    * and (through tokenizeUnk) `pack_tokens` (round 18): five declared
    * queries each re-ran the corpus token-count aggregation + the
    * two-pass distributed rank per run — one session now materializes
    * the vocabulary once, like docTf/shingles/coocCounts. The memo holds
    * the UNSORTED frame; the deterministic `orderBy` stays OUTSIDE in
    * each consumer's plan, so limit-after-sort semantics (tokenize's
    * statically-bounded top-`vocabSize` slice) never depend on cache
    * partition order. */
  private def vocabFrame(spark: SparkSession, dir: String,
      minCount: Long): DataFrame =
    graft.model.BuilderCache.memo(spark, s"vocab:$dir:$minCount") {
      import spark.implicits._
      val counts = Tables.documents(spark, dir)
        .select(explode(toks(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= minCount)
      counts
        .repartitionByRange(desc("n"), asc("token"))
        .sortWithinPartitions(desc("n"), asc("token"))
        .select("token", "n").as[(String, Long)]
        .rdd.zipWithIndex()
        .map { case ((t, n), i) => (i, t, n) }
        .toDF("token_id", "token", "n")
    }

  /** `vocab_coverage`: the tokenizer-sizing audit — for the top `topR`
    * tokens by frequency (rank order = [[vocabBuild]]'s (-count, token),
    * so ranks are ids+1 of the vocabulary the trainer would actually
    * emit): cumulative token-stream coverage ("how much of the corpus do
    * the first r vocabulary entries explain?" — the curve that decides
    * vocab size and predicts the UNK rate at any cutoff) and the local
    * Zipf exponent ln(n₁/nᵣ)/ln(r) — the power-law fit point at each
    * rank, the standard corpus-health audit (natural text sits near 1;
    * a flat profile means synthetic/templated text, a cliff means a
    * truncated domain). Exponents are per-row arithmetic on exact
    * integer counts (no float accumulation), the cumulative sum is an
    * exact long, and each ratio rounds once — engine-deterministic like
    * every other float output.
    *
    * Scale posture: the corpus-wide work is [[vocabBuild]]'s
    * partial-aggregated count shuffle + distributed rank; everything
    * after `limit(topR)` operates on a STATICALLY bounded relation
    * (topR rows — the same "provably bounded" condition the broadcast
    * rule uses), so the unpartitioned window and 1-row-totals
    * cross-joins are constant-size at any corpus scale. */
  def vocabCoverage(spark: SparkSession, dir: String,
      topR: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = vocabBuild(spark, dir, minCount = 1L).limit(topR)
      .select((col("token_id") + 1).as("rank"), col("token"), col("n"))
    // Σ tokens off the memoized docTf (round 18, same identity argument
    // as bm25's stats: Σ tf = Σ size(split(text)) — NULL text
    // contributes to neither sum) instead of a second full-corpus
    // tokenize pass per run.
    val totals = Retrieval.docTf(spark, dir)
      .agg(sum("tf").cast("long").as("t_tokens"))
    val cum = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked
      .withColumn("cum_tokens", sum("n").over(cum))
      .withColumn("n1", max("n").over(full))
      .crossJoin(broadcast(totals))
      .select(col("rank"), col("token"), col("n"), col("cum_tokens"),
        round(col("cum_tokens") / col("t_tokens").cast("double"), 6)
          .as("coverage"),
        when(col("rank") > 1,
          round(log(col("n1").cast("double") / col("n"))
            / log(col("rank").cast("double")), 6)).as("zipf_exp"))
      .orderBy("rank")
  }

  /** `tokenize_ids`: apply the [[vocabBuild]] vocabulary to the corpus —
    * the tokenization step between vocabulary construction and
    * [[Corpus.packAssign]]: every in-vocabulary token occurrence becomes
    * one (doc_id, pos, token_id) row, `pos` the token's ORIGINAL
    * position (OOV tokens drop — the WordLevel-without-UNK convention —
    * so position gaps mark where OOV stood; a real pipeline would map
    * them to an UNK id with one coalesce).
    *
    * Scale posture: the vocabulary is capped at `vocabSize` (real
    * tokenizers are fixed-size — 32-100k entries) via limit over the
    * already-ranked ids, which gives the relation a STATIC row bound —
    * exactly the "provably bounded" condition the repo's broadcast rule
    * requires. The token stream therefore never shuffles: scan →
    * posexplode → broadcast-hash-join, embarrassingly parallel at any
    * corpus size (contrast tokenize-by-shuffle-join, which moves the
    * whole token stream over the network). */
  def tokenizeIds(spark: SparkSession, dir: String, minCount: Long = 5L,
      vocabSize: Int = 50000): DataFrame = {
    val vocab = vocabBuild(spark, dir, minCount).limit(vocabSize)
      .select("token", "token_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(vocab), "token")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** `tokenize_unk`: [[tokenizeIds]] with the UNK convention real
    * pipelines use — every token position yields a row, OOV maps to the
    * reserved UNK id instead of dropping. Index 0 is reserved for UNK
    * (ids would otherwise collide: [[vocabBuild]] assigns dense ids from
    * 0, so the standard shift-by-one applies — in-vocab token i becomes
    * id i+1), giving row count == total token count with no position
    * gaps. Same plan shape as [[tokenizeIds]]: the statically-bounded
    * vocabulary broadcasts, the join flips to left-outer plus one
    * coalesce — the token stream still never shuffles. */
  def tokenizeUnk(spark: SparkSession, dir: String, minCount: Long = 5L,
      vocabSize: Int = 50000): DataFrame = {
    val vocab = vocabBuild(spark, dir, minCount).limit(vocabSize)
      .select(col("token"), (col("token_id") + 1).as("vocab_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(vocab), Seq("token"), "left_outer")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("vocab_id"), lit(0L)).as("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** `text_repetition`: the repetition quality filter (the Gopher-family
    * "fraction of tokens inside duplicated n-grams" gate) — boilerplate
    * and degenerate generations repeat themselves, and excess bigram
    * repetition is the standard detector. Per document: bigram total,
    * the most-repeated bigram's count, the number of bigram slots
    * occupied by duplicated bigrams (count ≥ 2, each occurrence
    * counted), and their ratio; `keep_rep` flags documents under the
    * 0.25 ratio (dyadic threshold — the comparison is engine-exact, the
    * ratio itself one correctly-rounded division of exact longs).
    *
    * Scale: explode → groupBy(doc, gram) partial-agg → groupBy(doc) —
    * two map-side-combined shuffles keyed by doc; no corpus-wide state
    * (contrast [[ngramCounts]], which aggregates ACROSS docs). In-row
    * alternative (aggregate over a sorted gram array) would avoid the
    * shuffles but put an O(|doc|) sort per row inside a lambda — the
    * groupBy form keeps codegen and AQE in charge. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    textRepetitionOf(Tables.documents(spark, dir)).orderBy("doc_id")

  /** [[textRepetition]] over any (doc_id, text, ...) relation — the
    * form the streaming ingestion runs per micro-batch. */
  private[graft] def textRepetitionOf(docs: DataFrame): DataFrame = {
    // pre-split `t` once per row — same O(len²)-avoidance note as
    // ngramCounts/Dedup.shinglesOf
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) >= 2
          |  THEN transform(sequence(0, size(t) - 2),
          |         i -> concat_ws(' ', slice(t, i + 1, 2)))
          |  ELSE array()
          |END""".stripMargin)).as("gram"))
    grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        max("c").as("top_rep"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("rep_slots"))
      .select(col("doc_id"), col("n_bigrams"), col("top_rep"),
        col("rep_slots"),
        round(col("rep_slots") / col("n_bigrams"), 6).as("rep_ratio"),
        (col("rep_slots") / col("n_bigrams") < 0.25).as("keep_rep"))
  }

  /** `span_dup_rate`: CROSS-DOCUMENT exact-substring duplication — per
    * document, the fraction of its 8-token span positions whose span
    * also occurs in at least one OTHER document. This is the
    * document-level signal of the exact-substring dedup family (long
    * verbatim overlaps mean boilerplate, mirrors, or licensing text) —
    * distinct from [[textRepetition]] (WITHIN-doc repetition) and
    * [[graft.operators.Corpus.decontaminate]] (train/test overlap
    * specifically). `keep_span` gates at a dyadic 0.5 — a document
    * mostly made of spans found elsewhere is a duplication artifact.
    *
    * Scale: span→(doc, span) partial-agg shuffle, a span-keyed df
    * aggregation, and one semi-join of the per-doc span counts against
    * the df≥2 span set — the [[Corpus.decontaminate]] shape, equi-keyed
    * end to end, no pairwise expansion (doc-pair enumeration is the
    * near-dup tier's job; this tier only asks "seen elsewhere?", which
    * is a df threshold, not a join of documents). Span strings never
    * carry doc lists; the heaviest relation is the (doc, span, count)
    * stream, linear in corpus tokens. */
  def spanDupRate(spark: SparkSession, dir: String): DataFrame =
    spanDupRateOf(Tables.documents(spark, dir)).orderBy("doc_id")

  /** [[spanDupRate]] over any (doc_id, text, ...) relation. */
  private[graft] def spanDupRateOf(docs: DataFrame, n: Int = 8): DataFrame = {
    // pre-split `t` once per row — same O(len²)-avoidance note as
    // ngramCounts/Dedup.shinglesOf
    val spans = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(t) >= $n
           |  THEN transform(sequence(0, size(t) - $n),
           |         i -> concat_ws(' ', slice(t, i + 1, $n)))
           |  ELSE array()
           |END""".stripMargin)).as("s"))
    val perDoc = spans.groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
    // df over the already-distinct (doc, span) pairs; ≥2 docs → shared
    val shared = perDoc.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("s")
    val nDup = perDoc.join(shared, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(sum("c").as("n_dup"))
    val totals = docs.select(col("doc_id"), expr(
      s"""CAST(CASE WHEN size(split(text, ' ')) >= $n
         |  THEN size(split(text, ' ')) - ${n - 1} ELSE 0
         |END AS BIGINT)""".stripMargin).as("n_spans"))
    totals.join(nDup, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_spans") > 0,
          round(coalesce(col("n_dup"), lit(0L)) / col("n_spans"), 6))
          .otherwise(0.0).as("dup_rate"),
        (when(col("n_spans") > 0,
          coalesce(col("n_dup"), lit(0L)) / col("n_spans"))
          .otherwise(0.0) < 0.5).as("keep_span"))
  }

  /** `text_clean`: cross-document boilerplate REMOVAL — the action whose
    * metric is [[spanDupRate]]: drop every token position covered by an
    * n-token span that also appears in at least one OTHER document
    * (df ≥ 2 over distinct (doc, span) — within-doc repetition is
    * [[textRepetition]]'s business and is deliberately not removed),
    * and reassemble the surviving tokens in order. This is the
    * line/paragraph-dedup step of the CCNet/RefinedWeb family adapted to
    * the corpus's newline-free token streams: shared spans are mirrors,
    * license headers, and template boilerplate; removing them (rather
    * than dropping whole documents) is the standard middle ground
    * between exact-dedup and near-dup document removal. A fully-shared
    * document cleans to the empty string — the caller's signal that
    * document-level dedup should have caught it.
    *
    * Scale posture: span df is one partial-aggregated shuffle over the
    * (doc, span) stream (linear in corpus tokens, the [[spanDupRate]]
    * shape); hot starts come back per-doc via one semi-join + groupBy —
    * a bounded integer list per document (≤ its token count), never a
    * pairwise doc expansion. The removal itself is in-row array
    * arithmetic over (positions × hot spans), both bounded by document
    * length, inside whole-stage codegen. */
  def textClean(spark: SparkSession, dir: String): DataFrame =
    textCleanOf(Tables.documents(spark, dir)).orderBy("doc_id")

  /** [[textClean]] over any (doc_id, text, ...) relation — the
    * fixture-testable form. */
  private[graft] def textCleanOf(docs: DataFrame, n: Int = 8): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val starts = base.select(col("doc_id"), explode(expr(
      s"""CASE WHEN size(t) >= $n
         |  THEN transform(sequence(0, size(t) - $n),
         |         i -> struct(i AS start,
         |                     concat_ws(' ', slice(t, i + 1, $n)) AS s))
         |  ELSE array()
         |END""".stripMargin)).as("sp"))
      .select(col("doc_id"), col("sp.start").as("start"), col("sp.s").as("s"))
    val shared = starts.select("doc_id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("s")
    val hotStarts = starts.join(shared, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(sort_array(collect_set(col("start"))).as("hs"))
    base.join(hotStarts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("t"),
        coalesce(col("hs"), expr("CAST(array() AS array<int>)")).as("hs"))
      .withColumn("kept", expr(
        s"""filter(sequence(0, size(t) - 1),
           |  i -> NOT exists(hs, st -> i >= st AND i < st + $n))"""
          .stripMargin))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ",
          expr("transform(kept, i -> element_at(t, i + 1))")).as("clean_text"))
  }

  /** `span_survivors`: exact-substring dedup with KEEP-ONE survivorship —
    * the production discipline of the suffix-array dedup family
    * (deduplicating a training corpus removes every repeated substring
    * of length ≥ n EXCEPT one canonical occurrence, so the information
    * survives the cleaning; contrast [[textClean]], which removes every
    * copy — right for boilerplate, wrong for content that merely
    * happens to be mirrored). This closes the tier gap between
    * exact-DOCUMENT dedup ([[graft.operators.Dedup.dedupSurvivors]]:
    * whole docs, keep min doc_id) and near-dup removal: here the unit
    * is the n-token span, and the survivor rule is the same
    * deterministic min — for each span with df ≥ 2 (distinct docs), the
    * MIN doc_id containing it is the keeper; every position of that
    * span in every OTHER document is removed, and surviving tokens
    * reassemble in order. Within-doc repeats inside the keeper survive
    * whole ([[textRepetition]] owns within-doc repetition — same
    * boundary as textClean). Fixed-width n-gram windows with
    * position-coverage union are the standard scalable stand-in for
    * maximal duplicated substrings: any duplicated run of length
    * ≥ n is covered window-by-window, so its non-keeper copies are
    * removed in full without ever building a suffix array.
    *
    * Scale posture: identical shapes to [[textCleanOf]] — the span df
    * aggregation gains one `min(doc_id)` alongside the count (same
    * single partial-agg shuffle over the distinct (doc, span) stream),
    * the hot-start recovery is the same semi-join-shaped equi-join now
    * also filtering `doc_id != keeper`, and removal is in-row array
    * arithmetic bounded by document length. A span shared by 100k docs
    * costs one df row and its per-doc start lists — never a doc-pair
    * expansion (GuardSpec pins completion + correct survivorship under
    * exactly that hot-span shape). */
  def spanSurvivors(spark: SparkSession, dir: String): DataFrame =
    spanSurvivorsOf(Tables.documents(spark, dir)).orderBy("doc_id")

  /** [[spanSurvivors]] over any (doc_id, text, ...) relation — the
    * fixture-testable form. */
  private[graft] def spanSurvivorsOf(docs: DataFrame, n: Int = 8)
      : DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val starts = base.select(col("doc_id"), explode(expr(
      s"""CASE WHEN size(t) >= $n
         |  THEN transform(sequence(0, size(t) - $n),
         |         i -> struct(i AS start,
         |                     concat_ws(' ', slice(t, i + 1, $n)) AS s))
         |  ELSE array()
         |END""".stripMargin)).as("sp"))
      .select(col("doc_id"), col("sp.start").as("start"), col("sp.s").as("s"))
    // one aggregation carries both the df gate and the survivor
    // election; keeper = min doc_id over the span's distinct docs
    val shared = starts.select("doc_id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"), min("doc_id").as("keeper"))
      .filter(col("df") >= 2).select("s", "keeper")
    val hotStarts = starts.join(shared, Seq("s"))
      .filter(col("doc_id") =!= col("keeper"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("start"))).as("hs"))
    base.join(hotStarts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("t"),
        coalesce(col("hs"), expr("CAST(array() AS array<int>)")).as("hs"))
      .withColumn("kept", expr(
        s"""filter(sequence(0, size(t) - 1),
           |  i -> NOT exists(hs, st -> i >= st AND i < st + $n))"""
          .stripMargin))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ",
          expr("transform(kept, i -> element_at(t, i + 1))")).as("clean_text"))
  }

  /** PII detection patterns shared by the Spark query and (verbatim —
    * they are alternation-free, so Java's leftmost-first and DuckDB/RE2's
    * leftmost-longest matching coincide) the DuckDB oracle. Kept to
    * constructs both engines implement identically: character classes,
    * greedy bounded/unbounded repetition, and `\b` word boundaries. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private[graft] val IpRe =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** `pii_redact`: PII scrubbing — the redaction pass every
    * training-data pipeline runs before text leaves curation (the
    * CCNet/Dolma-family rule set: emails, phone numbers, IP addresses →
    * typed placeholder tokens), declared as per-row detection counts
    * plus the redacted text. The synthetic corpus is word-soup with no
    * natural PII, so the declared query runs the operator over CONTACT
    * NOTES synthesized deterministically from the `customer` dimension —
    * both engines build identical strings from the same rows (integer
    * and string fields only — no float formatting crosses the engine
    * boundary), so the hash gate genuinely exercises the regex
    * semantics: which spans match, in what order they are replaced, and
    * how counts are taken. PII presence varies by customer key (mod
    * gates below), so counts span 0..1 per category rather than
    * degenerating to a constant column. Redaction order is fixed
    * email → IP → phone; counts are taken on the ORIGINAL text
    * independently, so order never affects them.
    *
    * Scale posture: embarrassingly parallel — scan → project, zero
    * shuffles except the deterministic output sort; each row does three
    * regex scans + three replaces over its own text, inside whole-stage
    * codegen (`regexp_extract_all` / `regexp_replace` builtins, no
    * UDF). At 100 TB this is the canonical map-only pass: cost is one
    * read of the text column, pushdown-prunable to exactly the columns
    * used. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactOf(piiNotes(spark, dir), "customer_id", "note")
      .orderBy("customer_id")

  /** Deterministic contact-note synthesis over `customer` — the declared
    * query's input. Segment gates (custkey mod 3 / 2 / 5) decide which
    * PII categories a row carries. */
  private[graft] def piiNotes(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("customer_id"),
        concat(
          col("c_name"), lit(" ("), col("c_mktsegment"), lit(")"),
          when(col("c_custkey") % 3 =!= 0,
            concat(lit(" email c"), col("c_custkey").cast("string"),
              lit("@example.com"))).otherwise(""),
          when(col("c_custkey") % 2 === 0,
            concat(lit(" phone +1-555-"),
              lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
            .otherwise(""),
          when(col("c_custkey") % 5 =!= 1,
            concat(lit(" ip 10."), col("c_nationkey").cast("string"),
              lit(".0."), (col("c_custkey") % 256).cast("string")))
            .otherwise(""),
          lit(" account under review")).as("note"))

  /** [[piiRedact]] over any (id, text) relation — the generic operator
    * (and the fixture-testable form): detection counts per category on
    * the original text, then placeholder substitution in fixed order. */
  private[graft] def piiRedactOf(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0)))
        .cast("long").as("n_phone"),
      size(regexp_extract_all(t, lit(IpRe), lit(0)))
        .cast("long").as("n_ip"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          IpRe, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"))
  }

  /** `lang_id`: stopword-vote language identification — count function
    * words per language, argmax with a deterministic tie-break (en > fr >
    * de > es). A real corpus would use char n-gram profiles; the mechanism
    * (per-language token votes + argmax, one scan, no shuffle) is the
    * scale-relevant part. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    def votes(words: Seq[String]): Column = size(expr(
      s"filter(split(text, ' '), x -> x IN (${words.map("'" + _ + "'").mkString(", ")}))"))
    val en = votes(Seq("the", "a", "of", "and", "in"))
    val fr = votes(Seq("le", "la", "de", "et", "un"))
    val de = votes(Seq("der", "die", "das", "und", "ein"))
    val es = votes(Seq("el", "los", "de", "y", "un"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("label"),
        en.cast("long").as("en_votes"), fr.cast("long").as("fr_votes"),
        de.cast("long").as("de_votes"), es.cast("long").as("es_votes"),
        when(en >= fr && en >= de && en >= es, "en")
          .when(fr >= de && fr >= es, "fr")
          .when(de >= es, "de")
          .otherwise("es").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Character-trigram profiles for [[langIdNgram]] — a handful of
    * high-frequency trigrams per language (leading/trailing spaces are
    * significant: " th" ≠ "the"). All patterns are exactly 3 chars so the
    * occurrence count divides evenly. */
  private val NgramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "the", "ing", " an", "ion"),
    "fr" -> Seq(" le", "les", " de", "ent", "que"),
    "de" -> Seq("der", "die", "sch", "ein", "und"),
    "es" -> Seq(" el", "los", "las", "ado", " de"))

  /** `lang_id_ngram`: character-n-gram language identification — the
    * profile-based heuristic real pipelines use when token lists are too
    * brittle: per language, sum the occurrence counts of a few
    * high-frequency character trigrams (counted via the length-delta of
    * `replace`, an exact integer — no regex, no explode), argmax with the
    * same deterministic tie-break as [[langId]]. Still one scan, zero
    * shuffles, all codegen'd string builtins; the two heuristics
    * cross-check each other in ExtensionSpec. */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame = {
    def occurrences(t: String): Column =
      expr(s"(length(text) - length(replace(text, '$t', ''))) div 3")
    val score: Map[String, Column] = NgramProfiles.map { case (l, ts) =>
      l -> ts.map(occurrences).reduce(_ + _) }.toMap
    val (en, fr, de, es) =
      (score("en"), score("fr"), score("de"), score("es"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("label"),
        en.as("en_score"), fr.as("fr_score"),
        de.as("de_score"), es.as("es_score"),
        when(en >= fr && en >= de && en >= es, "en")
          .when(fr >= de && fr >= es, "fr")
          .when(de >= es, "de")
          .otherwise("es").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** `bpe_merges`: corpus-scale BPE merge learning (Sennrich, Haddow &
    * Birch, ACL 2016, "Neural Machine Translation of Rare Words with
    * Subword Units" — the iterative merge loop of learn_bpe.py), applied
    * at WORD granularity: each step counts adjacent token pairs across
    * the whole corpus, picks the most frequent pair (ties broken
    * (count DESC, left ASC, right ASC) — deterministic where the
    * original samples dict order), and rewrites every greedy
    * left-to-right non-overlapping occurrence into the single token
    * `left_right`. This completes the tokenizer-training tier:
    * [[vocabBuild]] gives the frequency vocabulary, bpe_merges learns
    * the merge table, [[tokenizeIds]] applies a vocabulary to the
    * stream. Output: one row per merge step (step, lhs, rhs, merged,
    * pair_count), the merge table in training order.
    *
    * Merge application is [[bpeApply]], the string-domain replace the
    * DuckDB oracle uses too: its left-to-right literal scan is exactly
    * BPE's greedy rule — in `a a a` under merge (a,a) the first pair
    * wins and the third `a` survives, because the merged `a_a` is a NEW
    * symbol that only pairs in LATER steps. BpeSpec pins the string
    * form's parity against an independent array-fold reference. `_` as
    * the join char is safe here: corpus tokens are `[a-z0-9]+`, and
    * split-derived tokens can never contain the space separator.
    *
    * The rounds are [[bpeLearn]]'s, under [[graft.algo.Fixpoint]], each
    * collecting exactly ONE row (the winning pair — a bounded collect).
    * Scale posture: the token stream NEVER shuffles — each round is
    * scan → map-only pair extraction → a count shuffle keyed by distinct
    * pair (≤ vocab², not corpus size) → top-1, and the merge apply is
    * map-only, pipelined into the next round's scan. A realistic
    * tokenizer runs 10³–10⁴·5 merges, so every [[BpeCheckpointEvery]]
    * rounds the rewritten corpus is cut: plan depth and codegen nesting
    * stay ≤ the cadence, and each count re-scans at most that many
    * replaces past the last cut. The cuts are corpus-sized strings at
    * MEMORY_AND_DISK (⌈nMerges/cadence⌉ of them, evictable); a cluster
    * would use reliable checkpoints and unpersist the superseded one.
    * BpeSpec's depth test pins nMerges = 64 (4 cut generations) against
    * the independent reference; 64-round walls: 21.6 s cold sf0.01,
    * 46.3 s sf0.1 (SCALING.md round-11 has the cadence A/B).
    *
    * Incremental counting (learn_bpe.py's update of pair counts around
    * rewritten occurrences) is deliberately NOT taken: it carries a
    * mutable pair-count state across rounds (a 2nd stateful frame or a
    * driver map of up to vocab² entries), while the full recount is one
    * map-side-combined shuffle, and the measured 64-round wall at sf0.01
    * is per-job scheduling, not counting (SCALING.md). */
  def bpeMerges(spark: SparkSession, dir: String,
      nMerges: Int = 4): DataFrame =
    // Session-memoized (the simhash/pagerank-fixpoint pattern): the
    // merge table is the learn loop's whole output — nMerges rows — and
    // a pipeline that both learns (`bpe_merges`) and encodes
    // (`bpe_encode` collects this table for its k encode passes) would
    // otherwise pay the 4-round corpus-sized learn loop twice (r14
    // verdict item 2). Bench-wise this makes bpe_merges a cold-gated
    // query (Bench.coldBaselineSec) with a release hook, like the other
    // memoized chains. One row per document with f = 1: the token
    // stream takes no grouping shuffle before the loop.
    graft.model.BuilderCache.memo(spark, s"bpeMerges:$dir:$nMerges") {
      val docs = Tables.documents(spark, dir)
        .select(array_join(toks(col("text")), " ").as("s"), lit(1L).as("f"))
      bpeLearn(spark, docs, nMerges, glue = "_", raw = true)
    }

  /** Plan-depth cap for [[bpeLearn]]: rounds between lineage cuts of
    * the rewritten table, picked by SCALING.md's round-11 cadence A/B
    * (round 13 re-validates it for the byte domain). Cadence moves cuts,
    * never merge results (BpeSpec's 64-round cases cross generations). */
  val BpeCheckpointEvery: Int = 16

  /** One BPE merge application, the doubled-space replace both the
    * DuckDB oracles and every learner and encoder here use: double
    * every separator in the space-joined symbol column `s` so each
    * symbol owns a space on both sides, literal-replace ` a␣␣b ` →
    * ` m ` (replace()'s left-to-right scan IS BPE's greedy non-overlap
    * rule), collapse the doubled gaps and trim. Linear in the string's
    * length, where an array fold (`concat(acc, array(x))` per element)
    * copies the accumulator per token: O(len²), measured 5× slower
    * over a 64-round loop at sf0.1. The symbols travel as literal
    * values, never as SQL text, so any character in them is safe.
    *
    * `raw` marks the first apply over raw text. The ORACLE
    * re-normalizes with regexp ' +' every round, and raw text can carry
    * multi-space runs, so the first apply MUST regex-collapse to stay
    * hash-equal on such input. Its output is single-spaced; doubling
    * then makes every separator exactly 2 spaces, and a literal
    * '  '→' ' pass is byte-identical to the regex on that shape. The
    * regex is measurably slower, and a learn loop's lineage
    * re-evaluates every earlier apply in each later round's count, so
    * an all-regex loop paid +20.5 s at sf10 / +155 s at sf30 over
    * regex-once (SCALING.md r15 §2). */
  private def bpeApply(s: Column, a: String, b: String, m: String,
      raw: Boolean): Column = {
    val merged = replace(
      concat(lit(" "), replace(s, lit(" "), lit("  ")), lit(" ")),
      lit(s" $a  $b "), lit(s" $m "))
    trim(
      if (raw) regexp_replace(merged, " +", " ")
      else replace(merged, lit("  "), lit(" ")))
  }

  /** The distributed BPE learn loop over a (s: space-joined symbols,
    * f: long weight) table, shared by both granularities: word level
    * passes one row per document with f = 1 and glues merges with `_`,
    * byte level passes its word-type table and glues with "". Each
    * [[graft.algo.Fixpoint]] round is ONE Spark job, the 1-row collect
    * of the winner by (count DESC, lhs ASC, rhs ASC), whose count is the
    * round's delta (see [[bpeMerges]] for the scale posture). `raw` says
    * the input `s` is raw text (see [[bpeApply]]). */
  private def bpeLearn(spark: SparkSession, table: DataFrame, nMerges: Int,
      glue: String, raw: Boolean): DataFrame = {
    import spark.implicits._
    val none = Vector.empty[(Int, String, String, String, Long)]
    // a round with no pair left records delta 0 and ends the loop
    val (_, merges) = graft.algo.Fixpoint.run("bpe_learn", (table, none),
        nMerges)(_ == 0) { case ((cur, merges), step) =>
      val winner = cur
        .select(split(col("s"), " ").as("t"), col("f"))
        .select(explode(expr(
          """CASE WHEN size(t) >= 2
            |  THEN transform(sequence(0, size(t) - 2),
            |         i -> struct(t[i] AS a, t[i + 1] AS b))
            |  ELSE array() END""".stripMargin)).as("p"), col("f"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      winner.headOption match {
        case Some((a, b, cnt)) =>
          val m = a + glue + b
          val next = cur.select(
            bpeApply(col("s"), a, b, m, raw && step == 1).as("s"), col("f"))
          val cut = if (step % BpeCheckpointEvery == 0 && step < nMerges)
            graft.model.BuilderCache.checkpoint(next) else next
          ((cut, merges :+ ((step, a, b, m, cnt))), cnt.toDouble, -1L)
        case None => ((cur, merges), 0.0, -1L)
      }
    }
    merges
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy("step")
  }

  /** `bpe_encode`: apply the LEARNED merges back to the corpus — the
    * encode step that closes the tokenizer loop (learn the merge table
    * with [[bpeMerges]], then encode the token stream with it). Merges
    * apply in rank order with the exact doubled-space literal replace
    * the learner uses (left-to-right scan = BPE's greedy non-overlap
    * rule), so k merges are k linear codegen'd string passes over the
    * corpus and the merge table itself is k driver-side rows (boundary
    * metadata, the [[graft.operators.Distill]] fit-weights class).
    * Output: per-document token counts before and after encoding plus
    * the compression ratio — the tokenizer-efficiency audit that
    * decides whether a merge budget is paying for itself.
    *
    * Scale posture: the learn phase is [[bpeMerges]] (its scaladoc owns
    * that story); the encode phase is shuffle-free scan→project at any
    * corpus size. */
  def bpeEncode(spark: SparkSession, dir: String,
      nMerges: Int = 4): DataFrame = {
    import spark.implicits._
    val ms = bpeMerges(spark, dir, nMerges)
      .select("lhs", "rhs", "merged")
      .as[(String, String, String)].collect()
    var cur = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("text").as("s"))
    // pass 1 sees RAW text (see bpeApply)
    ms.zipWithIndex.foreach { case ((a, b, m), i) =>
      cur = cur.select(col("doc_id"), col("n_tokens"),
        bpeApply(col("s"), a, b, m, raw = i == 0).as("s"))
    }
    cur.select(col("doc_id"), col("n_tokens"),
      size(split(col("s"), " ")).cast("long").as("n_tokens_bpe"),
      round(size(split(col("s"), " ")).cast("double") / col("n_tokens"),
        6).as("compression"))
      .orderBy("doc_id")
  }

  /** `bpe_merges_bytes`: BYTE/CHAR-level BPE merge learning — the
    * production tokenizer-training shape (Sennrich, Haddow & Birch,
    * ACL 2016, learn_bpe.py's actual granularity), where [[bpeMerges]]
    * learns WORD-pair merges over the pre-tokenized stream. Each word
    * starts as its character sequence with the end-of-word marker
    * glued to the last character (`low` → `l o w</w>`), merges
    * concatenate symbols directly (`l`+`o` → `lo`), and — the key
    * scale property — learning runs over the WORD-FREQUENCY TABLE,
    * not the corpus: pair counts are Σ freq(word) × occurrences-in-
    * word, so after ONE corpus-sized scan-and-count the whole merge
    * loop iterates over a vocabulary-bounded frame (≤ distinct word
    * types, invariant in corpus size at fixed vocabulary — at 100 TB
    * the loop costs the same as at 1 GB; only the initial word count
    * scales). This is exactly how production BPE trainers work and
    * why they can afford 10⁴–10⁵ merge rounds.
    *
    * The string-domain machinery is [[bpeMerges]]'s: symbols live
    * space-joined per word type, [[bpeApply]] applies a merge, and
    * above the single-task bound the same [[bpeLearn]] loop runs over
    * the type table. Output schema matches bpe_merges: (step, lhs, rhs,
    * merged, pair_count), pair_count the exact long Σfreq. BpeSpec pins
    * parity against an independent in-test reference implementing the
    * paper's pseudocode over a plain Scala Map, and the DuckDB oracle
    * replays the same rounds as chained CTEs (hash-exact). */
  def bpeMergesBytes(spark: SparkSession, dir: String,
      nMerges: Int = 4): DataFrame =
    // session-memoized like bpeMerges (r14 verdict item 2): the merge
    // table is nMerges rows, and bpe_encode_bytes collects it for its
    // type-table encode — without the memo a learn+encode pipeline
    // would pay the merge loop twice
    graft.model.BuilderCache.memo(spark, s"bpeMergesBytes:$dir:$nMerges") {
      bpeMergesBytesOf(spark,
        Tables.documents(spark, dir).select(toks(col("text")).as("t")),
        nMerges)
    }

  /** Max TOTAL SYMBOLS in the type table for the single-task learner
    * ([[bpeMergesBytesLocal]]): ~8M short strings is low hundreds of
    * MB in one task — conservative for a 4–8 GB production executor.
    * Callers pass `localMaxSymbols = 0` to force the distributed loop. */
  val BpeLocalMaxSymbols: Long = 8000000L

  /** [[bpeMergesBytes]] over any (t: array<string>) corpus — the
    * fixture-testable form.
    *
    * Dispatch (r16 verdict item 1, the [[graft.algo.PageRank]]
    * `runLocal` pattern): the learner's per-round state is the
    * VOCABULARY, not the corpus — after the one corpus-sized count
    * below, the whole merge loop runs over the type table. The
    * distributed loop schedules one Spark job per merge round (a
    * 1-row TakeOrderedAndProject collect), which is fine at k≤64 but
    * is a SCHEDULER wall at the production merge-budget class its own
    * scaladoc names (10⁴–10⁵ rounds): 10⁵ scheduled jobs cost hours
    * independent of data size. When the type table fits one task
    * (total symbols ≤ `localMaxSymbols`), run the classic incremental
    * pair-count learner (Sennrich's learn_bpe update rule: only words
    * CONTAINING the merged pair are touched per round) inside a single
    * `mapPartitions` job — one job total instead of k, executor-side
    * (no driver collect of the types), cluster-safe: it is the
    * single-partition degenerate case made explicit. Identity with
    * the distributed loop is pinned in BpeSpec (same fixture, both
    * paths) and by the unchanged `bpe_merges_bytes` oracle hash. */
  private[graft] def bpeMergesBytesOf(spark: SparkSession,
      corpus: DataFrame, nMerges: Int,
      localMaxSymbols: Long = BpeLocalMaxSymbols): DataFrame = {
    import spark.implicits._
    // ONE corpus-sized aggregation; everything after runs on word
    // TYPES. s = space-joined symbol string ("l o w</w>"), f = type
    // frequency. The marker glues to the last char (Sennrich's tuple
    // shape), so end-of-word symbols never merge across words.
    val wf = corpus
      .select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(expr(
        "concat(trim(regexp_replace(w, '(.)', '$1 ')), '</w>')").as("s"),
        col("f"))
    // one cheap job over the vocabulary-bounded table decides the path
    val totalSyms = wf
      .select(coalesce(sum(size(split(col("s"), " "))), lit(0))
        .cast("long")).as[Long].head()
    if (totalSyms <= localMaxSymbols) bpeMergesBytesLocal(spark, wf, nMerges)
    else bpeLearn(spark, wf, nMerges, glue = "", raw = false)
  }

  /** Single-task byte-level learner: the identical merge semantics —
    * freq-weighted adjacent-pair counts WITH overlaps, winner by
    * (count DESC, lhs ASC, rhs ASC), greedy left-to-right
    * non-overlapping rewrite — run as imperative Scala over the type
    * table inside ONE `mapPartitions` job. Per round: an O(#pairs)
    * winner scan (no heap — at real vocabularies the scan is micro-
    * seconds and a heap's lazy-deletion bookkeeping is where learn_bpe
    * implementations grow bugs) plus incremental count updates touching
    * ONLY the words that contain the winning pair (`where` index), so
    * a 10⁵-round budget costs seconds, not 10⁵ scheduled Spark jobs.
    * Winner selection is a total order, so the result is independent
    * of hash-map iteration order. */
  private def bpeMergesBytesLocal(spark: SparkSession, wf: DataFrame,
      nMerges: Int): DataFrame = {
    import spark.implicits._
    wf.select(split(col("s"), " ").as("t"), col("f"))
      .as[(Seq[String], Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val words = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
        val freqs = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.foreach { case (t, f) => words += t.toArray; freqs += f }
        val counts =
          scala.collection.mutable.HashMap.empty[(String, String), Long]
        val where = scala.collection.mutable
          .HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
        def addPairs(i: Int): Unit = {
          val t = words(i); val f = freqs(i); var j = 0
          while (j < t.length - 1) {
            val p = (t(j), t(j + 1))
            counts(p) = counts.getOrElse(p, 0L) + f
            where.getOrElseUpdate(p,
              scala.collection.mutable.HashSet.empty) += i
            j += 1
          }
        }
        def dropPairs(i: Int): Unit = {
          val t = words(i); val f = freqs(i); var j = 0
          while (j < t.length - 1) {
            val p = (t(j), t(j + 1))
            val c = counts(p) - f
            // c hits 0 only when the last occurrence anywhere is gone
            // (freqs are ≥1 and additions/removals cancel exactly)
            if (c == 0L) { counts.remove(p); where.remove(p) }
            else { counts(p) = c; where.get(p).foreach(_ -= i) }
            j += 1
          }
        }
        def rewrite(t: Array[String], a: String, b: String,
            m: String): Array[String] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < t.length) {
            if (j < t.length - 1 && t(j) == a && t(j + 1) == b) {
              out += m; j += 2
            } else { out += t(j); j += 1 }
          }
          out.toArray
        }
        var i = 0
        while (i < words.length) { addPairs(i); i += 1 }
        val merges = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, String, String, Long)]
        var step = 1
        while (step <= nMerges && counts.nonEmpty) {
          var bp: (String, String) = null
          var bc = 0L
          counts.foreach { case (p, c) =>
            if (bp == null || c > bc || (c == bc &&
                (p._1 < bp._1 || (p._1 == bp._1 && p._2 < bp._2)))) {
              bp = p; bc = c
            }
          }
          val (a, b) = bp
          val m = a + b
          merges += ((step, a, b, m, bc))
          // snapshot: dropPairs/addPairs mutate the index sets
          val affected = where(bp).toArray
          affected.foreach { w =>
            dropPairs(w)
            words(w) = rewrite(words(w), a, b, m)
            addPairs(w)
          }
          step += 1
        }
        merges.iterator
      }
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy("step")
  }

  /** `bpe_encode_bytes`: encode the corpus with a [[bpeMergesBytes]]
    * merge table — the byte-level twin of [[bpeEncode]] and the
    * tokenizer shape that holds at depth. The decisive structural
    * difference from the word-level encode: merges apply to word
    * TYPES, so the k merge passes run over the vocabulary-bounded type
    * table (≤ distinct word types, invariant in corpus size), each
    * type's post-merge SYMBOL count is derived there once, and the
    * only corpus-sized work is one explode → broadcast-join → sum —
    * no per-merge corpus pass at all. At a production merge budget
    * (10⁴–10⁵ rounds) the word-level encode pays k corpus scans; this
    * pays k vocabulary scans plus ONE corpus pass, which is why
    * production tokenizers encode via a type/cache table.
    *
    * Output mirrors `bpe_encode`: (doc_id, n_tokens, n_tokens_bpe,
    * compression) with n_tokens the pre-encode word count and
    * n_tokens_bpe the post-merge symbol count, so compression here is
    * the FERTILITY (symbols per word, ~word length +1 at 0 merges,
    * falling toward 1 as the vocabulary absorbs whole words) — the
    * metric a tokenizer budget is actually tuned on. One exact long
    * division, round 6 — the suite-wide determinism contract. */
  def bpeEncodeBytes(spark: SparkSession, dir: String,
      nMerges: Int = 4): DataFrame = {
    import spark.implicits._
    val ms = bpeMergesBytes(spark, dir, nMerges)
      .select("lhs", "rhs", "merged")
      .as[(String, String, String)].collect()
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
    // the type table: every distinct word as its symbol sequence, all
    // k merges applied by the learner's own rewrite
    var types = words.select("w").distinct()
      .select(col("w"), expr(
        "concat(trim(regexp_replace(w, '(.)', '$1 ')), '</w>')").as("s"))
    ms.foreach { case (a, b, m) =>
      types = types.select(col("w"), bpeApply(col("s"), a, b, m, raw = false)
        .as("s"))
    }
    val symCounts = types
      .select(col("w"), size(split(col("s"), " ")).cast("long").as("n_sym"))
    // the join strategy is deliberately LEFT TO AQE: the type table is
    // vocabulary-bounded (Heaps-law slow), so at working scales AQE
    // converts this to a broadcast join at runtime (PlanSpec pins the
    // conversion at test scale) — but it is still a corpus-DERIVED
    // aggregate, and at extreme corpus sizes the vocabulary itself can
    // outgrow a broadcast, where a shuffled join on w is the only
    // correct plan. Forcing broadcast() here would encode the small-
    // case as policy (the tfidf-guard class of bug); letting the
    // optimizer decide from runtime statistics is the shape that
    // survives both ends.
    words.join(symCounts, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("n_sym").as("n_tokens_bpe"))
      .select(col("doc_id"), col("n_tokens"), col("n_tokens_bpe"),
        round(col("n_tokens_bpe").cast("double") / col("n_tokens"), 6)
          .as("compression"))
      .orderBy("doc_id")
  }
}

package graft
import org.apache.spark.sql.SparkSession

import graft.serve.HttpApi.jStr

/** Benchmark main: runs every declared query at the sf dir and prints ONE
  * JSON line for the driver. Failures are loud: the per-query time map
  * keeps the driver's expected `{"queries":{name:sec}}` shape, but any
  * query that throws lands in `"errors":{name:msg}`, flips `"ok"` to
  * false, and the process exits nonzero — a regression can never "pass"
  * the bench by computing nothing. */
object Bench {

  /** Per-query budgets, RE-DERIVED in round 15 from the r15 QUIET
    * 5-run sweep (PROFILE_r15.md §1: loadavg 1.30/1.37 at start, warm
    * total 52.3 s over 105 queries, zero exceedances against the prior
    * budgets): each entry is that sweep's per-query MEDIAN × 1.5
    * headroom, floored at 0.3 s so sub-100 ms queries don't alarm on
    * scheduler jitter. The r9/r10-era table had gone soft (r14 verdict
    * top item): several queries got 3–10× faster since their budget
    * era (winnow_pairs 1.91→0.87, dedup_simhash_pairs 3.5→2.86,
    * jaccard_lsh 2.7→1.82), so a real 3–5× regression in those passed
    * the old gate silently. A few rows LOOSENED (jaccard_sim
    * 0.74→1.64, pmi_bigrams 3.75→4.15): the driver regenerates the
    * sf0.1 testdata each round, so pair/ngram cardinalities — and the
    * medians that track them — drift with the data, not the code
    * (r14's quiet sweep already had jaccard_sim near 1 s; the 0.5 s
    * era was r12's data). Any query whose MEDIAN exceeds 2× its
    * budget lands in `"regressions"` (after load-gated solo
    * adjudication below) — i.e. the alarm fires at ~3× today's steady
    * state. Old→new per-query deltas are recorded in PROFILE_r15.md.
    *
    * TIGHTENED in round 17 (the optimization round): after the r17
    * plan/expression work the optimized queries run 2–6× under their
    * r15/16 budgets (pmi_bigrams median 2.77→0.42, bigram_nll
    * 3.12→1.31, dedup_simhash_pairs 2.85→0.82, text_repetition
    * 1.64→0.48, winnow_fingerprints 2.37→0.94 — OPTIMIZATION_r17.md),
    * so the old rows had gone soft the same way the r9/r10 table had.
    * Each entry is now min(old budget, r17 MEDIAN × 1.5) with the 0.3 s
    * floor, the median taken per query as the MIN of two 5-run sweeps
    * (both quiet-gated at start; the box's co-tenant bursts mid-sweep,
    * and min-of-medians across two sweeps is the closest available
    * estimate of the quiet median — the second sweep recorded 40.6 s
    * warm/106 with zero exceedances). min(old, new) only ever TIGHTENS:
    * the data fingerprint was unchanged across both sweeps, so any
    * apparent per-query slowdown is load residue, not cost growth.
    *
    * RE-TIGHTENED in round 18 (optimization round 2) by the same rule:
    * each entry is min(old, r18 MEDIAN × 1.5), medians the per-query
    * MIN of two quiet-started 5-run sweeps on the final tree (28.08 s
    * and 28.02 s warm / 106, both with zero exceedances of any kind —
    * OPTIMIZATION_r18.md). 50 entries tightened, zero loosened;
    * fingerprint unchanged. Six queries whose heavy chain moved behind
    * a round-18 session memo (jaccard_lsh, jaccard_sim, winnow_pairs,
    * pack_tokens, vocab_coverage, rec_blend) moved to the COLD gate
    * table below — their medians are now cache-read paths that can
    * never see a chain regression (the bpe_merges/quality_fit
    * precedent). */
  private val baselineSec: Map[String, Double] = Map(
    "adjacency_norm" -> 0.3, "bigram_nll" -> 1.5,
    "bipartite_edges" -> 0.3, "bm25_topk" -> 0.78,
    // bpe_merges is a memo read after bpe_encode (sorted first) warms
    // the shared merge table; the learn CHAIN is carried by
    // bpe_encode's cold gate below
    // bpe_merges_bytes re-tightened in r16: bpe_encode_bytes now
    // first-touches the byte merge memo, so this median is a table
    // read (r16 sweep 0.046 s) — floor applies
    "bpe_merges" -> 0.3, "bpe_merges_bytes" -> 0.3,
    "chunk_assign" -> 0.3, "cluster_stats" -> 0.72,
    "collab_topk" -> 0.62, "cooc_pairs" -> 0.3,
    "cooc_topk" -> 0.49, "corpus_mix" -> 0.3,
    "corpus_prepare" -> 0.71, "corpus_quantiles" -> 0.3,
    "corpus_stats" -> 0.3, "curriculum_order" -> 0.59,
    "decontaminate" -> 0.3, "dedup_clusters" -> 0.3,
    "dedup_embedding" -> 0.3, "dedup_exact" -> 0.3,
    "dedup_minhash" -> 0.3, "dedup_simhash" -> 0.3,
    "dedup_simhash_pairs" -> 1.01, "dedup_survivors" -> 0.3,
    "degree_dist" -> 0.5, "domain_stats" -> 0.3,
    "domain_topk" -> 0.37, "edges_build" -> 1.18,
    "embed_quantize" -> 0.3, "event_anomaly" -> 0.33,
    "event_asof" -> 0.3, "event_edges" -> 0.3,
    "event_funnel" -> 0.3, "event_hourly" -> 0.3,
    "event_retention" -> 0.32, "event_sliding" -> 0.3,
    "event_weights" -> 0.3, "event_window_join" -> 0.3,
    "fim_transform" -> 0.3,
    // jaccard_lsh / jaccard_sim / winnow_pairs / pack_tokens /
    // vocab_coverage / rec_blend: cold-gated since r18 (see
    // coldBaselineSec — their chains live behind session memos now)
    "jaccard_lsh_2l" -> 1.86,
    "json_props" -> 0.3, "knn_bucketed" -> 0.3,
    "knn_ivf" -> 0.3, "knn_ivf_fixed" -> 0.42,
    "knn_multiprobe" -> 0.3, "knn_quantized" -> 0.41,
    "lang_id" -> 0.3, "lang_id_ngram" -> 0.3,
    "multimodal_features" -> 0.38, "multimodal_frames" -> 0.3,
    "multimodal_resize" -> 0.3, "ngram_counts" -> 1.01,
    "ngram_jaccard" -> 0.99, "orderfreq_topk" -> 0.76,
    "pack_assign" -> 0.32, "pack_manifest" -> 0.3,
    "pii_redact" -> 0.3,
    "pmi_bigrams" -> 0.53, "popularity_approx" -> 0.83,
    "popularity_topk" -> 0.48,
    // quality_fit's warm runs are fitSums-memo reads since round 15;
    // the fit CHAIN is carried by mix_quality's cold gate (the
    // alphabetically-first toucher, the graph_stats pattern)
    "quality_fit" -> 0.3, "quality_predict" -> 0.3,
    "reach_hops" -> 1.49,
    "rec_blend_fixed" -> 0.47, "rec_blend_full" -> 0.87,
    "sample_stratified" -> 0.5, "scan_project" -> 0.3,
    "semdedup_fixed" -> 0.32, "sessionize" -> 0.4,
    "sim_topk" -> 0.3, "source_cap" -> 0.32,
    "source_kl" -> 0.33, "span_dup_rate" -> 0.3,
    "span_survivors" -> 0.3, "split_assign" -> 0.3,
    "text_clean" -> 0.3, "text_entropy" -> 0.37,
    "text_fingerprint" -> 0.3, "text_quality" -> 0.3,
    "text_repetition" -> 0.63, "text_tokens" -> 0.3,
    "tfidf" -> 0.44, "tokenize_ids" -> 0.3,
    "tokenize_unk" -> 0.3, "triangle_counts" -> 0.3,
    "triangle_est" -> 1.08, "unigram_logprob" -> 0.52,
    "viz_dot" -> 0.32, "vocab_build" -> 0.3,
    "winnow_fingerprints" -> 1.19)

  /** Queries whose WHOLE RESULT is session-memoized (BuilderCache memo /
    * PageRank fixpoint memo): bench runs 2..N are memo reads (~0.1 s), so
    * a warm median can never see a regression in the actual computation
    * chain (round-5 advice). These gate on the COLD run-1 time instead.
    * RE-DERIVED in round 15 from the same quiet 5-run sweep as the
    * median budgets: each entry is the r15 in-sequence quiet cold
    * × 1.5 headroom (the r8 solo-released regime and in-sequence
    * sorted-order colds were shown to coincide within noise —
    * PROFILE_r08.md §3 — and every r15 cold was taken at start
    * loadavg 1.3). Load-inflated sweep colds that cross the 2× gate
    * are cleared by the solo re-adjudication, so these stay tight
    * enough that a real ~3× chain regression actually fires.
    * TIGHTENED in round 17 like [[baselineSec]]: each entry is
    * min(old budget, r17 in-sequence cold × 1.5), colds taken as the
    * MIN over the round's two 5-run sweeps (same min-only rationale —
    * fingerprint-identical data, so no loosening is warranted).
    * RE-TIGHTENED in round 18 by the same min(old, cold × 1.5) rule
    * over that round's two quiet 5-run sweeps, and EXTENDED with six
    * queries whose heavy chain moved behind a session memo this round
    * (each with its own [[soloRelease]] hook). */
  private val coldBaselineSec: Map[String, Double] = Map(
    // r15 in-sequence cold 4.62 s (corpus_prepare's shared builders
    // warm by then)
    "corpus_prepare_full" -> 2.88,
    // r15 cold 5.82 s: its hook is the only one that also drops the
    // shared adjacency cache, so this budget alone carries the
    // DF→RDD + groupByKey first-touch
    "pagerank_fixed" -> 5.13,
    // r15 cold 0.57 s (warm adjacency, own converged fixpoint)
    "pagerank_global" -> 0.56,
    // r15 cold 0.83 s (warm adjacency, own 8-step seeded fixpoint)
    "ppr_fixed" -> 0.95,
    // r15 cold 0.71 s (warm adjacency, own converged seeded fixpoint)
    "ppr_seeded" -> 0.75,
    // first toucher of the memoized triangle frame in sorted order
    // (cooc builder warm by then); r15 cold 6.38 s
    "graph_stats" -> 9.06,
    // r15 cold 1.42 s (docTf warm in-sequence); its solo hook drops
    // the shared docTf memo, and a solo rebuild (~2.1 s, PROFILE_r09
    // §8) still clears the 2× gate — the one gate that sees a
    // tf-build regression after the round-9 memo
    "nll_bucket" -> 1.78,
    // first toucher of the memoized BPE merge table in sorted order
    // (round 15, the learn-twice fix): its cold runs the 4-round
    // learn loop PLUS its own k encode passes; r15 cold 3.59 s
    "bpe_encode" -> 3.45,
    // first toucher of the memoized fitSums reduction in sorted order
    // (round 15): its cold carries the 9-sum corpus scan the whole
    // distillation tier shares, plus its own score+mix pass; r15
    // cold 0.92 s
    "mix_quality" -> 0.94,
    // first toucher of the memoized byte-level BPE merge table in
    // sorted order (round 16): its cold runs the vocabulary-bounded
    // learn loop plus its own type-table encode + broadcast join; r16
    // quiet 5-run sweep cold 2.09 s (bpe_merges_bytes then reads the
    // memo — its median moved 1.19 → 0.05 s in the same sweep)
    "bpe_encode_bytes" -> 1.8,
    // ---- r18 additions: queries whose heavy chain moved behind a ----
    // ---- session memo this round — medians became cache-read     ----
    // ---- paths, so the in-sequence COLD carries the chain        ----
    // lshSig (md5 + 16-perm signature aggregation); r18 in-seq cold 2.59
    "jaccard_lsh" -> 3.89,
    // jaccardPairs basket-pair build (memoized since r11; the median
    // stopped seeing it then — gated only now); r18 in-seq cold 3.38
    "jaccard_sim" -> 5.07,
    // winnowSets + winnowIdx builds; r18 in-seq cold 2.11
    "winnow_pairs" -> 3.17,
    // vocab:…:5 build (first toucher in sorted order) + its own
    // tokenize+pack pass; r18 in-seq cold 0.56
    "pack_tokens" -> 0.84,
    // vocab:…:1 build (its own minCount key); r18 in-seq cold 0.41
    "vocab_coverage" -> 0.62,
    // recSeeds/recCScore/recJScore fragments + recBlendCand;
    // r18 in-seq cold 2.88
    "rec_blend" -> 4.32)

  /** Memo-release hooks for the cold-gated queries above: before a solo
    * re-run, drop EXACTLY the memo state the query owns — its
    * [[graft.model.BuilderCache]] fixpoint entry — so the gated
    * computation re-executes, while upstream shared state stays warm
    * (every [[coldBaselineSec]] budget is an in-sequence cold that
    * assumes warm shared builders). `pagerank_fixed` sorts first in the
    * sweep and its budget includes the shared-adjacency first-touch, so
    * only ITS hook also drops [[graft.algo.PageRank]]'s adjacency cache;
    * releasing it for the other three would overstate their solo colds
    * against budgets set under a warm adjacency. The `pprRanks` prefix
    * covers both the uniform (pagerank_global) and seeded (ppr_seeded)
    * converged fixpoints — dropping the sibling's memo is harmless, its
    * own hook re-drops before its own solo run — and does NOT touch the
    * serving-path `engine.pprRanks:*` entries. */
  private val soloRelease: Map[String, SparkSession => Unit] = Map(
    "pagerank_fixed" -> { s: SparkSession =>
      graft.algo.PageRank.releaseAdjacency(s)
      graft.model.BuilderCache.release(s, "pprFixed8")
    },
    "pagerank_global" ->
      ((s: SparkSession) => graft.model.BuilderCache.release(s, "pprRanks")),
    "ppr_seeded" ->
      ((s: SparkSession) => graft.model.BuilderCache.release(s, "pprRanks")),
    "ppr_fixed" ->
      ((s: SparkSession) =>
        graft.model.BuilderCache.release(s, "pprSeededFixed8")),
    "corpus_prepare_full" ->
      ((s: SparkSession) =>
        graft.model.BuilderCache.release(s, "corpusPrepareFull")),
    "graph_stats" ->
      ((s: SparkSession) =>
        graft.model.BuilderCache.release(s, "triangleCounts")),
    "nll_bucket" ->
      ((s: SparkSession) => graft.model.BuilderCache.release(s, "docTf")),
    // ":"-terminated so the WORD memo prefix cannot also evict the
    // byte-level sibling's "bpeMergesBytes:*" entries (release is
    // prefix-matched)
    "bpe_encode" ->
      ((s: SparkSession) =>
        graft.model.BuilderCache.release(s, "bpeMerges:")),
    "mix_quality" ->
      ((s: SparkSession) =>
        graft.model.BuilderCache.release(s, "qualityFitSums")),
    "bpe_encode_bytes" ->
      ((s: SparkSession) =>
        graft.model.BuilderCache.release(s, "bpeMergesBytes:")),
    // ---- r18 hooks, one per new cold-gated chain (drop EXACTLY the ----
    // ---- memo state the query owns; upstream shared builders stay  ----
    // ---- warm, reproducing the in-sequence cold conditions)        ----
    "jaccard_lsh" ->
      ((s: SparkSession) => graft.model.BuilderCache.release(s, "lshSig")),
    "jaccard_sim" ->
      ((s: SparkSession) =>
        graft.model.BuilderCache.release(s, "jaccardPairs:")),
    // the winnow prefix covers both winnowSets: and winnowIdx: — the
    // in-sequence cold builds both (winnow_fingerprints does not
    // populate the sets memo; it runs winnowOf directly)
    "winnow_pairs" ->
      ((s: SparkSession) => graft.model.BuilderCache.release(s, "winnow")),
    "pack_tokens" ->
      ((s: SparkSession) => graft.model.BuilderCache.release(s, "vocab:")),
    "vocab_coverage" ->
      ((s: SparkSession) => graft.model.BuilderCache.release(s, "vocab:")),
    // exactly the four rec_blend-owned entries — NOT the "rec" prefix,
    // which would also evict the sibling recBlendFixedCand
    "rec_blend" -> { s: SparkSession =>
      graft.model.BuilderCache.release(s, "recSeeds:")
      graft.model.BuilderCache.release(s, "recCScore:")
      graft.model.BuilderCache.release(s, "recJScore:")
      graft.model.BuilderCache.release(s, "recBlendCand")
    })

  /** 1/5/15-minute load averages — the co-tenant-noise instrument: this
    * box's totals swing ±50% with background load, so every bench line
    * records the load it ran under (before and after) for the reader to
    * discount outliers. */
  private def loadavg: Seq[Double] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).toSeq.map(_.toDouble)
      finally src.close()
    }.getOrElse(Seq.empty)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2) // odd run counts; even → upper median, still robust
  }

  /** The sf0.1 data fingerprint the current budget tables were last
    * CONFIRMED under (the r16 quiet 5-run sweep, PROFILE_r16.md §5 —
    * the first sweep to record one). The driver regenerates testdata
    * per round, so a moved budget median has two candidate causes; a
    * moved fingerprint adjudicates it as DATA mechanically (r16
    * verdict item 6: jaccard_sim's r15 1.09 → r16 0.50 median move at
    * constant code was a distinct-token-count move, and cost a manual
    * SCALING re-derivation to attribute). Field order here is the
    * emission order of the data_fingerprint JSON. */
  private val fingerprintFields =
    Seq("documents", "doc_tokens_distinct", "lineitem", "events")
  private val baselineFingerprint: Map[String, Long] = Map(
    "documents" -> 5000L, "doc_tokens_distinct" -> 31L,
    "lineitem" -> 600000L, "events" -> 100000L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    // warm the session (codegen, scheduler, small-table reads) so the
    // first measured query doesn't absorb JVM startup, and run queries in
    // sorted name order so per-query attribution is stable across rounds
    // (shared cached builders mean the first query touching a subplan
    // pays its materialization)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // median-of-N per query: run1 ("cold") absorbs shared-builder
    // materialization and JIT/page-cache noise, the median is the
    // steady-state cost the budgets actually guard. Both are reported —
    // "queries"/"value" carry medians (sum of medians = total), "cold"/
    // "cold_total" carry run1 — so builder first-touch attribution is in
    // the artifact instead of re-litigated from SCALING runs each round.
    val runsN = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // SPARK_GRAFT_SKIP: comma-separated query names to EXCLUDE from the
    // sweep — for scale runs where a family is measured to exceed the
    // box (round 9: the exact-jaccard builder at sf10 spills ~40 GB and
    // fills /tmp, then OOMs retries; see SCALING.md's crossover section).
    // Never silent: skipped names are listed in the JSON as "skipped",
    // and the driver's sf0.1 gate runs with the variable unset.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val skippedJson = skip.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // quiet = 1-min AND 5-min loadavg both at/under the threshold: the
    // 1-min recovers within seconds of a co-tenant draining while the
    // 5-min still carries the drain — gating on both is what keeps a
    // measured run from timing against work that is still unwinding
    val quietLoad =
      sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "2.0").toDouble
    def loadPair: (Double, Double) = loadavg match {
      case Seq(l1, l5, _*) => (l1, l5)
      case Seq(l1) => (l1, l1)
      case _ => (0.0, 0.0)
    }
    def isQuiet(l: (Double, Double)): Boolean =
      l._1 <= quietLoad && l._2 <= quietLoad
    // Quiet-gate the SWEEP itself (r16 verdict item 2): the
    // driver-recorded BENCH_r16.json started at loadavg 5.11 (residual
    // co-tenant load) and read 27% over the same tree's quiet sweeps,
    // costing a round of artifact comparability. Bounded wait for a
    // quiet box before the first measured query; if the budget expires
    // first, proceed anyway and say so ("load_waived":true) — the
    // sweep must always produce an artifact.
    var startWait =
      sys.env.getOrElse("SPARK_GRAFT_START_WAIT_SECS", "300").toDouble
    var lStart0 = loadPair
    while (!isQuiet(lStart0) && startWait > 0) {
      val s = math.min(15.0, startWait)
      Thread.sleep((s * 1000).toLong); startWait -= s
      lStart0 = loadPair
    }
    val loadWaived = !isQuiet(lStart0)
    val load0 = loadavg
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip(q._1)).map {
      case (name, fn) =>
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var err: Option[String] = None
        var i = 0
        while (i < runsN && err.isEmpty) { // a failing query fails fast
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable => err = Some(e.toString.take(300)) }
          times += (System.nanoTime() - t0) / 1e9
          i += 1
        }
        (name, median(times.toSeq), times.head, err)
    }
    val load1 = loadavg
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val colds = results.map { case (k, _, c, _) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) =>
      s"\"" + k + "\":" + jStr(e) }.mkString("{", ",", "}")
    val ok = results.forall(_._4.isEmpty)
    val total = results.map(_._2).sum
    val coldTotal = results.map(_._3).sum
    // ---- regression self-adjudication (round-6 verdict, top item; ----
    // ---- LOAD-GATED since round 9)                                ----
    // The sweep can record spurious budget exceedances when the box is
    // loaded: BENCH_r06.json flagged 6 queries at loadavg 4.2→7.3 that
    // all re-timed at or under budget on a quiet box. Every sweep
    // exceedance is therefore re-run SOLO after the sweep (serial,
    // nothing else in flight, same session) and only a query that ALSO
    // exceeds its budget solo lands in "regressions"; sweep-only
    // exceedances land in "suspect_load" as {name: [swept_sec,
    // solo_sec]}. Round 8 proved the solo pass ITSELF is not load-proof:
    // text_repetition solo-timed 15.7 s against a 2.76 s budget because
    // the co-tenant load that inflated the sweep was still draining when
    // the solo pass started seconds later (loadavg_solo_end 15-min 5.19),
    // and the artifact "confirmed" a regression that re-times at 2.1 s
    // quiet. A confirmation is now only valid when the confirming solo
    // run executed on a QUIET box: each solo attempt first waits
    // (bounded sleep budget) for the 1-min loadavg to drop to
    // `quietLoad`, records the load it started under (→ "solo_load"),
    // and exceedances are confirmed on the MIN of two spaced attempts —
    // a draining co-tenant inflates the two differently, a real chain
    // regression inflates both. An exceedance whose attempts never got a
    // quiet window lands in "unadjudicated" as {name: [swept_sec,
    // solo_sec, load_1min]} — visibly needing a manual re-time — never
    // in "regressions". Budgets only mean anything at the baseline's
    // scale (sf0.1): on any other sfDir the budget comparisons are
    // skipped entirely and only FORCE_EXCEED-named queries adjudicate.
    // ROUND 10 tightening (two phantom confirms in two rounds —
    // text_repetition r8, jaccard_sim r9): a draining 32-core box
    // recovers its 1-MIN loadavg under the old 4.0 gate while co-tenant
    // work is still unwinding (r9's confirming attempt started at 1-min
    // 1.81 and still timed 2.15× budget; quiet re-time 0.62 s). Quiet
    // now means BOTH the 1-min AND the 5-min loadavg at or under 2.0 —
    // the 5-min average is the drain detector the 1-min cannot be — and
    // confirmation takes the MIN of up to THREE spaced attempts, any
    // one under-budget attempt clearing. Test hooks:
    // SPARK_GRAFT_FORCE_EXCEED routes named queries through
    // adjudication (sweep time reported as the sentinel 9999 s);
    // SPARK_GRAFT_QUIET_LOAD / SPARK_GRAFT_SOLO_WAIT_SECS override the
    // quiet threshold (default 2.0, applied to both loadavg horizons)
    // and the total sleep budget (default 240 s across the whole
    // adjudication phase).
    val forced = sys.env.get("SPARK_GRAFT_FORCE_EXCEED")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val budgetsApply = sfDir.contains("sf0.1")
    val exceeded = results.collect {
      // memoized queries gate on the cold run (the only run that
      // executes the chain); everything else on the median
      case (k, v, c, None)
          if forced.contains(k) ||
            (budgetsApply &&
              (coldBaselineSec.get(k).exists(b => c > 2 * b) ||
                (!coldBaselineSec.contains(k) &&
                  baselineSec.get(k).exists(b => v > 2 * b)))) =>
        val isCold = coldBaselineSec.contains(k)
        val budget = coldBaselineSec.getOrElse(k,
          baselineSec.getOrElse(k, 9999.0))
        val swept = if (forced.contains(k)) 9999.0
          else if (isCold) c else v
        (k, swept, budget, isCold)
    }
    var sleepBudget =
      sys.env.getOrElse("SPARK_GRAFT_SOLO_WAIT_SECS", "240").toDouble
    def nap(secs: Double): Unit = {
      val s = math.min(secs, sleepBudget)
      if (s > 0) { Thread.sleep((s * 1000).toLong); sleepBudget -= s }
    }
    def awaitQuiet(): (Double, Double) = {
      var l = loadPair
      while (!isQuiet(l) && sleepBudget > 0) { nap(30); l = loadPair }
      l
    }
    val soloErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val soloLoads =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Double, Double)]]
    val adjudicated = exceeded.map { case (k, swept, budget, isCold) =>
      // (attempt_sec, (loadavg_1min, loadavg_5min) at attempt start);
      // confirmation requires EVERY attempt over budget, clearing needs
      // only one under
      val attempts =
        scala.collection.mutable.ArrayBuffer.empty[(Double, (Double, Double))]
      var attempt = 0
      var cleared = false
      while (attempt < 3 && !cleared && !soloErrors.contains(k)) {
        if (attempt > 0) nap(30) // space the re-try: draining load decays
        val lStart = awaitQuiet()
        // memoized chains would replay as ~0.1 s memo reads: drop exactly
        // the memo state the query owns before EVERY attempt (upstream
        // shared builders stay warm, reproducing the in-sequence cold
        // conditions the budget was set under) so the solo run
        // re-executes the gated computation. Cold-gated queries run ONCE
        // per attempt — runs 2..N would be memo reads that add
        // wall-clock without affecting the verdict.
        soloRelease.get(k).foreach(_(spark))
        val soloRuns = if (isCold) 1 else runsN
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var i = 0
        while (i < soloRuns && !soloErrors.contains(k)) {
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(k)(spark, sfDir).count()
            times += (System.nanoTime() - t0) / 1e9
          } catch {
            // a solo-pass failure (a path the sweep never exercised, e.g.
            // post-release rebuild) must CONFIRM the exceedance, never
            // time as a fast run that clears it
            case scala.util.control.NonFatal(e) =>
              soloErrors(k) = e.toString.take(300)
          }
          i += 1
        }
        if (!soloErrors.contains(k) && times.nonEmpty) {
          val t = if (isCold) times.head else median(times.toSeq)
          attempts += ((t, lStart))
          cleared = t <= 2 * budget
        }
        attempt += 1
      }
      soloLoads(k) = attempts.toSeq.map(_._2)
      val solo =
        if (soloErrors.contains(k) || attempts.isEmpty) Double.PositiveInfinity
        else attempts.map(_._1).min
      // valid confirmation evidence = at least one attempt started quiet
      // on BOTH loadavg horizons
      val quietRun = attempts.exists(a => isQuiet(a._2))
      (k, swept, solo, budget, quietRun)
    }
    val load2 = loadavg
    // Data fingerprint (round-15 verdict item 6; GATING since r17): the
    // testdata is REGENERATED per round, so a moved median has two
    // candidate causes — code or data. Recording the drift-relevant
    // shape of the input alongside every sweep makes that adjudication
    // mechanical: equal fingerprints ⇒ code; moved fingerprints ⇒ data
    // (jaccard_sim's r15 0.74→1.64 budget move was data —
    // distinct-token growth fans out its pair join — and took a
    // SCALING re-derivation to attribute). Computed AFTER all timing
    // (sweep + solo adjudication) so the extra scans cannot perturb
    // attribution. Guarded (r16 advice): a missing table in this sfDir
    // must not throw after a completed sweep — the gate lines below
    // would never print and a green sweep would report as nothing.
    val fpTry = scala.util.Try {
      import org.apache.spark.sql.functions.{col, countDistinct, explode, split}
      val docs = graft.model.Tables.documents(spark, sfDir)
      val nTok = docs
        .select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok")))
        .head().getLong(0)
      Map(
        "documents" -> docs.count(),
        "doc_tokens_distinct" -> nTok,
        "lineitem" -> spark.read.parquet(s"$sfDir/lineitem.parquet").count(),
        "events" -> graft.model.Tables.events(spark, sfDir).count())
    }
    val fp = fpTry
      .map(m => fingerprintFields.map(f => s""""$f":${m(f)}""")
        .mkString("{", ",", "}"))
      .recover { case e => s"""{"error":${jStr(e.toString.take(200))}}""" }
      .get
    // The budgets only describe the baseline fingerprint's data: when
    // the fingerprint MOVED, a confirmed exceedance adjudicates as
    // "data_drift" (name → solo/budget ratio), not "regression" — the
    // budget row needs re-derivation, the code didn't change its cost.
    // A fingerprint we could not compute does NOT demote anything
    // (conservative: unexplained exceedances stay regressions), and a
    // solo CRASH is never data drift.
    val fpMoved =
      budgetsApply && fpTry.toOption.exists(_ != baselineFingerprint)
    // pagerank_fixed's hook is the only one that drops the app-wide
    // shared adjacency cache; if ITS solo run fails, the later-
    // adjudicated adjacency-dependent queries pay the DF→RDD+groupByKey
    // first-touch against budgets set under a warm adjacency — their
    // exceedances are environment damage, not regressions (round-8
    // advice), so they demote to "unadjudicated".
    val adjacencyDeps = Set("pagerank_global", "ppr_fixed", "ppr_seeded")
    val adjacencyBroken = soloErrors.contains("pagerank_fixed")
    def confirmed(k: String, solo: Double, b: Double, quietRun: Boolean) =
      solo > 2 * b && (solo.isInfinity || // own solo crash: always confirm
        (quietRun && !(adjacencyBroken && adjacencyDeps(k))))
    val suspect = adjudicated.collect {
      case (k, swept, solo, b, _) if solo <= 2 * b =>
        f""""$k":[$swept%.3f,$solo%.3f]"""
    }.mkString("{", ",", "}")
    val unadjudicated = adjudicated.collect {
      case (k, swept, solo, b, quietRun)
          if solo > 2 * b && !confirmed(k, solo, b, quietRun) =>
        val (l1, l5) =
          soloLoads.getOrElse(k, Seq.empty).lastOption.getOrElse((-1.0, -1.0))
        f""""$k":[$swept%.3f,$solo%.3f,$l1%.2f,$l5%.2f]"""
    }.mkString("{", ",", "}")
    val regs = adjudicated.collect {
      case (k, _, solo, b, quietRun)
          if confirmed(k, solo, b, quietRun) &&
            (solo.isInfinity || !fpMoved) =>
        // -1 = the solo run itself failed (see solo_errors)
        if (solo.isInfinity) s""""$k":-1"""
        else f""""$k":${solo / b}%.2f"""
    }.mkString("{", ",", "}")
    val dataDrift = adjudicated.collect {
      case (k, _, solo, b, quietRun)
          if confirmed(k, solo, b, quietRun) && !solo.isInfinity &&
            fpMoved =>
        f""""$k":${solo / b}%.2f"""
    }.mkString("{", ",", "}")
    // per attempt: [loadavg_1min, loadavg_5min] at attempt start
    val soloLoad = soloLoads.map { case (k, ls) =>
      s"\"" + k + "\":" + ls.map { case (l1, l5) =>
        f"[$l1%.2f,$l5%.2f]" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val soloErrs = soloErrors.map { case (k, e) =>
      s"\"" + k + "\":" + jStr(e) }.mkString("{", ",", "}")
    val la = (l: Seq[Double]) => l.mkString("[", ",", "]")
    // the JVM heap this sweep actually ran under (build.sbt couples the
    // default -Xmx to the sf dir; recording it makes scale artifacts
    // self-describing instead of env-var archaeology)
    val heapGb = f"${Runtime.getRuntime.maxMemory / 1073741824.0}%.1f"
    println(s"""{"metric":"total","value":$total,"unit":"sec","ok":$ok,"runs":$runsN,"skipped":$skippedJson,"heap_gb":$heapGb,"loadavg":${la(load0)},"loadavg_end":${la(load1)},"loadavg_solo_end":${la(load2)},"cold_total":$coldTotal,"errors":$errs,"regressions":$regs,"suspect_load":$suspect,"unadjudicated":$unadjudicated,"solo_load":$soloLoad,"solo_errors":$soloErrs,"data_fingerprint":$fp,"fingerprint_moved":$fpMoved,"data_drift":$dataDrift,"load_waived":$loadWaived,"queries":$qs,"cold":$colds,"sf":"$sfDir"}""")
    // The driver keeps only the LAST 2000 chars of stdout: the 59-query
    // "queries"/"cold" maps above push the gate fields (value/ok/
    // regressions) past that window (round-5 verdict). Repeat them in a
    // compact FINAL line so truncation can never eat the gate.
    println(s"""{"metric":"summary","value":$total,"unit":"sec","ok":$ok,"runs":$runsN,"skipped":$skippedJson,"heap_gb":$heapGb,"cold_total":$coldTotal,"errors":$errs,"regressions":$regs,"suspect_load":$suspect,"unadjudicated":$unadjudicated,"solo_load":$soloLoad,"solo_errors":$soloErrs,"data_fingerprint":$fp,"fingerprint_moved":$fpMoved,"data_drift":$dataDrift,"load_waived":$loadWaived,"loadavg":${la(load0)},"loadavg_end":${la(load1)},"loadavg_solo_end":${la(load2)},"sf":"$sfDir"}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}

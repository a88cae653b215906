package graft

import graft.operators.Relational

/** Physical-plan regression tests (SURVEY §4.2: "verify via explain()").
  * These lock in the scale-relevant plan properties: predicate pushdown,
  * column pruning, top-k as TakeOrderedAndProject, broadcast of
  * dimension tables. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan_project pushes the enum filter and prunes columns") {
    val p = plan(Relational.scanProject(spark, dir))
    assert(p.contains("PushedFilters: [In(event_type"), p)
    // only the 4 projected columns reach the scan
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint," +
      "event_type:string,value:double>"), p)
  }

  test("cooc_topk plans top-k as TakeOrderedAndProject with broadcast dims") {
    val p = plan(Relational.coocTopk(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("lineitem scans read only the join keys for cooc") {
    val p = plan(Relational.coocPairs(spark, dir))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"), p)
  }

  test("popularity_topk tops via TakeOrderedAndProject over the incidence") {
    val p = plan(Relational.popularityTopk(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    // derived from the distinct incidence builder: a plain count, never
    // the countDistinct expand machinery
    assert(!p.contains("Expand"), p)
  }

  test("split assignment columns are shuffle-free (no Exchange)") {
    import org.apache.spark.sql.functions.col
    val p = plan(graft.model.Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.operators.Corpus.splitBucket(col("doc_id")).as("bucket"),
        graft.operators.Corpus.splitOf(col("doc_id")).as("split")))
    assert(!p.contains("Exchange"), p)
  }

  test("hot-bucket guards exclude via broadcast anti-join (no big-side shuffle)") {
    // the guard's oversized-bucket list is a handful of rows — it must
    // broadcast, never shuffle the band/index relation a third time
    Seq(graft.operators.Dedup.dedupMinhash(spark, dir),
        graft.operators.Dedup.ngramJaccard(spark, dir),
        graft.operators.Similarity.dedupEmbedding(spark, dir)).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    }
  }

  // A broadcast HINT overrides autoBroadcastJoinThreshold — forcing one
  // on an unbounded, data-dependent deduplicated set (e.g. "every
  // customer sharing a seed product") OOMs at scale the moment the data
  // skews. Bounded scalars (1-row aggs, limits) and dimension-sized
  // tables may hint; anything containing a distinct with no row bound
  // must not. By optimizedPlan time the optimizer has ALREADY rewritten
  // `Distinct` into `Aggregate(child.output, child.output, child)`
  // (ReplaceDistinctWithAggregate), so the detector matches the
  // aggregate form — grouping-only aggregates with no aggregate
  // functions — not the (never-surviving) Distinct node.
  private def forcedBroadcastOfUnboundedDistinct(
      df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Distinct, Join, LogicalPlan}
    def distinctish(p: LogicalPlan): Boolean = p match {
      case _: Distinct => true
      case a: Aggregate =>
        a.groupingExpressions.nonEmpty &&
          a.aggregateExpressions == a.groupingExpressions
      case _ => false
    }
    def unboundedDistinct(p: LogicalPlan): Boolean =
      p.maxRows.isEmpty && p.collectFirst {
        case q if distinctish(q) => q
      }.nonEmpty
    df.queryExecution.optimizedPlan.collect {
      case j: Join
          if (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
            unboundedDistinct(j.left)) ||
            (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
              unboundedDistinct(j.right)) => j
    }
  }

  test("the broadcast-of-distinct detector flags a deliberately bad plan (not vacuous)") {
    import org.apache.spark.sql.functions.broadcast
    // a file scan has no static row bound (maxRows = None) — a ranged
    // source like spark.range would look "bounded" and defeat the check
    val big = spark.read.parquet(s"$dir/nation.parquet")
      .selectExpr("n_regionkey AS k", "n_nationkey AS v")
    val bad = big.join(broadcast(big.select("k").distinct()), "k")
    assert(forcedBroadcastOfUnboundedDistinct(bad).nonEmpty,
      bad.queryExecution.optimizedPlan.toString)
  }

  // Query-wide detector sweeps run UNCACHED: a memoized builder
  // otherwise surfaces in the optimized plan as an InMemoryRelation
  // LEAF (logical internals replaced by a physical cachedPlan where
  // join hints no longer exist), so a banned shape INSIDE a cached
  // builder is invisible to the detectors — the round-8 verdict caught
  // exactly that masking (a forced broadcast of an unbounded grouped
  // aggregate hidden inside the memoized jaccard builder). Two layers
  // must both be disabled: BuilderCache.uncached stops NEW memoization,
  // and release + clearCache evicts plans ALREADY in Spark's app-wide
  // CacheManager — which substitutes any cached identical subtree back
  // into later plans even when the builder itself didn't memoize (the
  // masking test below proves both layers mask). Inside the sweep no
  // cache exists and none is created, so every builder's full logical
  // plan is inlined into the query under inspection.
  private def uncachedSweep[T](body: => T): T = {
    graft.model.BuilderCache.release(spark)
    spark.catalog.clearCache()
    graft.model.BuilderCache.uncached(body)
  }

  test("dedup_clusters under uncachedSweep plans its whole pair pipeline " +
      "(no LogicalRDD leaf) and answers the cached build's rows") {
    val cached = graft.operators.Dedup.dedupClusters(spark, dir).collect()
    val (leaves, rows) = uncachedSweep {
      val df = graft.operators.Dedup.dedupClusters(spark, dir)
      (df.queryExecution.optimizedPlan.collectLeaves(), df.collect())
    }
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.LogicalRelation]),
      leaves.map(_.nodeName).distinct)
    assert(rows.nonEmpty && rows.toSeq == cached.toSeq)
  }

  test("no declared query forces a broadcast of a data-dependent Distinct relation") {
    uncachedSweep {
      SparkEntry.queries.foreach { case (name, fn) =>
        assert(forcedBroadcastOfUnboundedDistinct(fn(spark, dir)).isEmpty,
          s"$name forces a broadcast of an unbounded data-dependent relation")
      }
    }
  }

  // Wider form of the detector above (round-5 verdict): tfidf's df table
  // is a grouped aggregate WITH an aggregate function (groupBy(term)
  // .agg(count)), so the distinct-only matcher never saw it — yet its
  // cardinality is exactly as unbounded as a distinct (one row per
  // group). Flag ANY forced broadcast of an unbounded relation whose
  // branch contains a grouped aggregate. Threshold-filtered guard lists
  // (the hot-bucket anti-joins) are row-bounded by construction
  // (≤ N/threshold buckets can exceed the threshold) and are exempted by
  // their join type: the guards only ever broadcast into LeftAnti.
  private def forcedBroadcastOfUnboundedGroupedAgg(
      df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    def grouped(p: LogicalPlan): Boolean =
      p.collectFirst {
        case a: Aggregate if a.groupingExpressions.nonEmpty => a
      }.nonEmpty
    def unboundedGrouped(p: LogicalPlan): Boolean =
      p.maxRows.isEmpty && grouped(p)
    df.queryExecution.optimizedPlan.collect {
      case j: Join
          if j.joinType != LeftAnti &&
            ((j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
              unboundedGrouped(j.left)) ||
              (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
                unboundedGrouped(j.right))) => j
    }
  }

  test("the grouped-aggregate detector flags the round-5 tfidf shape (not vacuous)") {
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    // reconstruct exactly the plan the round-5 verdict flagged: a forced
    // broadcast of groupBy(term).agg(count) over a file scan
    val tf = spark.read.parquet(s"$dir/nation.parquet")
      .selectExpr("n_regionkey AS k", "n_nationkey AS v")
    val bad = tf.join(
      broadcast(tf.groupBy("k").agg(count(lit(1)).as("df"))), "k")
    assert(forcedBroadcastOfUnboundedGroupedAgg(bad).nonEmpty,
      bad.queryExecution.optimizedPlan.toString)
  }

  test("no declared query forces a broadcast of an unbounded grouped aggregate (tfidf guard)") {
    uncachedSweep {
      SparkEntry.queries.foreach { case (name, fn) =>
        assert(forcedBroadcastOfUnboundedGroupedAgg(fn(spark, dir)).isEmpty,
          s"$name forces a broadcast of an unbounded grouped-aggregate relation")
      }
    }
  }

  test("memoization masks banned shapes from the detector; uncached unmasks them (round-8 case)") {
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    // Reconstruct the round-8 masking end-to-end: a builder whose body
    // force-broadcasts an unbounded grouped aggregate, registered through
    // BuilderCache.memoByPlan exactly like the jaccard builder was.
    val base = spark.read.parquet(s"$dir/nation.parquet")
      .selectExpr("n_regionkey AS k", "n_nationkey AS v")
    def badBuilder() = graft.model.BuilderCache.memoByPlan(
        spark, "planspec.masking.demo", base) {
      base.join(broadcast(base.groupBy("k").agg(count(lit(1)).as("sz"))), "k")
    }
    try {
      // 1. Through the memo, the optimized plan is an InMemoryRelation
      //    leaf — the detector is BLIND to the forced broadcast inside.
      val masked = badBuilder()
      assert(masked.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.nonEmpty, "memoized builder should surface as InMemoryRelation")
      assert(forcedBroadcastOfUnboundedGroupedAgg(masked).isEmpty,
        "demonstrating the masking: the cached leaf hides the bad join")
      // 2. BuilderCache.uncached ALONE does not unmask: the plan cached
      //    in step 1 lives in Spark's app-wide CacheManager, which
      //    substitutes the identical rebuilt subtree back into the plan
      //    even though memoization is bypassed.
      graft.model.BuilderCache.uncached {
        assert(forcedBroadcastOfUnboundedGroupedAgg(badBuilder()).isEmpty,
          "CacheManager substitution should still mask the bad join")
      }
      // 3. The full uncachedSweep (release + clearCache + uncached) —
      //    what the query-wide sweeps above run under — sees the raw
      //    plan and the detector flags it: a cached builder can no
      //    longer hide a banned shape.
      uncachedSweep {
        assert(forcedBroadcastOfUnboundedGroupedAgg(badBuilder()).nonEmpty,
          badBuilder().queryExecution.optimizedPlan.toString)
      }
    } finally graft.model.BuilderCache.release(spark, "planspec.masking.demo")
  }

  test("round-5 queries keep their scale-relevant plan shapes") {
    // embed_quantize is embarrassingly parallel: the ONLY exchange in
    // the plan is the deterministic output sort (range partitioning) —
    // a second one would mean the quantization itself started shuffling
    val pq = plan(graft.operators.Similarity.embedQuantize(spark, dir))
    assert("Exchange".r.findAllIn(pq).size == 1, pq)
    assert(pq.contains("rangepartitioning"), pq)
    // ngram_counts: global top-k plans as TakeOrderedAndProject
    // (per-partition heap + driver merge), never a full sort
    val pn = plan(graft.operators.TextOps.ngramCounts(spark, dir))
    assert(pn.contains("TakeOrderedAndProject"), pn)
    // vocab_build's dense rank is the distributed two-pass — no Window
    // operator may appear (a single-partition window is the rejected
    // naive form)
    val pv = plan(graft.operators.TextOps.vocabBuild(spark, dir))
    assert(!pv.contains("Window"), pv)
    // decontaminate joins only on equi-keys — no cartesian product ever
    val pd = plan(graft.operators.Corpus.decontaminate(spark, dir))
    assert(!pd.contains("Cartesian"), pd)
  }

  test("retrieval tier keeps its scale-relevant plan shapes (round 9)") {
    // uncachedSweep, like every query-wide sweep: unigram_logprob (and
    // the others) read the memoized docTf builder, which would otherwise
    // surface as an InMemoryRelation leaf — hiding the token-stream
    // aggregate the no-Expand assertion pins (the round-8 masking), and
    // side-effectfully populating the cache from inside a plan test
    uncachedSweep {
      // bm25: the substring prescreen must sit UNDER the explode (a
      // Filter containing Contains below the Generate), and the ranking
      // plans as TakeOrderedAndProject, not a full sort
      val pb = plan(graft.operators.Retrieval.bm25Topk(spark, dir))
      assert(pb.contains("TakeOrderedAndProject"), pb)
      assert(pb.contains("Contains"), pb)
      // pmi: top-k ranking; the unigram joins are equi-joins (the only
      // non-equi operator allowed is the 1-row totals broadcast, which
      // plans as BroadcastNestedLoopJoin by construction)
      val pp = plan(graft.operators.Retrieval.pmiBigrams(spark, dir))
      assert(pp.contains("TakeOrderedAndProject"), pp)
      assert(!pp.contains("Cartesian"), pp)
      // unigram LM: no Expand (single aggregate family per shuffle — the
      // mixed count+countDistinct shape would double the token stream)
      val pu = plan(graft.operators.Retrieval.unigramLogprob(spark, dir))
      assert(!pu.contains("Expand"), pu)
    }
  }

  test("round-13 queries keep their scale-relevant plan shapes") {
    // span_survivors: every join equi-keyed (no cartesian / nested-loop
    // — a doc-pair surface would be the rejected naive form), and the
    // removal arithmetic stays in-row (no Window)
    val ps = plan(graft.operators.TextOps.spanSurvivors(spark, dir))
    assert(!ps.contains("Cartesian") && !ps.contains("BroadcastNestedLoop"),
      ps)
    assert(!ps.contains("Window"), ps)
    // jaccard_lsh_2l: same discipline as jaccard_lsh — candidate
    // generation is bucket-bounded (no cartesian), and the final top-k
    // plans as TakeOrderedAndProject, never a full sort
    val p2 = plan(graft.operators.Recommend.jaccardLshTwoLevel(spark, dir))
    assert(!p2.contains("Cartesian") && !p2.contains("BroadcastNestedLoop"),
      p2)
    assert(p2.contains("TakeOrderedAndProject"), p2)
  }

  test("round-14 distillation tier keeps its scale-relevant plan shapes") {
    // fim_transform / quality_predict: per-row transforms — the ONLY
    // exchange is the deterministic output sort (a second one would
    // mean the transform itself started shuffling)
    val pf = plan(graft.operators.Corpus.fimTransform(spark, dir))
    assert("Exchange".r.findAllIn(pf).size == 1, pf)
    assert(!pf.contains("Join") && !pf.contains("Window"), pf)
    val pp = plan(graft.operators.Distill.qualityPredict(spark, dir))
    assert("Exchange".r.findAllIn(pp).size == 1, pp)
    assert(!pp.contains("Join") && !pp.contains("Window"), pp)
    // domain_topk: both window stages are PARTITIONED and both carry
    // the partial WindowGroupLimit (the top-k pushdown the Distill
    // scaladoc's reducer-bound argument rests on)
    val pd = plan(graft.operators.Distill.domainTopk(spark, dir))
    assert("WindowGroupLimit".r.findAllIn(pd).size >= 4, pd)
    assert(!pd.contains("Join"), pd)
  }

  test("round-15 mix_quality keeps its scale-relevant plan shape") {
    // the rate config is the ONLY join side and it is a bounded
    // literal relation → broadcast hash join, never a shuffled join
    // of the corpus against 20 rows; the scoring weights fold in as
    // literals (no second join); copies explode in-row (no Window);
    // the only exchange is the deterministic output sort
    val pm = plan(graft.operators.Corpus.mixQuality(
      spark, dir, graft.operators.Corpus.defaultMixRates))
    assert(pm.contains("BroadcastHashJoin"), pm)
    assert(!pm.contains("SortMergeJoin") && !pm.contains("ShuffledHashJoin"),
      pm)
    assert(!pm.contains("Window"), pm)
    // count SHUFFLE exchanges only — the plain "Exchange" regex also
    // matches inside the BroadcastExchange this very test requires
    assert("Exchange (range|hash)partitioning".r.findAllIn(pm).size == 1, pm)
    assert(!pm.contains("Exchange hashpartitioning"), pm)
  }

  test("round-16 bpe_encode_bytes keeps its one-corpus-pass plan shape") {
    // the k merge passes run over the vocabulary-bounded type table;
    // the type↔corpus join strategy is deliberately NOT forced (the
    // type table is a corpus-derived aggregate — the tfidf-guard
    // class), so the pin is: AQE CHOOSES broadcast at this scale from
    // runtime statistics, no Window/Cartesian anywhere, and at most
    // three shuffle exchanges (type distinct, per-doc aggregation —
    // both behind map-side partial aggregates — and the output sort)
    val df = graft.operators.TextOps.bpeEncodeBytes(spark, dir)
    // collect() drives df's OWN QueryExecution (count() would spawn a
    // different one), so plan() below renders the executed adaptive
    // plan — keep only the "== Final Plan ==" section (the string also
    // repeats the initial plan, which would double the exchange count)
    assert(df.collect().nonEmpty)
    val pb = plan(df).split("== Initial Plan ==").head
    assert(pb.contains("isFinalPlan=true"), pb)
    assert(pb.contains("BroadcastHashJoin"), pb)
    assert(!pb.contains("Window") && !pb.contains("Cartesian"), pb)
    assert("Exchange (range|hash)partitioning".r.findAllIn(pb).size <= 3, pb)
  }

  test("round-6 join queries avoid non-equi join physical plans") {
    // event_asof: the as-of join must plan as union + partitioned window
    // — no join operator at all between the touch and purchase sides
    val pa = plan(graft.operators.EventsOps.eventAsof(spark, dir))
    assert(!pa.contains("Join"), pa)
    assert(pa.contains("Window"), pa)
    // event_window_join: the range join must plan as a hash-partitioned
    // equi-join on (user_id, bucket) — BroadcastNestedLoopJoin or
    // CartesianProduct would mean the inequality reached the planner
    // as the join condition (the 100 TB non-starter)
    val pw = plan(graft.operators.EventsOps.eventWindowJoin(spark, dir))
    assert(!pw.contains("BroadcastNestedLoop") && !pw.contains("Cartesian"),
      pw)
  }

  test("no declared query plans an unpartitioned Window (single-partition scale guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    uncachedSweep {
      SparkEntry.queries.foreach { case (name, fn) =>
        val bad = fn(spark, dir).queryExecution.optimizedPlan.collect {
          // same exemption principle as the broadcast rule: a window
          // whose input is PROVABLY bounded (static maxRows from a
          // limit, e.g. vocab_coverage's topR relation) is
          // constant-size at any corpus scale — the guard bans only
          // unpartitioned windows over unbounded inputs
          case w: LogicalWindow if w.partitionSpec.isEmpty &&
              !w.child.maxRows.exists(_ <= 10000) => w
        }
        assert(bad.isEmpty,
          s"$name funnels all rows into one partition via Window.partitionBy(): $bad")
      }
    }
  }
}

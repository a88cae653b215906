package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, EventsOps, Similarity, TextOps}

/** Semantic tests for the extension tier (dedup / similarity / text /
  * events) on the sf0.001 driver testdata — properties the DuckDB oracle
  * can't express (estimator quality, cross-operator consistency). */
class ExtensionSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("minhash estimate tracks exact ngram jaccard on candidate pairs") {
    val est = Dedup.dedupMinhash(spark, dir, limit = 1000)
      .as[(Long, Long, Double)].collect().map { case (a, b, e) => ((a, b), e) }.toMap
    val exact = Dedup.ngramJaccard(spark, dir, limit = 100000)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => ((a, b), j) }.toMap
    assert(est.nonEmpty, "LSH produced no candidate pairs")
    // unbiased estimator with k=16: |est - exact| within ~4 std devs
    // (σ = sqrt(j(1-j)/16) ≤ 0.125) for every candidate pair
    est.foreach { case (pair, e) =>
      val j = exact.getOrElse(pair, 0.0)
      assert(math.abs(e - j) <= 0.5, s"pair $pair: est $e vs exact $j")
    }
  }

  test("simhash banded pairing is complete vs brute force (hamming ≤ 3)") {
    val sig = Dedup.simhash(spark, dir) // registry-cached — never re-mark
    val brute = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
        .as("h"))
      .filter(col("h") <= 3).count()
    val banded = Dedup.simhashPairs(spark, dir).count()
    assert(banded == brute,
      s"byte-banding missed pairs: banded $banded vs brute $brute")
  }

  test("simhash: identical docs get identical fingerprints, hamming is sane") {
    val sig = Dedup.simhash(spark, dir)
    val joined = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
        .as("hamming"))
      .agg(min("hamming"), max("hamming")).collect()(0)
    assert(joined.getInt(1) <= Dedup.SimhashBits)
    assert(sig.count() == sig.select("doc_id").distinct().count())
  }

  test("dedup_exact partitions the corpus (groups cover all docs)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    val agg = Dedup.dedupExact(spark, dir)
      .agg(sum("dup_count").as("total")).collect()(0).getLong(0)
    assert(agg == docs)
  }

  test("knn_bucketed results appear in brute-force ranking with same score") {
    val brute = Similarity.simTopk(spark, dir, k = 1000)
      .as[(Long, Double)].collect().toMap
    val probeId = spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(min("vec_id")).collect()(0).getLong(0)
    val bucketed = Similarity.knnBucketed(spark, dir)
      .filter(col("pid") === probeId)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    bucketed.foreach { case (id, cos) =>
      assert(math.abs(brute(id) - cos) < 1e-9,
        s"vec $id: bucketed $cos vs brute ${brute(id)}")
    }
  }

  test("multi-probe ANN strictly widens single-bucket recall, scores exact") {
    val brute = Similarity.simTopk(spark, dir, k = 1000)
      .as[(Long, Double)].collect().toMap
    val probeId = spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(min("vec_id")).collect()(0).getLong(0)
    def hits(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("pid") === probeId).select("vec_id")
        .as[Long].collect().toSet
    val single = hits(Similarity.knnBucketed(spark, dir, k = 1000))
    val multi = hits(Similarity.knnMultiProbe(spark, dir, k = 1000))
    assert(single.subsetOf(multi),
      s"multiprobe lost single-bucket hits: ${(single -- multi).take(3)}")
    // every multiprobe score agrees with brute force to fp exactness
    Similarity.knnMultiProbe(spark, dir, k = 1000)
      .filter(col("pid") === probeId)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
      .foreach { case (id, cos) =>
        assert(math.abs(brute(id) - cos) < 1e-9, s"vec $id") }
  }

  test("knn_ivf: learned-quantizer ANN returns brute-exact scores, argmin cells") {
    val brute = Similarity.simTopk(spark, dir, k = 1000)
      .as[(Long, Double)].collect().toMap
    val probeId = spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(min("vec_id")).collect()(0).getLong(0)
    val out = Similarity.knnIvf(spark, dir)
    assert(out.count() > 0)
    out.filter(col("pid") === probeId)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
      .foreach { case (id, cos) =>
        assert(math.abs(brute(id) - cos) < 1e-9, s"vec $id") }
  }

  test("knn_ivf: probing every cell IS brute force (nprobe completeness)") {
    // with nCells = nClusters every vector is a candidate for every
    // probe, so the per-probe ranking must equal the exhaustive scan
    val probeId = spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(min("vec_id")).collect()(0).getLong(0)
    val brute = Similarity.simTopk(spark, dir, k = 5)
      .as[(Long, Double)].collect().toList
    val exhaustive = Similarity
      .knnIvf(spark, dir, nClusters = 16, k = 5, nCells = 16)
      .filter(col("pid") === probeId)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toList
    assert(exhaustive == brute, s"\nivf: $exhaustive\nbrute: $brute")
    // and more cells never yields fewer candidates than one cell
    val one = Similarity.knnIvf(spark, dir, k = 1000, nCells = 1)
      .filter(col("pid") === probeId).count()
    val three = Similarity.knnIvf(spark, dir, k = 1000, nCells = 3)
      .filter(col("pid") === probeId).count()
    assert(three >= one, s"nCells=3 candidates $three < nCells=1 $one")
  }

  test("knn_ivf trains on a SAMPLE when the table is large enough") {
    // the 100 TB contract: k-means iterations must never scan the full
    // vector table (round-2/3 VERDICT item) — only the one assignment
    // pass does
    val big = spark.range(4000).selectExpr("id AS vec_id",
      "array(cast(id % 7 as double), cast(id % 13 as double)) AS v")
    val train = Similarity.ivfTrainingSet(big.toDF(), nClusters = 16)
    val n = train.count()
    assert(n < 4000, s"trained on the full table ($n rows)")
    assert(n >= 16 * 8, s"sample too thin to place 16 centroids ($n rows)")
    // a tiny table falls back to full (centroid count needs the rows)
    val tiny = spark.range(50).selectExpr("id AS vec_id",
      "array(cast(id as double)) AS v")
    assert(Similarity.ivfTrainingSet(tiny.toDF(), nClusters = 16)
      .count() == 50)
  }

  test("dupClusters equals driver-side union-find on a random pair graph") {
    val rnd = new scala.util.Random(42)
    val pairs = (1 to 300).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    // driver union-find golden
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val golden = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => (v, find(v))).toMap
    val out = graft.operators.Dedup
      .dupClusters(pairs.toDF("p1", "p2"))
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == golden.size)
    out.foreach { case (v, c, surv) =>
      assert(c == golden(v), s"node $v: got $c want ${golden(v)}")
      assert(surv == (v == c))
    }
  }

  test("dupClusters converges on a 200-node path graph (shortcutting, not O(diameter))") {
    // min-label propagation WITHOUT shortcutting needs 199 rounds here;
    // the hash-to-min shortcut must finish within the 50-round bound
    val chain = (0L until 199L).map(i => (i, i + 1))
    val out = graft.operators.Dedup.dupClusters(chain.toDF("p1", "p2"))
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 200)
    assert(out.forall(_._2 == 0L), out.filter(_._2 != 0L).take(5).toList)
    assert(out.count(_._3) == 1)
  }

  test("dedup_survivors keeps exactly one member per duplicate cluster") {
    val clusters = graft.operators.Dedup.dedupClusters(spark, dir).cache()
    val surv = graft.operators.Dedup.dedupSurvivors(spark, dir).cache()
    val total = graft.model.Tables.documents(spark, dir).count()
    val dropped = clusters.filter(!col("is_survivor")).count()
    assert(surv.count() == total - dropped)
    // per cluster: exactly one member survives, and it is the min id
    val kept = clusters.join(surv, "doc_id")
      .groupBy("cluster_id").agg(count(lit(1)).as("n"),
        min("doc_id").as("m"))
    assert(kept.filter(col("n") =!= 1).count() == 0)
    assert(kept.filter(col("m") =!= col("cluster_id")).count() == 0)
    clusters.unpersist(); surv.unpersist()
  }

  test("event_anomaly: hand moments, zero-variance and single-bucket guards") {
    // "spike": counts 1×7 + one 13 → mean 2.5, σ² = 1008/56 = 18,
    // z(13) = 10.5/√18 ≈ 2.474874 (anomaly), z(1) ≈ −0.353553;
    // "flat": identical counts → integer guard → z 0, no anomaly;
    // "solo": one bucket → excluded by nb ≥ 2
    val hourly = ((1L to 7L).map(h => ("spike", h, 1L)) ++
      Seq(("spike", 8L, 13L), ("flat", 1L, 5L), ("flat", 2L, 5L),
        ("solo", 1L, 9L))).toDF("event_type", "hour", "n")
    val out = graft.operators.EventsOps.eventAnomalyOf(hourly).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getDouble(3), r.getBoolean(4)))).toMap
    assert(!out.contains(("solo", 1L)))
    assert(out(("flat", 1L)) == ((0.0, false)))
    assert(out(("spike", 8L)) == ((2.474874, true)))
    assert(out(("spike", 1L)) == ((-0.353553, false)))
    assert(out.size == 10)
  }

  test("event_funnel: strict step ordering; bounded by purchasing users") {
    val f = EventsOps.eventFunnel(spark, dir).cache()
    assert(f.filter(col("first_view_us") >= col("first_click_us") ||
      col("first_click_us") >= col("first_purchase_us")).count() == 0)
    val purchasers = graft.model.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(f.count() <= purchasers)
    f.unpersist()
  }

  test("span_dup_rate: verbatim copies score 1.0, unique text 0.0") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // 10 tokens, 3 span positions
      (2L, "a b c d e f g h i j"),   // verbatim copy of 1 → rate 1.0
      (3L, "q r s t u v w x y z"),   // unique → rate 0.0
      (4L, "too short")              // < 8 tokens → 0 spans, keep
    ).toDF("doc_id", "text")
    val r = graft.operators.TextOps.spanDupRateOf(docs)
      .collect().map(row => row.getLong(0) ->
        (row.getLong(1), row.getLong(2), row.getDouble(3),
          row.getBoolean(4))).toMap
    assert(r(1L) == ((3L, 3L, 1.0, false)))
    assert(r(2L) == ((3L, 3L, 1.0, false)))
    assert(r(3L) == ((3L, 0L, 0.0, true)))
    assert(r(4L) == ((0L, 0L, 0.0, true)))
  }

  test("text_clean: full, partial, and zero removal on constructed docs") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // verbatim pair with 2 → fully removed
      (2L, "a b c d e f g h i j"),
      (3L, "q r s t u v w x y z"),   // shares only span@0 with 4
      (4L, "q r s t u v w x m n"),
      (5L, "k l m n o p k l m n"),   // unique → untouched
      (6L, "too short")              // < 8 tokens → no spans, untouched
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.textCleanOf(docs)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((10L, 10L, "")))
    assert(got(2L) == ((10L, 10L, "")))
    // shared span "q r s t u v w x" covers positions 0..7 in both docs
    assert(got(3L) == ((10L, 8L, "y z")))
    assert(got(4L) == ((10L, 8L, "m n")))
    // within-doc repetition alone never triggers removal (df counts docs)
    assert(got(5L) == ((10L, 0L, "k l m n o p k l m n")))
    assert(got(6L) == ((2L, 0L, "too short")))
  }

  test("span_survivors: min-doc keeper keeps, copies stripped, keeper crosses") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // keeper of all 3 shared spans
      (2L, "a b c d e f g h i j"),   // identical copy → fully stripped
      (3L, "q r s t u v w x y z"),   // keeper of span@0 vs docs 4
      (4L, "q r s t u v w x m n"),   // loses positions 0..7
      (5L, "k l m n o p k l m n"),   // within-doc repeat only → untouched
      (6L, "too short"),             // < 8 tokens → no spans
      (7L, "a b c d e f g h z1 z2")  // shares span@0 whose keeper is doc 1
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.spanSurvivorsOf(docs)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the canonical copy SURVIVES — the defining contrast with text_clean,
    // which removes every occurrence of a shared span
    assert(got(1L) == ((10L, 0L, "a b c d e f g h i j")))
    assert(got(2L) == ((10L, 10L, "")))
    assert(got(3L) == ((10L, 0L, "q r s t u v w x y z")))
    assert(got(4L) == ((10L, 8L, "m n")))
    assert(got(5L) == ((10L, 0L, "k l m n o p k l m n")))
    assert(got(6L) == ((2L, 0L, "too short")))
    assert(got(7L) == ((10L, 8L, "z1 z2")))
  }

  test("text_clean: consistency with span_dup_rate on the real corpus") {
    val clean = TextOps.textClean(spark, dir).cache()
    val rate = TextOps.spanDupRate(spark, dir)
      .select(col("doc_id"), col("n_dup"))
    val j = clean.join(rate, "doc_id").cache()
    // removal fires exactly where the metric sees shared spans
    assert(j.filter(col("n_dup") === 0 && col("n_removed") > 0).count() == 0)
    assert(j.filter(col("n_dup") > 0 && col("n_removed") === 0).count() == 0)
    // a shared span covers >= 8 positions: removal is 0 or >= 8
    assert(clean.filter(col("n_removed") > 0 && col("n_removed") < 8)
      .count() == 0)
    // clean_text token count reconciles with the removal arithmetic
    // ('' splits to 1 empty token, so guard the fully-removed rows)
    val bad = clean.filter(col("n_removed") < col("n_tokens") &&
      size(split(col("clean_text"), " ")) =!=
        col("n_tokens") - col("n_removed"))
    assert(bad.count() == 0)
    assert(clean.filter(col("n_removed") === col("n_tokens") &&
      col("clean_text") =!= "").count() == 0)
    j.unpersist(); clean.unpersist()
  }

  test("rec_blend_fixed: cooc/sim contributions equal rec_blend's; parts sum") {
    import graft.operators.Recommend
    // same seeds, same scores, same maxes (s_cooc/s_jacc are zero
    // outside the cooc∪jaccard candidate set, so widening candidates to
    // all non-seed products cannot move either max) → wherever a product
    // appears in both outputs, c_cooc and c_sim must agree exactly
    val fixed = Recommend.recBlendFixed(spark, dir, k = 1000)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val blend = Recommend.recBlend(spark, dir, k = 1000)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(fixed.nonEmpty)
    blend.foreach { case (pid, (cc, cs)) =>
      fixed.get(pid).foreach { case (_, fcc, fcs, _) =>
        assert(fcc == cc && fcs == cs, s"product $pid: ($fcc,$fcs) vs ($cc,$cs)")
      }
    }
    // per-strategy contributions reassemble the blended score (each
    // column rounds independently → ≤ 2e-6 reassembly slack)
    fixed.foreach { case (pid, (s, cc, cs, cp)) =>
      assert(math.abs(s - (cc + cs + cp)) <= 2e-6, s"product $pid")
    }
  }

  test("event_asof: union+window form equals the naive theta-join") {
    import org.apache.spark.sql.expressions.Window
    // the naive per-purchase rank over the inequality join — the form
    // the as-of operator deliberately avoids (quadratic per user) but
    // must reproduce row-for-row, NULLs included
    val ev = graft.model.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_uid"), col("event_id").as("t_eid"),
        col("event_type").as("t_ty"), col("us").as("t_us"))
    val w = Window.partitionBy("event_id").orderBy(desc("t_us"), desc("t_eid"))
    val naive = p.join(t,
        col("user_id") === col("t_uid") && col("t_us") <= col("us"),
        "left_outer")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("t_eid").as("touch_event_id"),
        col("t_ty").as("touch_type"), col("t_us").as("touch_us"))
    val asof = EventsOps.eventAsof(spark, dir)
      .select("event_id", "touch_event_id", "touch_type", "touch_us")
    assert(asof.count() == p.count()) // left semantics: every purchase
    assert(asof.exceptAll(naive).isEmpty && naive.exceptAll(asof).isEmpty)
  }

  test("event_asof under one hot user: closed-form exact, no quadratic blowup") {
    // 100k events, ALL on one user — the skew case where the naive
    // theta-join would build 2.5e9 pairs. The union+window form is one
    // fat per-user sort; closed form: alternating view(2k)/purchase(2k+1)
    // means the purchase at us=2k+1 attributes to the view at us=2k
    val n = 50000L
    val hot = spark.range(2 * n).select(
      col("id").as("event_id"), lit(0L).as("user_id"),
      when(col("id") % 2 === 0, "view").otherwise("purchase")
        .as("event_type"),
      timestamp_micros(col("id")).as("ts"))
    val out = graft.operators.EventsOps.eventAsofOf(hot)
      .select("event_id", "touch_event_id", "gap_us")
    assert(out.count() == n)
    assert(out.filter(col("touch_event_id") =!= col("event_id") - 1 ||
      col("gap_us") =!= 1L).isEmpty)
  }

  test("event_window_join: bucketed equi-join equals the naive range join") {
    val wj = EventsOps.eventWindowJoin(spark, dir).cache()
    // internal consistency: touches split exactly into views + clicks;
    // gaps live in [0, 1 h]; empty windows carry NULL gaps
    assert(wj.filter(col("n_touch") =!= col("n_view") + col("n_click"))
      .isEmpty)
    assert(wj.filter(col("min_gap_us") < 0 ||
      col("min_gap_us") > 3600000000L).isEmpty)
    assert(wj.filter(col("n_touch") === 0 && col("min_gap_us").isNotNull)
      .isEmpty)
    // equivalence with the naive inequality join the bucketing replaces
    val ev = graft.model.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_uid"), col("us").as("t_us"))
    val naive = p.join(t,
        col("user_id") === col("t_uid") && col("t_us") <= col("us") &&
          col("t_us") >= col("us") - 3600000000L)
      .groupBy("event_id").agg(count(lit(1)).as("naive_touch"))
    val joined = wj.join(naive, Seq("event_id"), "left_outer")
    assert(joined.filter(coalesce(col("naive_touch"), lit(0L)) =!=
      col("n_touch")).isEmpty)
    wj.unpersist()
  }

  test("event_retention: day-0 cells equal cohort sizes, offsets non-negative") {
    val r = EventsOps.eventRetention(spark, dir).cache()
    assert(r.filter(col("day_offset") < 0).count() == 0)
    // every user is active on their own first day → the day-0 cell IS the
    // cohort size, and summing day-0 over cohorts covers every user
    val day0 = r.filter(col("day_offset") === 0)
      .agg(sum("users")).collect()(0).getLong(0)
    val allUsers = graft.model.Tables.events(spark, dir)
      .select("user_id").distinct().count()
    assert(day0 == allUsers)
    r.unpersist()
  }

  test("sessionize: session counts bounded by events, durations non-negative") {
    val s = EventsOps.sessionize(spark, dir)
    val bad = s.filter(col("duration_us") < 0 || col("n_events") < 1).count()
    assert(bad == 0)
    val events = graft.model.Tables.events(spark, dir).count()
    val totalEvents = s.agg(sum("n_events")).collect()(0).getLong(0)
    assert(totalEvents == events)
  }

  test("sessionize splits on the 30-minute gap (toy check)") {
    // user 1: events at t=0, +10min, +50min → 2 sessions (gap 40min > 30)
    val us = 1000000L
    val df = Seq(
      (1L, 0L), (1L, 600L * us * 1000), (1L, 3600L * us * 1000)
    ).toDF("user_id", "ts_ns")
    val d = Fixtures.write(spark)
    // write a one-off events table shape into temp dir for this check
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    df.select(monotonically_increasing_id().as("event_id"),
        col("ts_ns").as("ts"), col("user_id"),
        lit("view").as("event_type"), lit(1.0).as("value"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventsOps.sessionize(spark, tmp)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length == 2, out.mkString(","))
    assert(out.map(_._3).sum == 3) // all events covered
    assert(d.nonEmpty)
  }

  test("lang_id_ngram: the prediction always carries the max profile score") {
    val df = TextOps.langIdNgram(spark, dir)
    val best = greatest(col("en_score"), col("fr_score"),
      col("de_score"), col("es_score"))
    val predScore = when(col("pred_lang") === "en", col("en_score"))
      .when(col("pred_lang") === "fr", col("fr_score"))
      .when(col("pred_lang") === "de", col("de_score"))
      .otherwise(col("es_score"))
    assert(df.filter(predScore =!= best).count() == 0)
    assert(df.filter(!col("pred_lang").isin("en", "fr", "de", "es"))
      .count() == 0)
  }

  test("embed_quantize: range, reconstruction bound, zero-vector guard") {
    import spark.implicits._
    val q = graft.operators.Similarity.quantizedVectors(spark, dir)
      .as[(Long, Seq[Double], Double, Seq[Long])].collect()
    assert(q.nonEmpty)
    q.foreach { case (id, v, scale, qs) =>
      assert(qs.forall(x => x >= -127 && x <= 127), s"vec $id out of int8")
      if (scale == 0.0) assert(v.forall(_ == 0.0), s"vec $id scale-0")
      else {
        // the scalar-quantization recall argument: dequantized error is
        // at most half a step
        v.zip(qs).foreach { case (x, qi) =>
          assert(math.abs(x - qi / scale) <= 0.5 / scale + 1e-12,
            s"vec $id: x=$x q=$qi scale=$scale")
        }
        // max-magnitude element hits full scale
        assert(qs.map(math.abs).max == 127L, s"vec $id not full-scale")
      }
    }
    // the declared summary agrees with the internal vectors
    val summary = graft.operators.Similarity.embedQuantize(spark, dir)
      .as[(Long, Double, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    q.foreach { case (id, _, scale, qs) =>
      val (_, s6, qmin, qmax, qsum) = summary(id)
      assert(s6 == math.rint(scale * 1e6) / 1e6 || math.abs(s6 - scale) < 1e-6)
      assert(qmin == qs.min && qmax == qs.max && qsum == qs.sum, s"vec $id")
    }
  }

  test("knn_quantized: scores track exact cosine, top-k recall holds") {
    import spark.implicits._
    val quant = graft.operators.Similarity.knnQuantized(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    val exact = graft.operators.Similarity.knnBucketed(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(quant.nonEmpty)
    // per (probe, candidate): quantized cosine within the scalar-
    // quantization error of the exact score (int8 → ~1/127 per axis)
    val exactByPair = exact.map(r => (r._1, r._3) -> r._4).toMap
    // note: bucket sets may differ slightly (signs of near-zero dims
    // flip under quantization) — compare only shared pairs
    val shared = quant.filter(r => exactByPair.contains((r._1, r._3)))
    assert(shared.nonEmpty)
    shared.foreach { case (pid, _, vid, c) =>
      assert(math.abs(c - exactByPair((pid, vid))) < 0.05,
        s"probe $pid cand $vid: quantized $c vs exact ${exactByPair((pid, vid))}")
    }
    // top-k recall per probe: the int8 ranking must mostly agree
    val qTop = quant.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    val eTop = exact.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    qTop.foreach { case (pid, qs) =>
      eTop.get(pid).foreach { es =>
        val overlap = (qs & es).size.toDouble / es.size
        assert(overlap >= 0.6, s"probe $pid recall $overlap: $qs vs $es")
      }
    }
  }

  test("ngram_counts: repeats counted, df bounded, toy doc exact") {
    val out = graft.operators.TextOps.ngramCounts(spark, dir).cache()
    // occurrences ≥ df always (a doc contributing to df contributes ≥1)
    assert(out.filter(col("occurrences") < col("df")).count() == 0)
    assert(out.count() <= 100)
    out.unpersist()
    // toy corpus: "a b a b a" has bigrams [a b, b a, a b, b a] — repeats
    // must count (no array_distinct), df counts the doc once
    import spark.implicits._
    val toy = Seq((1L, "a b a b a"), (2L, "a b c")).toDF("doc_id", "text")
      .createOrReplaceTempView("toy_docs")
    val grams = spark.sql(
      """SELECT explode(transform(sequence(0, size(split(text,' ')) - 2),
        |  i -> concat_ws(' ', slice(split(text,' '), i + 1, 2)))) AS gram,
        |  doc_id FROM toy_docs""".stripMargin)
      .groupBy("gram")
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("df"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(grams("a b") == ((3L, 2L)), grams)
    assert(grams("b a") == ((2L, 1L)), grams)
  }

  test("tokenize_ids: positions original, ids round-trip the vocabulary") {
    import spark.implicits._
    val vocab = graft.operators.TextOps.vocabBuild(spark, dir)
      .select("token", "token_id").as[(String, Long)].collect().toMap
    val ids = graft.operators.TextOps.tokenizeIds(spark, dir)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val docs = graft.model.Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(ids.nonEmpty)
    docs.foreach { case (id, text) =>
      val expected = text.split(" ").zipWithIndex.collect {
        case (tok, i) if vocab.contains(tok) => (i.toLong, vocab(tok))
      }.toSeq
      val got = ids.getOrElse(id, Array.empty).sortBy(_._2)
        .map(r => (r._2, r._3)).toSeq
      assert(got == expected, s"doc $id: $got vs $expected")
    }
  }

  test("sign buckets survive dim < signDims under ANSI mode") {
    import graft.operators.Similarity
    // round-5 advice: the bucket terms read element_at(qs, i+1) for
    // i < 8 — with 4-dim vectors and spark.sql.ansi.enabled=true the
    // unguarded form throws ARRAY_INDEX_OUT_OF_BOUNDS
    val tmp = java.nio.file.Files.createTempDirectory("graft-shortvec")
    Seq((1L, Seq(0.5f, -0.2f, 0.1f, 0.3f)),
        (2L, Seq(0.5f, -0.2f, 0.1f, 0.3f)),
        (3L, Seq(-0.4f, 0.6f, -0.1f, 0.2f)),
        (4L, Seq(0.1f, 0.2f, 0.3f, 0.4f)),
        (5L, Seq(0.2f, 0.1f, 0.4f, 0.3f)),
        (6L, Seq(-0.3f, -0.2f, 0.5f, 0.1f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      assert(Similarity.knnQuantized(spark, tmp.toString).count() > 0)
      assert(Similarity.knnBucketed(spark, tmp.toString).count() > 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("tokenize_unk: full coverage, UNK=0, in-vocab ids shifted by one") {
    import spark.implicits._
    val vocab = graft.operators.TextOps.vocabBuild(spark, dir)
      .select("token", "token_id").as[(String, Long)].collect().toMap
    val unk = graft.operators.TextOps.tokenizeUnk(spark, dir)
      .as[(Long, Long, Long)].collect()
    val docs = graft.model.Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    // row count == total token count (no position gaps — the property
    // the OOV-drop convention loses)
    val totalTokens = docs.map(_._2.split(" ").length.toLong).sum
    assert(unk.length.toLong == totalTokens)
    val byDoc = unk.groupBy(_._1)
    docs.foreach { case (id, text) =>
      val expected = text.split(" ").zipWithIndex.map { case (tok, i) =>
        (i.toLong, vocab.get(tok).map(_ + 1).getOrElse(0L))
      }.toSeq
      val got = byDoc.getOrElse(id, Array.empty).sortBy(_._2)
        .map(r => (r._2, r._3)).toSeq
      assert(got == expected, s"doc $id: $got vs $expected")
    }
    // the synthetic corpus has no token under minCount (every token is
    // in-vocab at defaults), so force OOV through the vocabSize cap to
    // prove the UNK path really fires and maps to exactly 0
    val capped = graft.operators.TextOps.tokenizeUnk(spark, dir, 5L, 10)
      .as[(Long, Long, Long)].collect()
    assert(capped.length.toLong == totalTokens) // coverage survives OOV
    assert(capped.exists(_._3 == 0L))           // UNK fires
    assert(capped.forall(_._3 <= 10L))          // ids in [0, vocabSize]
  }

  test("text_repetition: toy docs exact, flags monotone in repetition") {
    import spark.implicits._
    val out = graft.operators.TextOps.textRepetition(spark, dir).cache()
    // slots accounting: every duplicated slot is counted, top_rep
    // bounded by n_bigrams, ratio in [0,1]
    assert(out.filter(col("rep_slots") > col("n_bigrams")).count() == 0)
    assert(out.filter(col("top_rep") > col("n_bigrams")).count() == 0)
    assert(out.filter(col("rep_ratio") < 0 || col("rep_ratio") > 1)
      .count() == 0)
    assert(out.filter(col("keep_rep") =!=
      (col("rep_slots") / col("n_bigrams") < 0.25)).count() == 0)
    out.unpersist()
    // toy: "a b a b a" bigrams [a b, b a, a b, b a] — all 4 duplicated
    // (ratio 1.0, drop); "a b c d e" has no repeats (ratio 0, keep)
    val docs = Seq((1L, "a b a b a"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val grams = docs.select(col("doc_id"), explode(expr(
      """transform(sequence(0, size(split(text,' ')) - 2),
        |  i -> concat_ws(' ', slice(split(text,' '), i + 1, 2)))"""
        .stripMargin)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), max("c").as("top"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("rep"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(grams(1L) == ((1L, 4L, 2L, 4L)), grams(1L))
    assert(grams(2L) == ((2L, 4L, 1L, 0L)), grams(2L))
  }

  test("vocab_build: dense deterministic ids equal the naive rank form") {
    val out = graft.operators.TextOps.vocabBuild(spark, dir).cache()
    val n = out.count()
    assert(n > 0)
    // ids are dense 0..n-1
    assert(out.agg(min("token_id"), max("token_id")).as[(Long, Long)]
      .collect().head == ((0L, n - 1)))
    // minCount respected
    assert(out.filter(col("n") < 5).count() == 0)
    // the distributed range-partition + zipWithIndex rank must equal the
    // naive single-partition window rank (the oracle's form) exactly
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n"), asc("token"))
    val naive = graft.model.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .withColumn("token_id", (row_number().over(w) - 1).cast("long"))
      .select("token_id", "token", "n")
    assert(out.except(naive).count() == 0 && naive.except(out).count() == 0)
    out.unpersist()
  }

  test("vocab_coverage: monotone curve, exact totals, rank-1 anchor") {
    val out = TextOps.vocabCoverage(spark, dir).cache()
    val rows = out.select("rank", "n", "cum_tokens", "coverage", "zipf_exp")
      .as[(Long, Long, Long, Double, Option[Double])].collect()
    assert(rows.nonEmpty)
    // ranks dense from 1, counts non-increasing, cumsum exact
    assert(rows.map(_._1).toSeq == (1L to rows.length).toSeq)
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 >= b._2
      case _ => true })
    assert(rows.scanLeft(0L)(_ + _._2).tail.toSeq == rows.map(_._3).toSeq)
    // coverage monotone, final point = cum/total of the token stream
    assert(rows.sliding(2).forall { case Array(a, b) => a._4 <= b._4
      case _ => true })
    val total = graft.model.Tables.documents(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).as[Long].collect().head
    val last = rows.last
    assert(last._4 ==
      BigDecimal(last._3.toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // rank 1 = the corpus's most frequent token; no exponent there
    assert(rows.head._5.isEmpty)
    // zipf_exp replays ln(n1/n)/ln(r) per row
    rows.drop(1).foreach { case (r, n, _, _, Some(z)) =>
      assert(math.abs(z - BigDecimal(
        math.log(rows.head._2.toDouble / n) / math.log(r.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      case row => fail(s"missing zipf_exp: $row")
    }
    out.unpersist()
  }

  test("cluster_stats: partition of the table, purity bounds, label mode") {
    val out = Similarity.clusterStats(spark, dir).cache()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val nVecs = e.count()
    // every vector lands in exactly one cell
    assert(out.agg(sum("n_vecs")).as[Long].collect().head == nVecs)
    // purity and mean cosine bounded; the mode is a member count
    assert(out.filter(col("purity") <= 0 || col("purity") > 1).count() == 0)
    assert(out.filter(col("top_label_n") > col("n_vecs")).count() == 0)
    assert(out.filter(col("mean_cos") > 1.0 || col("mean_cos") < -1.0)
      .count() == 0)
    // the label mode per cell equals a driver-side recount on the same
    // fixed-centroid assignment (knn_ivf_fixed arithmetic)
    val modes = out.select("cell", "top_label", "top_label_n")
      .as[(Long, Long, Long)].collect()
    assert(modes.map(_._1).distinct.length == modes.length)
    // deterministic: recompute equals
    val again = Similarity.clusterStats(spark, dir)
    assert(out.except(again).count() == 0 &&
      again.except(out).count() == 0)
    out.unpersist()
  }

  test("semdedup_fixed: hand-computed fixture (drop near-dup, keep exemplar)") {
    graft.functions.VectorExpressions.register(spark)
    // centroids = vecs 0,1; vec 2 joins cell 0 at cos 0.993884 ≥ τ=0.9 →
    // dropped (lower-id peer 0 survives); vec 1 is alone in cell 1 →
    // max_cos NULL, keep
    val e = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (2L, Array(0.9, 0.1)))
      .toDF("vec_id", "v")
    val got = Similarity.semdedupFixedOf(e, nClusters = 2, tau = 0.9)
      .as[(Long, Long, Option[Double], Boolean)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, Some(0.993884), true),
      (1L, 1L, None, true),
      (2L, 0L, Some(0.993884), false)))
  }

  test("semdedup_fixed: real corpus equals a driver-side recount") {
    val out = Similarity.semdedupFixed(spark, dir)
      .as[(Long, Long, Option[Double], Boolean)].collect()
    // independent reference: collect the vectors, recompute assignment
    // and verdicts with plain Scala loops (no Spark expressions)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val cents = vecs.take(16)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cellOf = vecs.map { case (id, v) =>
      val (cid, _) = cents.map { case (c, cv) =>
        (c, dot(cv, cv) - 2.0 * dot(cv, v)) }.minBy { case (c, d2) => (d2, c) }
      id -> cid
    }.toMap
    val byCell = vecs.groupBy { case (id, _) => cellOf(id) }
    val expected = vecs.map { case (id, v) =>
      val peers = byCell(cellOf(id)).filter(_._1 != id)
      val maxCos =
        if (peers.isEmpty) None
        else Some(peers.map(p => cos(v, p._2)).max)
      val dropped = peers.exists(p => p._1 < id && cos(v, p._2) >= 0.4)
      (id, cellOf(id), maxCos, !dropped)
    }.toSeq
    assert(out.toSeq == expected)
    assert(out.nonEmpty, "empty embeddings table — recount is vacuous")
  }

  test("pii_redact: constructed strings — counts, placement, idempotence") {
    val rows = Seq(
      ("a", "contact john.doe+spam@mail.example.co.uk and +1-555-0100"),
      ("b", "server 192.168.0.1 and 10.0.0.255 up"),
      ("c", "no pii here"),
      ("d", "x@y.io 1.2.3.4")).toDF("id", "text")
    val got = TextOps.piiRedactOf(rows, "id", "text")
      .as[(String, Long, Long, Long, String)].collect()
      .sortBy(_._1).toSeq
    assert(got == Seq(
      ("a", 1L, 1L, 0L, "contact <EMAIL> and <PHONE>"),
      ("b", 0L, 0L, 2L, "server <IP> and <IP> up"),
      ("c", 0L, 0L, 0L, "no pii here"),
      ("d", 1L, 0L, 1L, "<EMAIL> <IP>")))
    // idempotent: redacting redacted text finds nothing and changes nothing
    val again = TextOps.piiRedactOf(
      got.map(r => (r._1, r._5)).toDF("id", "text"), "id", "text")
      .as[(String, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(again.map(_._5) == got.map(_._5))
    assert(again.forall(r => r._2 == 0 && r._3 == 0 && r._4 == 0))
  }

  test("pii_redact: declared query — counts follow the mod gates, no residue") {
    val out = TextOps.piiRedact(spark, dir).cache()
    val custs = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(out.count() == custs)
    // counts are exactly the synthesis gates
    val bad = out.filter(
      col("n_email") =!= when(col("customer_id") % 3 =!= 0, 1L).otherwise(0L) ||
      col("n_phone") =!= when(col("customer_id") % 2 === 0, 1L).otherwise(0L) ||
      col("n_ip") =!= when(col("customer_id") % 5 =!= 1, 1L).otherwise(0L))
      .count()
    assert(bad == 0)
    // nothing PII-shaped survives redaction
    val residue = out.filter(
      size(regexp_extract_all(col("redacted"),
        lit(TextOps.EmailRe), lit(0))) > 0 ||
      size(regexp_extract_all(col("redacted"),
        lit(TextOps.PhoneRe), lit(0))) > 0 ||
      size(regexp_extract_all(col("redacted"),
        lit(TextOps.IpRe), lit(0))) > 0).count()
    assert(residue == 0)
    out.unpersist()
  }

  test("text_stats consistent with documents.n_chars") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), length(col("text")).as("len"))
    val mismatch = docs.filter(col("n_chars") =!= col("len")).count()
    // n_chars column should equal actual text length in the testdata
    assert(mismatch == 0)
    val stats = TextOps.textStats(spark, dir)
    assert(stats.filter(col("n_tokens") <= 0).count() == 0)
  }
}

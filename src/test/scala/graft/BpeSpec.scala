package graft

import java.nio.file.Files

import graft.operators.TextOps

/** BPE merge learning (TextOps.bpeMerges): the Sennrich et al. 2016
  * merge loop at word granularity. Pins the two rules everything hangs
  * on — greedy left-to-right non-overlap within a step, and merged
  * tokens participating only in LATER steps — plus the deterministic
  * tie-break, and full-table parity against an independent in-test
  * reference implementation (plain Scala fold, no Spark) on a corpus
  * wide enough to exercise ties, self-pairs and chained merges. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def corpusDir(docs: Seq[(Long, String)]): String = {
    val d = Files.createTempDirectory("graft-bpe").toString
    docs.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Independent reference: Counter + greedy fold, mirroring
    * learn_bpe.py's semantics directly (no shared code with the
    * operator). */
  private def refMerges(texts: Seq[String], n: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var docs = texts.map(_.split(' ').toSeq)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (step <- 1 to n) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      docs.foreach { t =>
        t.lazyZip(t.drop(1)).foreach { (a, b) =>
          counts((a, b)) = counts.getOrElse((a, b), 0L) + 1 }
      }
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        val m = s"${a}_$b"
        out += ((step, a, b, m, cnt))
        docs = docs.map { t =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          t.foreach { x =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc(acc.length - 1) = m
            else acc += x
          }
          acc.toSeq
        }
      }
    }
    out.toSeq
  }

  private def run(docs: Seq[(Long, String)], n: Int)
      : Seq[(Int, String, String, String, Long)] =
    TextOps.bpeMerges(spark, corpusDir(docs), nMerges = n)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)

  test("greedy non-overlap: 'a a a' merges once, the merged token pairs next step") {
    val got = run(Seq((1L, "a a a")), 2)
    // step 1: pair (a,a) appears at positions 1-2 and 2-3 → count 2, but
    // the rewrite is greedy left-to-right: [a_a, a]
    assert(got.head == ((1, "a", "a", "a_a", 2L)))
    // step 2: the ONLY pair is (a_a, a) — the merged symbol is new
    assert(got(1) == ((2, "a_a", "a", "a_a_a", 1L)))
  }

  test("tie-break is (count DESC, left ASC, right ASC)") {
    // both pairs occur exactly once; (b,a) < (c,a) lexicographically
    val got = run(Seq((1L, "c a"), (2L, "b a")), 1)
    assert(got == Seq((1, "b", "a", "b_a", 1L)))
  }

  test("single-token and multi-doc corpora: no pairs contributed by 1-token docs") {
    val got = run(Seq((1L, "x"), (2L, "x y"), (3L, "x y")), 1)
    assert(got == Seq((1, "x", "y", "x_y", 2L)))
  }

  test("depth robustness: 64 merge rounds complete and match the reference") {
    // 4 full checkpoint generations (BpeCheckpointEvery = 16): without
    // the lineage cut, round 64's count pass would drag a 64-deep chain
    // of doubled-space replaces through analysis and codegen. 40 docs of
    // 4 repeated tokens give ~80 productive rounds: each doc yields
    // (t,t) cnt 3 then later (t_t,t_t) cnt 1, so the loop never dries
    // up before round 64 and every winner is tie-broken
    // deterministically.
    assert(TextOps.BpeCheckpointEvery * 4 == 64) // the test's premise
    val texts = (0 until 40).map(i => Seq.fill(4)(f"t$i%02d").mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = run(docs, 64)
    assert(got.size == 64)
    assert(got == refMerges(texts, 64))
  }

  test("full-table parity with the independent reference on a mixed corpus") {
    val texts = Seq(
      "the quick fox the quick fox jumps",
      "a a a a b a a b",
      "the quick brown fox",
      "b a b a b a",
      "quick quick quick the the the",
      "fox jumps fox jumps fox")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = run(docs, 5)
    assert(got == refMerges(texts, 5),
      s"got=$got expected=${refMerges(texts, 5)}")
  }

  test("encode: per-doc counts match an independent greedy re-application") {
    val texts = Seq(
      "the quick fox the quick fox jumps",
      "a a a a b a a b",
      "the quick brown fox",
      "b a b a b a",
      "quick quick quick the the the",
      "fox jumps fox jumps fox")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val d = corpusDir(docs)
    val merges = TextOps.bpeMerges(spark, d, nMerges = 4)
      .select("lhs", "rhs", "merged")
      .as[(String, String, String)].collect().toSeq
    assert(merges.nonEmpty)
    // independent application: the reference's greedy left-to-right
    // fold, one pass per merge in rank order
    def applyAll(t0: Seq[String]): Seq[String] =
      merges.foldLeft(t0) { case (t, (a, b, m)) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        t.foreach { x =>
          if (acc.nonEmpty && acc.last == a && x == b)
            acc(acc.length - 1) = m
          else acc += x
        }
        acc.toSeq
      }
    val got = TextOps.bpeEncode(spark, d, nMerges = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == docs.map(_._1))
    got.foreach { case (id, n, nb, comp) =>
      val t = texts(id.toInt).split(' ').toSeq
      val enc = applyAll(t)
      assert(n == t.size && nb == enc.size,
        s"doc $id: got ($n,$nb) want (${t.size},${enc.size}); enc=$enc")
      assert(comp ==
        BigDecimal(enc.size.toDouble / t.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(nb <= n)
    }
    // the merges actually fired somewhere
    assert(got.exists { case (_, n, nb, _) => nb < n })
  }

  test("encode: consecutive spaces collapse like the oracle's regex, " +
      "not halve like a literal pass") {
    // doc 1 contains a DOUBLE space and no occurrence of the learned
    // merge. The encode pass doubles separators (run of 4), applies the
    // merge (no-op here), then collapses runs: the oracle's
    // regexp_replace(' +', ' ') yields "x y" (2 tokens), while the
    // pre-r15 literal replace('  ', ' ') only halved the run back to
    // "x  y" (split → 3 tokens, one empty) — the r14-advice divergence.
    val d = corpusDir(Seq(0L -> "p q p q p q", 1L -> "x  y"))
    val got = TextOps.bpeEncode(spark, d, nMerges = 1)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val (_, n0, nb0, _) = got(0)
    assert(n0 == 6L && nb0 == 3L, s"doc 0: got ($n0, $nb0)") // p_q × 3
    val (_, n1, nb1, _) = got(1)
    // raw split counts the empty token (n_tokens = 3); the encoded
    // stream is whitespace-normalized exactly as the oracle's (= 2)
    assert(n1 == 3L && nb1 == 2L, s"doc 1: got ($n1, $nb1)")
  }

  test("first-round whitespace: a double space blocks a pair in round 1, " +
      "later rounds count over normalized text") {
    // round 1 splits the raw text, so "x  y" yields (x,"") and ("",y),
    // not (x,y); the first merge apply regex-collapses the run, so
    // round 2 counts (x,y) once in doc 1. Values from the bpe_merges
    // oracle SQL in DuckDB 1.0.0; a naive split reference would pick
    // ("", y) in round 2.
    val got = run(Seq((1L, "x  y x y"), (2L, "x y")), 2)
    assert(got == Seq((1, "x", "y", "x_y", 2L), (2, "x", "y", "x_y", 1L)))
  }

  // ---- byte/char-level mode (TextOps.bpeMergesBytes) ----

  /** Independent byte-level reference: Sennrich learn_bpe.py's actual
    * shape — a word-frequency dict of symbol tuples (chars, marker
    * glued to the last), freq-weighted pair counts, greedy in-word
    * rewrite. Plain Scala Map, no shared code with the operator. */
  private def refBytes(texts: Seq[String], n: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var wf: Map[Seq[String], Long] = texts
      .flatMap(_.split(' ').toSeq).groupBy(identity)
      .map { case (w, ws) =>
        val cs = w.map(_.toString)
        (cs.dropRight(1) :+ (cs.last + "</w>")) -> ws.size.toLong
      }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (step <- 1 to n) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      wf.foreach { case (t, f) =>
        t.lazyZip(t.drop(1)).foreach { (a, b) =>
          counts((a, b)) = counts.getOrElse((a, b), 0L) + f }
      }
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        val m = a + b
        out += ((step, a, b, m, cnt))
        wf = wf.toSeq.map { case (t, f) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          t.foreach { x =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc(acc.length - 1) = m
            else acc += x
          }
          acc.toSeq -> f
        }.groupBy(_._1).map { case (t, fs) => t -> fs.map(_._2).sum }
      }
    }
    out.toSeq
  }

  private def runBytes(docs: Seq[(Long, String)], n: Int)
      : Seq[(Int, String, String, String, Long)] =
    TextOps.bpeMergesBytes(spark, corpusDir(docs), nMerges = n)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)

  /** Path-forcing form: localMax = 0 forces the distributed per-round
    * loop, Long.MaxValue forces the single-task learner. */
  private def runBytesPath(docs: Seq[(Long, String)], n: Int,
      localMax: Long): Seq[(Int, String, String, String, Long)] =
    TextOps.bpeMergesBytesOf(spark,
      docs.toDF("doc_id", "text")
        .select(org.apache.spark.sql.functions.split($"text", " ").as("t")),
      nMerges = n, localMaxSymbols = localMax)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)

  test("byte-level: chars merge within words, marker glues to the last char") {
    // "low" ×3, "lowest" ×1: step 1 merges (l,o) with freq-weighted
    // count 4 (3 from 'low', 1 from 'lowest'), step 2 merges
    // (lo, w</w>) count 3 — the marker keeps 'low' distinct from the
    // 'low' prefix of 'lowest' (whose w pairs with 'e', not '</w>').
    val got = runBytes(Seq((1L, "low low low lowest")), 2)
    assert(got.head == ((1, "l", "o", "lo", 4L)))
    assert(got(1) == ((2, "lo", "w</w>", "low</w>", 3L)))
  }

  test("byte-level: pair counts are word-frequency weighted, not type-counted") {
    // 'aa' appears 5 times as one word type; (a, a</w>) must count 5
    val got = runBytes(Seq((1L, "aa aa aa aa aa b")), 1)
    assert(got == Seq((1, "a", "a</w>", "aa</w>", 5L)))
  }

  test("byte-level: full-table parity with the independent reference") {
    val texts = Seq(
      "low lower lowest low low",
      "new newer newest new",
      "wide wider widest",
      "aaa aa a aaa aa",
      "abab abab baba")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = runBytes(docs, 8)
    assert(got == refBytes(texts, 8),
      s"got=$got expected=${refBytes(texts, 8)}")
  }

  test("byte-level encode: per-doc symbol counts match an independent " +
      "re-application of the reference merge table") {
    val texts = Seq(
      "low lower lowest low low",
      "new newer newest new",
      "wide wider widest",
      "abab abab baba")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val n = 6
    val merges = refBytes(texts, n).map { case (_, a, b, m, _) => (a, b, m) }
    // independent encode: char-split each word + marker, apply the
    // merges in rank order with the same greedy left-to-right fold the
    // byte-level reference uses for its own rewrites
    def encodeWord(w: String): Long = {
      var t: Seq[String] = {
        val cs = w.map(_.toString)
        cs.dropRight(1) :+ (cs.last + "</w>")
      }
      merges.foreach { case (a, b, m) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        t.foreach { x =>
          if (acc.nonEmpty && acc.last == a && x == b)
            acc(acc.length - 1) = m
          else acc += x
        }
        t = acc.toSeq
      }
      t.size.toLong
    }
    val want = docs.map { case (id, text) =>
      val ws = text.split(' ').toSeq
      (id, ws.size.toLong, ws.map(encodeWord).sum)
    }.toSet
    val got = TextOps.bpeEncodeBytes(spark, corpusDir(docs), nMerges = n)
      .select("doc_id", "n_tokens", "n_tokens_bpe")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("byte-level: 64 rounds with checkpoint generations match the reference" +
      " (distributed loop forced)") {
    // distinct 4-char words whose char pairs chain: each word type
    // yields 4 symbols → 3 pairs + marker handling; 30 types keep the
    // loop productive past 64 rounds. localMax=0 forces the
    // distributed per-round loop (the default dispatch would take the
    // single-task learner on a corpus this small), keeping the
    // checkpoint-generation machinery under test.
    val texts = (0 until 30).map { i =>
      val w = f"w${i % 10}x${i / 10}"
      Seq.fill(i % 3 + 1)(w).mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = runBytesPath(docs, 64, localMax = 0L)
    assert(got == refBytes(texts, 64))
  }

  test("byte-level: single-task learner is merge-table-identical to the " +
      "distributed loop and the reference, through exhaustion") {
    // same depth fixture; 256 requested rounds exhaust the pair space
    // well before the budget, so the identity covers productive rounds
    // AND the clean stop. The default-dispatch runBytes path (local at
    // this size) is covered by every other byte-level test.
    val texts = (0 until 30).map { i =>
      val w = f"w${i % 10}x${i / 10}"
      Seq.fill(i % 3 + 1)(w).mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val local = runBytesPath(docs, 256, localMax = Long.MaxValue)
    val dist = runBytesPath(docs, 256, localMax = 0L)
    assert(local == dist)
    assert(local == refBytes(texts, 256))
    assert(local.size < 256) // exhaustion actually happened
  }

  test("merge symbols containing quotes and backslashes: both learners " +
      "and both encoders match the references") {
    // byte level: "it's" ×4 ties (i,t), (t,') and (',s</w>) at 4, and
    // ' sorts first, so the first merge is (', s</w>); "x\y" brings a
    // backslash symbol into a later merge
    val texts = Seq("it's it's it's", "x\\y x\\y", "it's x\\y")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val n = 5
    val want = refBytes(texts, n)
    assert(want.head == ((1, "'", "s</w>", "'s</w>", 4L)))
    assert(want.exists(_._2 == "\\"))
    assert(runBytes(docs, n) == want)
    assert(runBytesPath(docs, n, localMax = 0L) == want)
    assert(runBytesPath(docs, n, localMax = Long.MaxValue) == want)
    def reapply(t0: Seq[String], ms: Seq[(Int, String, String, String, Long)])
        : Seq[String] =
      ms.foldLeft(t0) { case (t, (_, a, b, m, _)) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        t.foreach { x =>
          if (acc.nonEmpty && acc.last == a && x == b)
            acc(acc.length - 1) = m
          else acc += x
        }
        acc.toSeq
      }
    def symbols(w: String): Seq[String] = {
      val cs = w.map(_.toString)
      cs.dropRight(1) :+ (cs.last + "</w>")
    }
    val gotBytes = TextOps.bpeEncodeBytes(spark, corpusDir(docs), nMerges = n)
      .select("doc_id", "n_tokens", "n_tokens_bpe")
      .as[(Long, Long, Long)].collect().toSet
    assert(gotBytes == docs.map { case (id, text) =>
      val ws = text.split(' ').toSeq
      (id, ws.size.toLong, ws.map(w => reapply(symbols(w), want).size).sum
        .toLong)
    }.toSet)
    // word level: tokens with quotes and backslashes are merge symbols
    val wtexts = Seq("it's a\\b it's a\\b", "it's a\\b 'q' \\", "'q' \\")
    val wdocs = wtexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val wwant = refMerges(wtexts, 3)
    assert(wwant.head == ((1, "it's", "a\\b", "it's_a\\b", 3L)))
    assert(wwant.exists(m => m._2.contains("'") && m._3.contains("\\")))
    val wd = corpusDir(wdocs)
    val wgot = TextOps.bpeMerges(spark, wd, nMerges = 3)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(wgot == wwant)
    val gotWords = TextOps.bpeEncode(spark, wd, nMerges = 3)
      .select("doc_id", "n_tokens", "n_tokens_bpe")
      .as[(Long, Long, Long)].collect().toSet
    assert(gotWords == wdocs.map { case (id, text) =>
      val t = text.split(' ').toSeq
      (id, t.size.toLong, reapply(t, wwant).size.toLong)
    }.toSet)
  }

  test("merge exhaustion: learners stop cleanly, encodes keep clean-stop " +
      "semantics (the r16-advice oracle-guard contract)") {
    // 'ab ab' + 'ab': exactly ONE productive merge at either
    // granularity, then no pairs remain — the learner must emit fewer
    // rows than nMerges (no crash, no NULL poisoning) and the encode
    // must treat the missing rounds as no-ops. The DuckDB oracles
    // encode the same semantics via coalesce(..., chr(1)) guards on
    // their scalar subqueries; these literals were cross-checked
    // against DuckDB on this exact corpus (PROFILE_r17).
    val docs = Seq((1L, "ab ab"), (2L, "ab"))
    val d = corpusDir(docs)
    val mw = TextOps.bpeMerges(spark, d, nMerges = 4)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(mw == Seq((1, "ab", "ab", "ab_ab", 1L)))
    val mb = TextOps.bpeMergesBytes(spark, d, nMerges = 4)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(mb == Seq((1, "a", "b</w>", "ab</w>", 3L)))
    val ew = TextOps.bpeEncode(spark, d, nMerges = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(ew == Seq((1L, 2L, 1L, 0.5), (2L, 1L, 1L, 1.0)))
    val eb = TextOps.bpeEncodeBytes(spark, d, nMerges = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(eb == Seq((1L, 2L, 2L, 1.0), (2L, 1L, 1L, 1.0)))
  }
}

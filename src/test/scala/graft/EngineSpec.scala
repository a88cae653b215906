package graft

import org.apache.spark.sql.functions._

import graft.rec.{Engine, RecsApi}

/** End-to-end parity tests for the full blended recommender against the
  * reference's hand-verified golden outputs (FIXTURES.md §A.2) — the
  * strongest whole-engine check: cooc + jaccard + seeded PPR +
  * normalization + blend + exclusion + top-N in one pipeline. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  /** The reference toy graph EXACTLY as `build_graph` derives it —
    * shared with ServeSpec via [[Fixtures.toyGraph]]. */
  private lazy val toy = Fixtures.toyGraph(spark)

  private def rec(cid: Long) =
    Engine.recommend(spark, toy, cid)
      .as[(Long, Double, Double, Double, Double, Double)].collect().toList

  test("C1: every product excluded → empty list (tp1/main.py:21-24)") {
    assert(rec(1L).isEmpty)
  }

  test("C2: golden [(P1, 0.836231, co 0.4, sim 0.3, ppr 0.136231)]") {
    val got = rec(2L)
    assert(got.map(_._1) == List(1L))
    val (_, score, cCooc, cSim, cPpr, cGlobal) = got.head
    assert(math.abs(score - 0.836231) < 2e-6, s"score $score")
    assert(cCooc == 0.4 && cSim == 0.3)
    assert(math.abs(cPpr - 0.136231) < 2e-6, s"c_ppr $cPpr")
    assert(cGlobal == 0.0)
  }

  test("C3: golden [(P2,1.0), (P4,0.427511), (P3,0.3)]") {
    val got = rec(3L)
    assert(got.map(_._1) == List(2L, 4L, 3L), got.toString)
    assert(math.abs(got(0)._2 - 1.0) < 2e-6)
    assert(math.abs(got(1)._2 - 0.427511) < 2e-6, s"P4 ${got(1)._2}")
    assert(math.abs(got(1)._5 - 0.127511) < 2e-6) // P4 ppr contribution
    assert(math.abs(got(2)._2 - 0.3) < 2e-6)
    assert(got(2)._5 == 0.0) // P3 is an unreachable sink under seeded PPR
  }

  test("strategy breakdown matches FIXTURES §A.2 raw scores") {
    val got = Engine.strategyBreakdown(spark, toy, 3L)
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(got("co_occurrence") == Map(2L -> 1.0))
    got("similarity").values.foreach(v =>
      assert(math.abs(v - 0.333333) < 2e-6))
    assert(got("similarity").keySet == Set(2L, 3L, 4L))
    assert(math.abs(got("personalized_pagerank")(2L) - 0.459442) < 2e-6)
    assert(math.abs(got("personalized_pagerank")(4L) - 0.195279) < 2e-6)
    assert(got("personalized_pagerank")(3L) == 0.0)
  }

  test("unknown customer is an error, not a fallback (P5)") {
    intercept[IllegalArgumentException] {
      Engine.recommend(spark, toy, 99L)
    }
  }

  test("seedless known customer falls back to global PageRank (G2)") {
    val g = toy.copy(customers = Seq(1L, 2L, 3L, 4L).toDF("customer_id"))
    val got = Engine.recommend(spark, g, 4L)
      .as[(Long, Double, Double, Double, Double, Double)].collect().toList
    // golden global ranks: P2 0.463293 > P1 = P4 0.244544 > P3 0.047619
    assert(got.map(_._1) == List(2L, 1L, 4L))
    assert(math.abs(got.head._2 - 0.463293) < 2e-6)
    assert(got.forall(r => r._6 == r._2)) // contribution labeled global
  }

  test("serving rows equal the DataFrame answers for every customer") {
    // the snapshot answers behind recommendRows/breakdownRows against the
    // DataFrame path, exact Double equality; an unknown id must fail
    // alike on both
    def answer(rows: => Array[org.apache.spark.sql.Row])
        : Either[String, Seq[org.apache.spark.sql.Row]] =
      try Right(rows.toSeq)
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    // the blend's small-N cut (top 1 and 3) is checked where a request
    // is cheap; sf0.001 stays at 10, its DataFrame path being hundreds
    // of ms per request
    def check(g: Engine.ProductGraph, cid: Long,
        topNs: Seq[Int] = Seq(1, 3, 10)): Unit = {
      topNs.foreach { n =>
        val rec = answer(Engine.recommendRows(spark, g, cid, n))
        assert(rec == answer(Engine.recommend(spark, g, cid, n).collect()),
          s"recommend $cid top $n")
      }
      val by = answer(Engine.breakdownRows(spark, g, cid))
      assert(by == answer(Engine.strategyBreakdown(spark, g, cid).collect()),
        s"breakdown $cid")
    }
    def customers(g: Engine.ProductGraph): Seq[Long] =
      g.customers.as[Long].collect().toSeq.sorted
    Seq(Fixtures.write(spark) -> Seq(1, 3, 10),
        "/root/testdata/sf0.001" -> Seq(10)).foreach { case (dir, topNs) =>
      val g = Engine.fromOrders(spark, dir)
      customers(g).foreach(check(g, _, topNs))
      check(g, customers(g).last + 1, topNs) // P5
    }
    Seq(1L, 2L, 3L, 99L).foreach(check(toy, _)) // C1-C3, P5
    check(toy.copy(customers = Seq(1L, 2L, 3L, 4L).toDF("customer_id")), 4L)
    // unknown ids fail with the DataFrame path's message
    assert(answer(Engine.recommendRows(spark, toy, 99L)) ==
      Left("requirement failed: unknown customer id: 99"))
  }

  test("/recs dispatch: unknown strategy rejected; similarity falls back") {
    val dir = "/root/testdata/sf0.001"
    intercept[IllegalArgumentException] {
      RecsApi.recs(spark, dir, "nope")
    }
    // similarity without customer == popularity ranking (main.py:132-141)
    val fallback = RecsApi.recs(spark, dir, "similarity")
      .as[(Long, Long)].collect().toList
    val popularity = graft.operators.Relational.popularityTopk(spark, dir)
      .limit(10).as[(Long, Long)].collect().toList
    assert(fallback == popularity.take(10))
    // co_occurrence ignores the customer id entirely (main.py:92-123)
    val a = RecsApi.recs(spark, dir, "co_occurrence", Some(7L))
      .as[(Long, String, Double, Long)].collect().toList
    val b = RecsApi.recs(spark, dir, "co_occurrence", None)
      .as[(Long, String, Double, Long)].collect().toList
    assert(a == b)
  }
}

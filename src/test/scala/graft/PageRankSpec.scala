package graft

import org.apache.spark.sql.functions._

import graft.algo.PageRank

/** Golden-fixture + invariant tests for G1 (FIXTURES.md §A.1/§A.2).
  * The 4-node toy adjacency:
  *   P1→P2 (1.0); P2→P1 (0.5), P2→P4 (0.5); P3 sink; P4→P2 (1.0).
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def toyVertices(pers: Map[Long, Double]) =
    Seq(1L, 2L, 3L, 4L).map(id => (id, pers.getOrElse(id, 0.0)))
      .toDF("id", "pers")

  private def toyEdges =
    Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (2L, 4L, 0.5), (4L, 2L, 1.0))
      .toDF("src", "dst", "weight")

  private def ranks(pers: Map[Long, Double]): Map[Long, Double] =
    PageRank.run(spark, toyVertices(pers), toyEdges)
      .as[(Long, Double)].collect().toMap

  test("global PageRank matches the reference golden values") {
    // tp1 engine executed on the seed: P1:0.244544 P2:0.463293
    // P3:0.047619 P4:0.244544 (FIXTURES.md §A.2)
    val r = ranks(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    val golden = Map(1L -> 0.244544, 2L -> 0.463293, 3L -> 0.047619,
      4L -> 0.244544)
    golden.foreach { case (id, exp) =>
      assert(math.abs(r(id) - exp) < 2e-6, s"vertex $id: ${r(id)} vs $exp")
    }
  }

  test("distributed loop matches the same goldens (localThreshold=0)") {
    // the single-task fast path handles small graphs; force the
    // co-partitioned RDD loop to keep the 100-TB code path golden-tested
    val r = PageRank.run(spark,
        toyVertices(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0)),
        toyEdges, PageRank.Params(localThreshold = 0L))
      .as[(Long, Double)].collect().toMap
    val golden = Map(1L -> 0.244544, 2L -> 0.463293, 3L -> 0.047619,
      4L -> 0.244544)
    golden.foreach { case (id, exp) =>
      assert(math.abs(r(id) - exp) < 2e-6, s"vertex $id: ${r(id)} vs $exp")
    }
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("fast path and distributed loop agree to fp noise (seeded)") {
    val local = ranks(Map(1L -> 1.0))
    val dist = PageRank.run(spark, toyVertices(Map(1L -> 1.0)), toyEdges,
        PageRank.Params(localThreshold = 0L))
      .as[(Long, Double)].collect().toMap
    local.foreach { case (id, v) =>
      assert(math.abs(v - dist(id)) < 1e-9, s"vertex $id: $v vs ${dist(id)}")
    }
  }

  test("rank is a probability distribution (Σ=1)") {
    val r = ranks(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("seeded PPR (C3, seed {P1}) matches the reference breakdown") {
    // strategy_breakdown C3 personalized_pagerank:
    // P2:0.459442, P4:0.195279, P3:0.0 (FIXTURES.md §A.2)
    val r = ranks(Map(1L -> 1.0))
    assert(math.abs(r(2L) - 0.459442) < 2e-6)
    assert(math.abs(r(4L) - 0.195279) < 2e-6)
    assert(math.abs(r(3L) - 0.0) < 2e-6)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("seeded PPR (C2, seeds {P2,P3,P4}) matches the reference breakdown") {
    // strategy_breakdown C2 personalized_pagerank: P1:0.210965
    val r = ranks(Map(2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    assert(math.abs(r(1L) - 0.210965) < 2e-6)
  }

  test("default Params stop the toy graph at the round cap, not the tolerance") {
    // its L1 delta shrinks by about d = 0.85 a round, too slowly to reach
    // 1e-6 within 50 rounds: the default run is the 50-step run
    val v = toyVertices(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    val capped = PageRank.run(spark, v, toyEdges,
        PageRank.Params(tol = 0.0, maxIter = 50))
      .as[(Long, Double)].collect().toMap
    assert(ranks(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0)) == capped)
  }

  test("all-zero personalization falls back to uniform (ref :183-188)") {
    val zero = ranks(Map.empty)
    val unif = ranks(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    zero.foreach { case (id, v) => assert(math.abs(v - unif(id)) < 1e-12) }
  }

  test("pagerank_fixed: exactly 8 power steps, both code paths agree") {
    // tol=0 must disable the early exit: 8 steps of a converging chain
    // differ measurably from the converged fixpoint, and the distributed
    // loop must reproduce the local solver's doubles (the DuckDB oracle
    // only ever exercises the local path at test scales)
    val v = toyVertices(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    val fixed = PageRank.run(spark, v, toyEdges,
        PageRank.Params(tol = 0.0, maxIter = 8))
      .as[(Long, Double)].collect().toMap
    val fixedDist = PageRank.run(spark, v, toyEdges,
        PageRank.Params(tol = 0.0, maxIter = 8, localThreshold = 0L))
      .as[(Long, Double)].collect().toMap
    val converged = ranks(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    fixed.foreach { case (id, r) =>
      assert(math.abs(r - fixedDist(id)) < 1e-12,
        s"paths disagree at $id: $r vs ${fixedDist(id)}")
    }
    assert(math.abs(fixed.values.sum - 1.0) < 1e-9) // mass conserved
    // not yet converged after 8 rounds on this graph: the difference is
    // well above fp noise, proving the early exit really is off
    assert(fixed.exists { case (id, r) => math.abs(r - converged(id)) > 1e-7 })
  }

  test("pagerank_global runs on the toy parquet layout end-to-end") {
    val dir = Fixtures.write(spark)
    val out = PageRank.pagerankGlobal(spark, dir)
      .as[(Long, Double)].collect().toMap
    // same graph as toyEdges (adjacency derives from the same orders)
    assert(math.abs(out(2L) - 0.463293) < 2e-6)
    assert(math.abs(out.values.sum - 1.0) < 1e-5) // rounded to 6dp each
  }

  test("ppr_fixed: seeded 8-step power iteration, both code paths agree") {
    // the personalized twin of the pagerank_fixed test: seeded teleport,
    // tol=0 (no early exit), local solver == distributed loop, mass
    // conserved, and measurably NOT the converged seeded fixpoint
    val v = toyVertices(Map(1L -> 1.0))
    val fixed = PageRank.run(spark, v, toyEdges,
        PageRank.Params(tol = 0.0, maxIter = 8))
      .as[(Long, Double)].collect().toMap
    val fixedDist = PageRank.run(spark, v, toyEdges,
        PageRank.Params(tol = 0.0, maxIter = 8, localThreshold = 0L))
      .as[(Long, Double)].collect().toMap
    fixed.foreach { case (id, r) =>
      assert(math.abs(r - fixedDist(id)) < 1e-12,
        s"paths disagree at $id: $r vs ${fixedDist(id)}")
    }
    assert(math.abs(fixed.values.sum - 1.0) < 1e-9)
    val converged = ranks(Map(1L -> 1.0))
    assert(fixed.exists { case (id, r) => math.abs(r - converged(id)) > 1e-7 })
    // seeded teleport must concentrate mass relative to the uniform
    // variant: the seed vertex outranks its uniform-teleport self
    val uniformFixed = PageRank.run(spark,
        toyVertices(Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0)),
        toyEdges, PageRank.Params(tol = 0.0, maxIter = 8))
      .as[(Long, Double)].collect().toMap
    assert(fixed(1L) > uniformFixed(1L))
  }

  test("ppr_fixed runs on the toy parquet layout end-to-end") {
    val dir = Fixtures.write(spark)
    val out = PageRank.pprFixed(spark, dir)
      .as[(Long, Double)].collect().toMap
    assert(out.size == 4) // every product keeps a rank row
    assert(math.abs(out.values.sum - 1.0) < 1e-5)
  }
}

package graft

import graft.algo.{Fixpoint, PageRank}
import graft.model.BuilderCache
import graft.operators.{Dedup, GraphMetrics}

/** The shared round loop: its cap, stop test and per-round records, and
  * the records of the engine loops that run on it. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("reaching the cap of a loop that must converge fails, naming the " +
      "loop and the cap") {
    val e = intercept[IllegalArgumentException] {
      Fixpoint.run("toy-cap", 0, 4, mustConverge = true)(_ == 0) {
        (s, _) => (s + 1, 1.0, s + 1L)
      }
    }
    assert(e.getMessage.contains("toy-cap") && e.getMessage.contains("4"),
      e.getMessage)
    assert(Fixpoint.lastRuns("toy-cap").map(_.round) == Seq(1, 2, 3, 4))
    // a loop that need not converge returns its state at the cap
    assert(Fixpoint.run("toy-cap", 0, 4)(_ == 0)((s, _) => (s + 1, 1.0, 0L))
      == 4)
  }

  test("an early stop records exactly the rounds that ran") {
    var steps = 0
    val out = Fixpoint.run("toy-stop", 0.0, 10, mustConverge = true)(
        _ < 0.3) { (s, r) => steps += 1; (s + 1.0 / r, 1.0 / r, r.toLong) }
    val rec = Fixpoint.lastRuns("toy-stop")
    assert(steps == 4 && rec.map(_.round) == Seq(1, 2, 3, 4))
    assert(rec.map(_.delta) == Seq(1.0, 0.5, 1.0 / 3, 0.25))
    assert(rec.map(_.rows) == Seq(1L, 2L, 3L, 4L))
    assert(rec.forall(r => r.loop == "toy-stop" && r.wallMs >= 0))
    assert(math.abs(out - (1 + 0.5 + 1.0 / 3 + 0.25)) < 1e-12)
  }

  test("the distributed PageRank records one round per iteration, its " +
      "deltas falling below tol by the last") {
    val v = Seq(1L, 2L, 3L, 4L).map((_, 1.0)).toDF("id", "pers")
    val e = Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (2L, 4L, 0.5), (4L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    // at the default tol (1e-6) this graph reaches the 50-iteration cap
    // with delta 1.2e-4: deltas shrink by about d = 0.85 a round
    val params = PageRank.Params(tol = 1e-3, localThreshold = 0L)
    PageRank.run(spark, v, e, params).collect()
    val rec = Fixpoint.lastRuns("pagerank")
    assert(rec.map(_.round) == (1 to rec.size), rec)
    assert(rec.size > 1 && rec.size < params.maxIter, rec)
    assert(rec.last.delta < params.tol, rec)
    assert(rec.init.forall(_.delta >= params.tol), rec)
    assert(rec.zip(rec.tail).forall { case (a, b) => b.delta < a.delta }, rec)
    assert(rec.forall(_.rows == 4L), rec)
  }

  test("the one-task PageRank on the toy graph under default Params runs " +
      "to the 50-round cap") {
    val v = Seq(1L, 2L, 3L, 4L).map((_, 1.0)).toDF("id", "pers")
    val e = Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (2L, 4L, 0.5), (4L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val params = PageRank.Params()
    PageRank.run(spark, v, e, params).collect()
    val rec = Fixpoint.lastRuns("pagerankLocal")
    assert(rec.map(_.round) == (1 to params.maxIter), rec)
    assert(rec.last.delta >= params.tol, rec)
    assert(rec.forall(_.rows == 4L), rec)
  }

  test("dupClusters on the 200-node path graph ends with a round that " +
      "changed no label") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("p1", "p2")
    Dedup.dupClusters(chain).collect()
    val rec = Fixpoint.lastRuns("dupClusters")
    assert(rec.nonEmpty && rec.last.delta == 0.0, rec)
    assert(rec.init.forall(_.delta > 0), rec)
    assert(rec.forall(_.rows == 200L), rec)
  }

  // path 1-2-3-4-5 plus chord 1-3, both directions: from seed 1 the
  // levels are {2, 3}, {4}, {5}
  private def pathCc = {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L))
    (und ++ und.map(_.swap)).map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "cnt")
  }

  test("reach_hops records each level's rows from its cut, 0 for a level " +
      "past the graph's reach") {
    GraphMetrics.reachHopsOf(pathCc, nSeeds = 1, maxHops = 4).collect()
    val rec = Fixpoint.lastRuns("reach_hops")
    assert(rec.map(r => (r.round, r.rows)) ==
      Seq((1, 2L), (2, 1L), (3, 1L), (4, 0L)))
  }

  test("reachHopsOf inside BuilderCache.uncached starts no Spark job") {
    val cc = pathCc
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      df = BuilderCache.uncached(GraphMetrics.reachHopsOf(cc, 1, 3))
    }
    assert(jobs == 0, s"building the frame started $jobs jobs")
    assert(Fixpoint.lastRuns("reach_hops").map(_.rows) == Seq(-1L, -1L, -1L))
    assert(df.as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 2L), (1L, 5L, 3L)))
  }
}

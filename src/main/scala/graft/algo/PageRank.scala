package graft.algo

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Tables
import graft.operators.Relational

/** G1: personalized PageRank by power iteration, with the reference's exact
  * semantics (`tp1/knoledge_graphs/recommendation.py:135-188`):
  *
  *   rank'(v) = (1-d)·pers(v) + d·( Σ_{u→v} w(u,v)·rank(u) + sinkMass/N )
  *
  *   - damping d=0.85, L1 tolerance 1e-6, ≤50 iterations
  *     (`recommendation.py:32-35`);
  *   - dangling (zero-out-degree) mass redistributed uniformly over ALL
  *     vertices (`recommendation.py:160-165,172-174`);
  *   - personalization renormalized to sum 1, falling back to uniform when
  *     the total is 0 (`recommendation.py:181-188`);
  *   - initial rank uniform 1/N (`recommendation.py:153`);
  *   - convergence on Σ|Δrank| < tol (`recommendation.py:175-178`).
  *
  * Catalyst cannot express a convergence loop, so this is the one operator
  * that drops below the DataFrame API (SURVEY §4.2): a co-partitioned RDD
  * loop, not GraphX `Pregel`, which has no per-iteration global aggregate
  * for the sink/teleport terms (a hand-rolled `aggregateMessages` loop
  * re-derives the replicated vertex view each step: 4-node toy graph,
  * 10 iterations ≈ 5 s, 20 > 5 min). Its rounds run under [[Fixpoint]],
  * which owns the cap, the stop test and the per-round record. Each
  * round:
  *   - joins edges and vertex state under one HashPartitioner, so both
  *     joins are narrow; the one shuffle is the reduceByKey of
  *     contributions on dst, what Pregel would shuffle too;
  *   - runs one action, the fused L1-delta + next sink mass reduce,
  *     whose delta is the round's record;
  *   - `localCheckpoint`s the new state. That keeps 50 rounds
  *     O(rounds), not O(rounds²), and releases the previous round's
  *     shuffle files, which stay on disk while any live lineage
  *     references their ShuffleDependency (an 8-round cadence held ~8
  *     edge-sized generations live: >70 GB at sf10). The state is
  *     already cached and immediately reduced, and orders of magnitude
  *     smaller than the edge shuffle it releases.
  * At 100 TB the same structure holds: edges partitioned once, ~50 narrow
  * stages + 50 shuffles bounded by |V| message traffic.
  */
object PageRank {

  /** `localThreshold`: when |V|+|E| is at most this, the whole power
    * iteration runs inside ONE executor task ([[runLocal]]) instead of
    * ~`maxIter` scheduled jobs. ~8M entries ≈ low hundreds of MB of task
    * state — comfortably one task; larger graphs take the distributed
    * loop. Set 0 to force the distributed path (tests do).
    *
    * The defaults are the reference's (`recommendation.py:32-35`). At
    * d = 0.85 the 1e-6 stop test fires within 50 rounds only when the L1
    * delta shrinks faster than about 0.77 a round (from a first delta
    * near 0.5); at the damping's own rate of 0.85 it would take about 80
    * rounds. Slower graphs stop at the round cap, and the returned ranks
    * are then the 50-step ranks: PageRankSpec's 4-node toy graph is one. */
  final case class Params(
      damping: Double = 0.85, tol: Double = 1e-6, maxIter: Int = 50,
      localThreshold: Long = 8L * 1000 * 1000)

  /** Per-source adjacency as parallel primitive arrays, ~16 B an edge
    * in memory and on the wire. NOT `Array[(Long, Double)]`: an object
    * per edge (~56 B for 16 B of payload) is ~40 GB of heap for the
    * sf30 graph's 720 M edges, whose partitions then fail storage
    * admission and rebuild from the groupByKey shuffle every round. */
  private[graft] type Adj = (Array[Long], Array[Double])

  /** Session-level memo of the grouped adjacency, keyed by the edge
    * DataFrame's semantic plan hash: pagerank_global, ppr_seeded and
    * rec_blend_full all iterate the SAME product graph in one
    * Verify/Bench session, so the DF→RDD conversion + groupByKey is paid
    * once. Entries are tiny handles to cached RDDs; cleared with the
    * SparkContext. */
  private val adjCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, Int), (RDD[(Long, Adj)], HashPartitioner, Long)]

  /** Drop this application's memoized grouped adjacencies so the next
    * PageRank call pays the DF→RDD + groupByKey first-touch again — the
    * hook [[graft.Bench]]'s solo re-adjudication uses to re-execute a
    * cold-gated query's full chain inside one session. */
  def releaseAdjacency(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    adjCache.keys.filter(_._1 == app).foreach { k =>
      adjCache.remove(k).foreach(_._1.unpersist(blocking = false))
    }
  }

  private def groupedAdjacency(spark: SparkSession, edges: DataFrame,
      n: Long): (RDD[(Long, Adj)], HashPartitioner, Long) = {
    import spark.implicits._
    val key = (spark.sparkContext.applicationId,
      edges.queryExecution.analyzed.semanticHash())
    adjCache.get(key) match {
      case Some((rdd, p, m)) => (rdd, p, m)
      case None =>
        val eRaw = edges
          .select(col("src").cast("long"), col("dst").cast("long"),
            col("weight").cast("double"))
          .as[(Long, Long, Double)].rdd
          .map { case (s, d, w) => (s, (d, w)) }
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        val m = eRaw.count()
        // Partition by graph size, not cluster width: tiny graphs on
        // defaultParallelism partitions are pure scheduling overhead
        // across 50 rounds, and no cluster-width cap either — edge-sized
        // tasks (~2 M edges) keep each reduceByKey map-side combine
        // bounded by the keys one task's edges touch, where a capped
        // count (sf30: 128 tasks of ~5.6 M edges reaching ~all 6 M dst
        // keys) heap-OOM'd a 64 g driver.
        val numParts = math.max(1, math.min(4096,
          math.ceil(math.max(n / 100000.0, m / 2000000.0)).toInt))
        val p = new HashPartitioner(numParts)
        // MEMORY_AND_DISK_SER, not cache(): the loop reads the
        // adjacency every round, so a partition that fails memory
        // admission must land on local disk — a miss re-runs the
        // groupByKey SHUFFLE each round. Serialized primitive arrays
        // (see [[Adj]]) keep the working set at edge bytes.
        val grouped = eRaw.groupByKey(p)
          .mapValues { it =>
            val a = it.toArray
            (a.map(_._1), a.map(_._2))
          }
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        grouped.count()
        eRaw.unpersist(blocking = false)
        adjCache.put(key, (grouped, p, m))
        (grouped, p, m)
    }
  }

  /** Single-task solver: the per-iteration cost of the distributed loop is
    * almost pure scheduling on small graphs (measured ≈0.65 s/iteration at
    * sf0.1 — 2k vertices / 231k edges already sit in ONE partition, yet
    * 50 iterations cost ~32 s of job launches). When the graph fits one
    * task, run the identical math — same sink redistribution, teleport,
    * L1 convergence (`recommendation.py:135-188`) — inside a single
    * `mapPartitions` job: one job total instead of ~50. This is still an
    * executor-side computation over the same cached adjacency (no driver
    * collect), so the code path is cluster-safe; it is simply the
    * single-partition degenerate case made explicit. */
  private def runLocal(spark: SparkSession, vRaw: RDD[(Long, Double)],
      eBySrc: RDD[(Long, Adj)], persTotal: Double,
      params: Params): DataFrame = {
    import spark.implicits._
    val vTag: RDD[(Long, Either[Double, Adj])] =
      vRaw.mapValues(Left(_))
    val eTag: RDD[(Long, Either[Double, Adj])] =
      eBySrc.mapValues(Right(_))
    (vTag union eTag).coalesce(1).mapPartitions { it =>
      val persMap = scala.collection.mutable.LongMap.empty[Double]
      val adjRaw =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Adj)]
      it.foreach {
        case (id, Left(p))  => persMap(id) = p
        case (id, Right(a)) => adjRaw += ((id, a))
      }
      val (ids, rank) = solveLocal(persMap, persTotal, adjRaw, params)
      Iterator.range(0, ids.length).map(j => (ids(j), rank(j)))
    }.toDF("id", "rank")
  }

  /** The in-task power iteration shared by [[runLocal]] and
    * [[graft.rec.Engine]]'s serving snapshot: the one copy of the sink /
    * teleport / L1 math below the distributed loop. Its rounds run under
    * [[Fixpoint]] as `pagerankLocal`, one record per power step, kept
    * in the JVM that solves: the driver for a serving snapshot, the
    * task's executor for [[runLocal]] (the driver itself in local mode).
    *
    * Vertices are indexed in ascending id order, and `contrib(v)` sums
    * its in-edges in that index order, so neither the order rows arrive
    * in nor the order of `adjRaw` can change a rank (each source lists a
    * destination at most once).
    *
    * @param persMap   raw personalization weight per vertex id
    * @param persTotal Σ raw weights over the vertex rows; 0 → uniform
    * @param adjRaw    per-source (dsts, weights)
    * @return the vertex ids ascending and the rank of each */
  private[graft] def solveLocal(persMap: scala.collection.Map[Long, Double],
      persTotal: Double, adjRaw: Iterable[(Long, Adj)],
      params: Params): (Array[Long], Array[Double]) = {
    val ids = persMap.keysIterator.toArray
    java.util.Arrays.sort(ids) // deterministic index order
    val idx = scala.collection.mutable.LongMap.empty[Int]
    var i = 0
    while (i < ids.length) { idx(ids(i)) = i; i += 1 }
    val nV = ids.length
    val pers = new Array[Double](nV)
    i = 0
    while (i < nV) {
      val p = persMap(ids(i))
      pers(i) = if (persTotal > 0) p / persTotal else 1.0 / nV
      i += 1
    }
    // adjacency in index space; srcs/dsts outside the vertex set drop,
    // exactly as the distributed state joins drop them
    val isSink = Array.fill(nV)(true)
    val outIdx = new Array[Array[Int]](nV)
    val outW = new Array[Array[Double]](nV)
    adjRaw.foreach { case (src, (dsts, ws)) =>
      idx.get(src).foreach { si =>
        isSink(si) = false
        val ki = Array.newBuilder[Int]
        val kw = Array.newBuilder[Double]
        var k = 0
        while (k < dsts.length) {
          if (idx.contains(dsts(k))) { ki += idx(dsts(k)); kw += ws(k) }
          k += 1
        }
        outIdx(si) = ki.result()
        outW(si) = kw.result()
      }
    }
    val d = params.damping
    val rank0 = Array.fill(nV)(1.0 / nV)
    val sinkMass0 = { var s = 0.0; var j = 0
      while (j < nV) { if (isSink(j)) s += rank0(j); j += 1 }; s }
    val (rank, _) = Fixpoint.run("pagerankLocal", (rank0, sinkMass0),
        params.maxIter)(_ < params.tol) { case ((rank, sinkMass), _) =>
      val contrib = new Array[Double](nV)
      var u = 0
      while (u < nV) {
        val oi = outIdx(u)
        if (oi != null) {
          val ow = outW(u); val r = rank(u); var k = 0
          while (k < oi.length) { contrib(oi(k)) += ow(k) * r; k += 1 }
        }
        u += 1
      }
      val next = new Array[Double](nV)
      var dl = 0.0; var sm = 0.0
      var v = 0
      while (v < nV) {
        val nr = (1 - d) * pers(v) + d * (contrib(v) + sinkMass / nV)
        next(v) = nr
        dl += math.abs(nr - rank(v))
        if (isSink(v)) sm += nr
        v += 1
      }
      ((next, sm), dl, nV.toLong)
    }
    (ids, rank)
  }

  /** @param vertices (id: Long, pers: Double) — every node, raw
    *                 (un-normalized) personalization weights
    * @param edges    (src: Long, dst: Long, weight: Double) — row-normalized
    *                 transition weights (out-weights sum to 1 per src)
    * @return (id: Long, rank: Double), Σrank ≈ 1
    */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
      params: Params = Params()): DataFrame = {
    import spark.implicits._
    val vRaw = vertices
      .select(col("id").cast("long"), col("pers").cast("double"))
      .as[(Long, Double)].rdd.cache()
    // |V| and Σpers in one action
    val (n, persTotal) = vRaw.aggregate((0L, 0.0))(
      (acc, v) => (acc._1 + 1, acc._2 + v._2),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    if (n == 0) { // empty graph → empty ranks (nothing to rank); a
      // require here would make every composed pipeline (rec blends,
      // declared queries) blow up on a legitimately empty partition/dir
      vRaw.unpersist(blocking = false)
      return spark.range(0).selectExpr("id", "CAST(0.0 AS DOUBLE) AS rank")
    }

    val (eBySrc, part, m) = groupedAdjacency(spark, edges, n)
    if (n + m <= params.localThreshold)
      return runLocal(spark, vRaw, eBySrc, persTotal, params)
    val hasOut: RDD[(Long, Boolean)] = eBySrc.mapValues(_ => true)

    // state: id -> (rank, pers, isSink); co-partitioned with edges
    val state0: RDD[(Long, (Double, Double, Boolean))] = vRaw
      .mapValues(p => if (persTotal > 0) p / persTotal else 1.0 / n)
      .partitionBy(part)
      .leftOuterJoin(hasOut, part)
      .mapValues { case (p, out) => (1.0 / n, p, out.isEmpty) }
      .cache()
    val sinkMass0 = state0
      .map { case (_, (r, _, s)) => if (s) r else 0.0 }.sum()

    val d = params.damping
    val (state, _) = Fixpoint.run("pagerank", (state0, sinkMass0),
        params.maxIter)(_ < params.tol) { case ((state, sm), _) =>
      val contribs = eBySrc.join(state, part)
        .flatMap { case (_, ((dsts, ws), (r, _, _))) =>
          Iterator.tabulate(dsts.length)(k => (dsts(k), ws(k) * r)) }
        .reduceByKey(part, _ + _) // the one shuffle per iteration
      val stepped = state.leftOuterJoin(contribs, part)
        .mapValues { case ((oldR, p, s), c) =>
          val nr = (1 - d) * p + d * (c.getOrElse(0.0) + sm / n)
          (nr, p, s, math.abs(nr - oldR))
        }.cache()
      stepped.localCheckpoint() // see object scaladoc: lineage + shuffle GC
      // one action: L1 delta + next sink mass together
      val (dl, nsm) = stepped
        .map { case (_, (nr, _, s, ad)) => (ad, if (s) nr else 0.0) }
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      state.unpersist(blocking = false)
      ((stepped.mapValues { case (nr, p, s, _) => (nr, p, s) }, nsm), dl, n)
    }
    state.map { case (id, (r, _, _)) => (id, r) }.toDF("id", "rank")
  }

  /** Transition edges for the product graph: exact (unrounded) row
    * normalization of the co-occurrence counts (`graph.py:70-77`). */
  def productEdges(spark: SparkSession, dir: String): DataFrame =
    Relational.transitionWeights(Relational.coocCounts(spark, dir))

  /** All catalog products as vertices (sinks included — products with no
    * co-occurrence keep empty adjacency rows, `graph.py:75-77`). */
  private def productVertices(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(col("p_partkey").as("id"))

  /** `pagerank_global`: uniform personalization (`recommendation.py:144-148`,
    * precomputed eagerly at engine init `:42` — here computed on demand).
    * Not oracle-checked (iterative, float-order-sensitive); ScalaTest
    * verifies the golden 4-node fixture + Σrank/convergence invariants. */
  /** Session-memoized fixpoint: a deterministic (fixed iteration order,
    * fixed damping) PageRank over a given personalization is a DERIVED
    * TABLE exactly like coocCounts — materialize the converged ranks
    * once per session, every later consumer reads the cache instead of
    * re-running the driver-side iteration (the one computation Catalyst
    * cannot share across queries, because each round is its own job).
    * Keyed by the VERTICES plan (memoByPlan) plus the edges plan's
    * semantic hash, so distinct personalizations and graphs coexist;
    * `name` prefixes the registry key so serving paths can release
    * their entries by prefix ([[graft.model.BuilderCache.release]]). */
  def runMemo(spark: SparkSession, name: String, vertices: DataFrame,
      edges: DataFrame, params: Params = Params()): DataFrame =
    graft.model.BuilderCache.memoByPlan(spark,
      s"$name:${edges.queryExecution.analyzed.semanticHash()}", vertices) {
      run(spark, vertices, edges, params)
    }

  def pagerankGlobal(spark: SparkSession, dir: String): DataFrame = {
    val v = productVertices(spark, dir).withColumn("pers", lit(1.0))
    runMemo(spark, "pprRanks", v, productEdges(spark, dir))
      .select(col("id").as("product_id"), round(col("rank"), 6).as("rank"))
      .orderBy(desc("rank"), asc("product_id"))
  }

  /** `pagerank_fixed`: the oracle-checkable variant of [[pagerankGlobal]]
    * — EXACTLY `iters` power iterations, no early exit (tol=0 keeps the
    * L1 test vacuously true), same sink redistribution / teleport
    * arithmetic and uniform personalization
    * (`tp1/knoledge_graphs/recommendation.py:150-179`). The reference's
    * CONVERGENCE loop is not SQL-expressible, but a fixed iteration
    * count is: the driver's DuckDB oracle unrolls the same 8 steps as
    * chained CTEs, and with the repo's round-to-6dp discipline the two
    * engines' doubles collapse to identical output — moving the
    * iterative tier from invariant-only testing into the hash-checked
    * gate. Memoized under its own key (different params than the
    * converged fixpoint). */
  def pagerankFixed(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    val v = productVertices(spark, dir).withColumn("pers", lit(1.0))
    runMemo(spark, s"pprFixed$iters", v, productEdges(spark, dir),
        Params(tol = 0.0, maxIter = iters))
      .select(col("id").as("product_id"), round(col("rank"), 6).as("rank"))
      .orderBy("product_id")
  }

  /** The seeded personalization vector shared by [[pprSeeded]] and
    * [[pprFixed]]: pers 1.0 on the min purchasing customer's products, 0
    * elsewhere ([[run]] renormalizes by the raw total, so the effective
    * mass is 1/|seeds| per seed — `recommendation.py:181-188`). */
  private def seededVertices(spark: SparkSession, dir: String): DataFrame = {
    val b = Relational.bipartite(spark, dir)
    val seed = b.agg(min("customer_id").as("seed_cid"))
    val seeds = b.join(broadcast(seed), col("customer_id") === col("seed_cid"))
      .select(col("product_id").as("sp"))
    // seeds (one customer's basket) is data-dependent, not provably
    // bounded — no hint (bounded-relation rule); only the 1-row `seed`
    // aggregate above may force its strategy
    productVertices(spark, dir)
      .join(seeds, col("id") === col("sp"), "left_outer")
      .select(col("id"),
        when(col("sp").isNotNull, 1.0).otherwise(0.0).as("pers"))
  }

  /** `ppr_seeded`: personalization 1/|seeds| on the seed customer's
    * products (`recommendation.py:135-142`), seed = min customer id (same
    * convention as the similarity tier). */
  def pprSeeded(spark: SparkSession, dir: String): DataFrame =
    runMemo(spark, "pprRanks", seededVertices(spark, dir),
        productEdges(spark, dir))
      .select(col("id").as("product_id"), round(col("rank"), 6).as("rank"))
      .orderBy(desc("rank"), asc("product_id"))

  /** `ppr_fixed`: the oracle-checkable variant of [[pprSeeded]] — the
    * SAME seeded personalization run for EXACTLY `iters` power steps
    * (tol=0, no early exit), the personalized twin of [[pagerankFixed]].
    * The DuckDB oracle unrolls the identical arithmetic — teleport mass
    * (1−d)·pers(v) with pers = 1/|seeds| on the seed products and 0
    * elsewhere, sink mass over ALL vertices — as chained CTEs; with the
    * round-to-6dp discipline both engines' doubles collapse to identical
    * output. Together with `pagerank_fixed` this hash-checks BOTH
    * personalization shapes the iterative tier serves (uniform and
    * seeded), leaving only the genuinely convergence-dependent queries
    * outside the oracle gate. */
  def pprFixed(spark: SparkSession, dir: String, iters: Int = 8): DataFrame =
    seededRanksFixed(spark, dir, iters)
      .select(col("id").as("product_id"), round(col("rank"), 6).as("rank"))
      .orderBy("product_id")

  /** The RAW (unrounded) seeded fixed-iteration ranks behind
    * [[pprFixed]] — shared with [[graft.operators.Recommend]]'s
    * `rec_blend_fixed` so the blend and the declared query read one
    * memoized fixpoint. */
  private[graft] def seededRanksFixed(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame =
    runMemo(spark, s"pprSeededFixed$iters", seededVertices(spark, dir),
      productEdges(spark, dir), Params(tol = 0.0, maxIter = iters))
}

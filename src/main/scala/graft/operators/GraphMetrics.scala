package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.Fixpoint
import graft.model.BuilderCache

/** Structural graph metrics over the derived co-purchase graph — the
  * extension tier's graph-analytics widening beyond the reference's
  * PageRank family (SURVEY §2.9: the reference's only graph computation
  * is the PPR fixpoint; triadic structure is the natural next audit a
  * product-graph owner runs: triangle-dense neighborhoods are bundles /
  * substitute clusters, and the local clustering coefficient is the
  * standard cohesion score per node).
  */
object GraphMetrics {

  /** `triangle_counts`: per-vertex triangle count + local clustering
    * coefficient `2T / (d·(d−1))` on the undirected co-purchase graph
    * (vertices = products, edges = "appeared in the same order at least
    * once" — [[Relational.coocCounts]]' pair relation).
    *
    * Algorithm: degree-ordered edge orientation (the classic
    * MapReduce-era scheme — Suri & Vassilvitskii, WWW'11; Schank's
    * thesis): orient every edge from its (degree, id)-smaller endpoint
    * to the larger, making the graph a DAG in which every triangle's
    * three edges take exactly one shape — source→middle, source→sink,
    * middle→sink — so each triangle is found exactly once at its
    * (source, middle) edge as a sink shared by both out-adjacencies.
    * Orientation bounds per-vertex out-degree by O(√(2m)) REGARDLESS of
    * hot vertices, so the collected out-adjacency arrays are provably
    * small (measured here: max degree 222 → max out-degree 97 at sf0.1).
    *
    * Plan shape: per-edge adjacency INTERSECTION, not wedge
    * materialization — the first cut of this operator expanded each
    * source's out-pairs ([[Dedup.bucketPairs]]) and equi-joined 82M
    * wedge rows (sf0.1; ~67× the edge count, ~800M at sf1) against the
    * edge list to test closure, paying a sort-merge of the wedge stream
    * every run (10.2 s warm at sf0.1). Intersecting the two endpoints'
    * out-adjacencies in-row (`array_intersect`, whole-stage codegen)
    * does the same closure test edge-locally: the joins that remain are
    * two |E|-row attachments of the out-adjacency onto the oriented edge
    * list — LINEAR in edges at every scale, while total intersection
    * work keeps the same Σ min(d⁺(u),d⁺(v)) = O(m^1.5) bound the wedge
    * count had, without ever shuffling it (~5 s warm at sf0.1 under
    * matched load, ~2× the wedge-join form; the gap widens with the
    * wedge ratio at sf1+). The adjacency arrays are deliberately NOT
    * carried through the second join's shuffle attached to edge rows —
    * that would put the Σd⁺² byte volume back on the wire; two skinny
    * equi-joins keep shuffle O(m). Nothing is hinted: edges and
    * adjacency both grow with the catalog, so AQE elects broadcast only
    * when it measures small.
    */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleFrame(spark, dir)

  /** The memoized per-vertex triangle table — the builder behind
    * [[triangleCounts]] and [[graphStats]]: the orientation + intersection
    * chain runs once per (session, dir), then both declared queries (and
    * any future cohesion metric) are reads of the 1-row-per-product
    * cached frame. Same registry pattern as [[Relational.coocCounts]];
    * the bench gates this chain's cost on the first query to touch it
    * (sorted order: `graph_stats`). */
  private def triangleFrame(spark: SparkSession, dir: String): DataFrame =
    BuilderCache.memo(spark, s"triangleCounts:$dir") {
      triangleCountsOf(Relational.coocCounts(spark, dir))
    }

  /** `graph_stats`: one-row global structure summary of the co-purchase
    * graph — vertex/edge/triangle/wedge counts, degree extremes, and
    * global transitivity 3T/W (the ratio of closed to all wedges —
    * Newman's clustering coefficient; compare with the per-vertex local
    * coefficients in [[triangleCounts]]). All inputs are exact longs off
    * the memoized triangle frame (Σdeg = 2E, Σtri = 3T, W = Σ d(d−1)/2
    * via integer DIV — always exact since d(d−1) is even); the two
    * emitted doubles are single correctly-rounded divisions of exact
    * ints, so the row is engine-deterministic (Det discipline). */
  def graphStats(spark: SparkSession, dir: String): DataFrame =
    graphStatsOf(triangleFrame(spark, dir))

  /** [[graphStats]] over any [[triangleCountsOf]]-shaped frame — the
    * fixture-testable form. */
  private[graft] def graphStatsOf(tc: DataFrame): DataFrame =
    tc.agg(
      count(lit(1)).as("n_vertices"),
      sum("degree").as("deg_sum"),
      sum("triangles").as("tri_sum"),
      sum(expr("(degree * (degree - 1)) DIV 2")).as("n_wedges"),
      max("degree").as("max_degree"))
    .select(col("n_vertices"),
      (col("deg_sum") / 2).cast("long").as("n_edges"),
      (col("tri_sum") / 3).cast("long").as("n_triangles"),
      col("n_wedges"), col("max_degree"),
      round(col("deg_sum") / col("n_vertices").cast("double"), 6)
        .as("avg_degree"),
      when(col("n_wedges") > 0,
        round(col("tri_sum") / col("n_wedges").cast("double"), 6))
        .otherwise(0.0).as("transitivity"))
    // empty-corpus contract (EmptyCorpusSpec): a summary of the empty
    // graph is zero rows, not a row of nulls — the global aggregate
    // always emits one row, so drop it when there are no vertices
    .filter(col("n_vertices") > 0)

  /** `degree_dist`: the co-purchase degree histogram (degree →
    * product count) — the first chart a graph owner draws, and the
    * empirical input to the O(√(2m)) orientation-bound argument in
    * [[triangleCounts]]. Two aggregations, the second over at most
    * max-degree rows. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame =
    degreeDistOf(Relational.coocCounts(spark, dir))

  /** [[degreeDist]] over any symmetric directed neighbor relation. */
  private[graft] def degreeDistOf(cc: DataFrame): DataFrame =
    cc.groupBy(col("src").as("v")).agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_products"))
      .orderBy("degree")

  /** `reach_hops`: bounded-depth BFS reachability from seed products —
    * the variable-length-path query of the reference's graph tier (the
    * Cypher `(:Product)-[*1..k]-(:Product)` shape its Neo4j store
    * supports natively, `tp2/app/queries.cypher`; the one traversal
    * family the round-tripped engine had not yet declared): for each of
    * the `nSeeds` smallest product ids in the co-purchase graph, every
    * product reachable within `maxHops` edges, with its MINIMUM hop
    * count. Level-synchronous frontier BFS unrolled `maxHops` times —
    * the Pregel iteration scheme without driver-side convergence state,
    * exact because hop h's frontier is, by induction, precisely the
    * vertices at shortest-distance h once levels 1..h−1 are excluded.
    *
    * Scale posture: each level is one equi-join of the frontier against
    * the edge list (shuffle keyed on the join vertex), one
    * partial-aggregated distinct on (seed, v) — collapsing the
    * path-count fan-out BEFORE it crosses a level boundary, the step
    * that keeps level sizes bounded by nSeeds·|V| instead of the
    * path-explosion nSeeds·d^h — and one anti-join against the visited
    * set (min-hop semantics + monotone frontier shrink in saturating
    * graphs). Nothing is hinted: frontier size is data-dependent (565 →
    * 9 392 → 38 on sf0.01's near-saturating co-purchase graph), so AQE
    * elects broadcast per level from measured sizes. maxHops is a fixed
    * small constant → exactly maxHops [[graft.algo.Fixpoint]] rounds,
    * one materializing action per level (see below) — the visited
    * set lives as a union chain of checkpointed level frames, never
    * driver-collected. */
  def reachHops(spark: SparkSession, dir: String, nSeeds: Int = 5,
      maxHops: Int = 3): DataFrame =
    reachHopsOf(Relational.coocCounts(spark, dir), nSeeds, maxHops)

  /** [[reachHops]] over any symmetric directed (src, dst, …) neighbor
    * relation — the fixture-testable form. */
  private[graft] def reachHopsOf(cc: DataFrame, nSeeds: Int = 5,
      maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1, s"reach_hops needs maxHops >= 1, got $maxHops")
    // The edge list is partitioned by the join vertex ONCE and cached:
    // every level's join on `src` reads that layout, and only the
    // frontier moves (3 × 22 MB edge shuffles at sf0.1 without it). Not a
    // checkpoint: its LogicalRDD advertises no output partitioning, an
    // InMemoryRelation keeps it. The count is pinned because a count-less
    // repartition(col) is AQE-coalescible below what the joins require.
    // memoByPlan keys on cc's plan: one entry per table dir for
    // reachHops(dir); long-lived ad-hoc callers must release theirs.
    val edges = BuilderCache.memoByPlan(
        cc.sparkSession, "reachEdges", cc) {
      cc.select("src", "dst").repartition(
        cc.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
    }
    val seeds = edges.select("src").distinct().orderBy("src").limit(nSeeds)
      .select(col("src").as("seed"))
    // Each level is cut once, its rows counted on the cut's action: it
    // is read by the result union, the next frontier and every later
    // anti-join, and uncut each read re-runs the chain (2.8× at sf0.1).
    // Inside BuilderCache.uncached nothing is cut or counted: no job.
    val levels = Fixpoint.run("reach_hops", Vector.empty[DataFrame],
        maxHops)(_ => false) { (levels, h) =>
      val reached = levels.lastOption.fold(
        seeds.join(edges, col("seed") === col("src"))) { frontier =>
        frontier.select(col("seed"), col("v").as("u"))
          .join(edges, col("u") === col("src"))
      }
      val fresh = reached.filter(col("dst") =!= col("seed"))
        .select(col("seed"), col("dst").as("v")).distinct()
      val unseen = if (levels.isEmpty) fresh else fresh.join(
        levels.map(_.select("seed", "v")).reduce(_ unionByName _),
        Seq("seed", "v"), "left_anti")
      val (next, counts) = BuilderCache.checkpointCounting(
        unseen.withColumn("hops", lit(h.toLong)))
      val rows = counts.fold(-1L)(_._1)
      (levels :+ next, rows.toDouble, rows)
    }
    levels.reduce(_ unionByName _)
      .select(col("seed"), col("v").as("product_id"), col("hops"))
      .orderBy("seed", "hops", "product_id")
  }

  /** `triangle_est`: DOULION edge-sampled triangle ESTIMATE (Tsourakakis,
    * Kang, Miller & Faloutsos, KDD'09) — the 100 TB twin of the exact
    * [[triangleCounts]]/[[graphStats]] chain, whose O(m^1.5)
    * intersection work is inherent to exact enumeration: keep each
    * undirected edge with probability p = 1/pDenom, count triangles
    * exactly on the sparsified graph (the same orientation +
    * intersection operator), scale by pDenom³ (each triangle survives
    * with p³, so the estimate is unbiased with variance that vanishes
    * as T grows — the regime where the exact operator is unaffordable
    * is exactly the regime where the estimate is tight). Sampling is by
    * HASH, not RNG — an edge is kept iff h32("src:dst") ≡ 0 (mod
    * pDenom) — so the result is deterministic, replayable by the DuckDB
    * oracle bit-for-bit, and consistent across executors/retries at any
    * scale; the estimator's expectation argument holds for a hash that
    * spreads uniformly, which GraphMetricsSpec checks empirically
    * against the exact count. One row:
    * (n_edges_total, n_edges_sampled, tri_sampled, est_triangles) —
    * all exact longs (est = tri·pDenom³), the Det discipline.
    * Work: sampling is a filter on the edge list (the m-row scan is the
    * only full-data pass); the intersection chain then runs on ~m/pDenom
    * edges, cutting its superlinear term by ~pDenom^1.5. */
  def triangleEst(spark: SparkSession, dir: String,
      pDenom: Int = 2): DataFrame =
    triangleEstOf(Relational.coocCounts(spark, dir), pDenom)

  /** [[triangleEst]] over any symmetric directed neighbor relation —
    * the fixture-testable form. */
  private[graft] def triangleEstOf(cc: DataFrame, pDenom: Int): DataFrame = {
    require(pDenom >= 1, "pDenom must be >= 1 (1 = no sampling)")
    val und = cc.filter(col("src") < col("dst")).select("src", "dst")
    val s0 = und.filter(
      graft.operators.TextOps.h32(
        concat_ws(":", col("src"), col("dst"))) % pDenom === 0)
    // Materialize the sampled edge list ONCE (round 18, guide §1.2
    // "don't compute things you throw away"): `s` is referenced by both
    // branches of the symmetrization, by the sampled-count aggregate,
    // and (through sym) by every leaf of the intersection chain — and
    // each un-materialized reference re-ran the md5-based h32 sampling
    // hash over the full edge list (the Det replayability cost center:
    // measured at sf0.1 as 3–4 × ~9 task-s passes, the query's entire
    // CPU budget, against a ~4 MB triangle chain downstream). The
    // sampled set is ~m/pDenom rows of two longs — bounded, per-run,
    // partitioned. Lineage cut: see BuilderCache.checkpoint.
    val s = BuilderCache.checkpoint(s0)
    // exact enumeration on the sparsified graph via the SAME oriented-
    // intersection operator as the exact twin (symmetrized back to the
    // (src,dst)+(dst,src) shape it expects)
    val sym = s.unionAll(s.select(col("dst").as("src"), col("src").as("dst")))
    val triSum = triangleCountsOf(sym)
      .agg(coalesce(sum("triangles"), lit(0L)).as("tri3"))
    val nAll = und.agg(count(lit(1)).as("n_edges_total"))
    val nS = s.agg(count(lit(1)).as("n_edges_sampled"))
    // three 1-row totals — the audited broadcast crosses
    nAll.crossJoin(broadcast(nS)).crossJoin(broadcast(triSum))
      .select(col("n_edges_total"), col("n_edges_sampled"),
        (col("tri3") / 3).cast("long").as("tri_sampled"),
        ((col("tri3") / 3).cast("long") *
          lit(pDenom.toLong * pDenom * pDenom)).as("est_triangles"))
      // empty-corpus contract: a summary of the empty graph is zero
      // rows (same rule as graphStats)
      .filter(col("n_edges_total") > 0)
  }

  /** [[triangleCounts]] over any symmetric directed (src, dst, …)
    * neighbor relation (one row per orientation of each undirected
    * edge, no self-loops) — the fixture-testable form. */
  private[graft] def triangleCountsOf(cc: DataFrame): DataFrame = {
    // degree = out-degree in the symmetric directed relation (one row
    // per (vertex, neighbor))
    val deg = cc.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    // undirected edge list, canonically id-sorted (src < dst)
    val und = cc.filter(col("src") < col("dst")).select("src", "dst")
    val srcFirst = col("d_src") < col("d_dst") ||
      (col("d_src") === col("d_dst") && col("src") < col("dst"))
    val oriented = und
      .join(deg.select(col("v").as("src"), col("d").as("d_src")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("d").as("d_dst")), Seq("dst"))
      .select(when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("v"))
    // out-adjacency per vertex — bounded by O(√(2m)) via the orientation
    val adj = oriented.groupBy("u").agg(collect_list(col("v")).as("ds"))
    // per-edge closure: w ∈ N⁺(u) ∩ N⁺(v) ⇔ triangle {u→v, u→w, v→w},
    // each triangle surfacing exactly once at its (source, middle) edge.
    // Inner joins are sound: an endpoint absent from adj has no
    // out-neighbors, so its edges close no triangle this way anyway.
    val tri = oriented
      .join(adj.select(col("u").as("ju"), col("ds").as("du")),
        col("u") === col("ju"))
      .join(adj.select(col("u").as("jv"), col("ds").as("dv")),
        col("v") === col("jv"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("du"), col("dv"))).as("w"))
    val perVertex = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(perVertex, Seq("v"), "left_outer")
      .select(col("v").as("product_id"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(col("d") >= 2,
          round((lit(2.0) * coalesce(col("t"), lit(0L))) /
            (col("d") * (col("d") - lit(1.0))), 6))
          .otherwise(0.0).as("clust_coeff"))
      .orderBy("product_id")
  }
}

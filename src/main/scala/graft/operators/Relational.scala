package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{BuilderCache, Tables}

/** Deterministic-arithmetic helpers shared by the oracle-checked queries.
  *
  * The correctness gate hash-compares Spark output against DuckDB running
  * ANSI SQL over the same parquet — so every float that reaches the output
  * must be bit-reproducible across engines. Two tools:
  *   - cents-exact sums: monetary doubles in the testdata carry 2 decimal
  *     places, so `sum(round(x*100)::long)/100.0` is exact integer
  *     arithmetic followed by one exactly-rounded division — identical in
  *     any summation order and in any engine;
  *   - ratios of exact integers (`a/b` with long a,b) are single correctly
  *     rounded double ops, also engine-identical.
  * Plain `sum(double)` is only used where the addends are dyadic rationals
  * (0.5/1.0/2.0 event weights) and therefore exact.
  */
object Det {
  /** Exact sum of a 2-decimal-place double column, as a double again. */
  def sumCents(c: Column): Column = sum(round(c * 100).cast("long")) / 100.0
}

/** Reference-parity relational operators (SURVEY.md §2.1-§2.7), re-expressed
  * as declarative Spark plans. Citations point into `/root/reference/`.
  */
object Relational {
  import Det._

  /** S2+P1+P6 `scan_project`: full-table extract with enum-validation
    * filter and projection (ref: `tp2/app/etl.py:201-206` extract,
    * `tp2/postgres/init/01_schema.sql:37` CHECK constraint).
    * The `isin` filter and 4-column projection both reach the parquet scan
    * (PushedFilters + ReadSchema) — at 100 TB this reads a fraction of the
    * table, unlike the reference's SELECT *.
    */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  /** Unordered directed co-occurrence counts (src, dst, cnt) — shared
    * builder for cooc_topk / cooc_pairs / adjacency_norm / rec_blend /
    * the PageRank adjacency. Registered in [[BuilderCache]]: within one
    * session (Verify/Bench run all queries in one) the self-join
    * materializes once and every cooc-derived query reads the cached
    * counts (|parts|·avg-degree rows — MBs, not the lineitem scan). */
  def coocCounts(spark: SparkSession, dir: String): DataFrame =
    BuilderCache.memo(spark, s"coocCounts:$dir") {
      // one-shuffle shape (same trick as the jaccard basket pairing):
      // per-order product sets collected in-row, expanded to unordered
      // pairs by [[Dedup.bucketPairs]] — order size is physically
      // bounded (a cart has tens of items, never millions), so the
      // in-row fan-out is safe without a guard, unlike per-customer or
      // per-bucket groups. The directed relation is the unordered
      // counts emitted in both orientations by an in-row explode:
      // cnt(a→b) = cnt{a,b} = cnt(b→a), no second aggregation pass.
      val perOrder = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ds"))
        .filter(size(col("ds")) >= 2)
      val und = perOrder
        .select(graft.operators.Dedup.bucketPairs((x, y) =>
          s"struct($x AS src, $y AS dst)").as("pr"))
        .groupBy(col("pr.src").as("src"), col("pr.dst").as("dst"))
        .agg(count(lit(1)).as("cnt"))
      und.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"),
        col("cnt"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("cnt"))
    }

  /** Per-customer sorted distinct product baskets (customer_id, ds) — the
    * cached form of the customer↔product incidence, partitioned by
    * customer_id. One groupBy(customer) shuffle replaces the old
    * distinct-on-both-columns shuffle, and every downstream consumer that
    * groups or joins on customer_id ([[bipartite]]-derived joins,
    * [[Recommend.jaccardPairsFrom]]'s basket pairing) inherits the
    * customer partitioning from the cache — no re-shuffle. Basket arrays
    * are bounded by catalog size per customer (sf0.1 max 105). */
  def baskets(spark: SparkSession, dir: String): DataFrame =
    BuilderCache.memo(spark, s"baskets:$dir") {
      Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
        .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("customer_id"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ds"))
    }

  /** Unordered distinct customer↔product incidence — shared input of the
    * whole similarity tier (`tp1/knoledge_graphs/graph.py:25-26`).
    * A narrow explode over the cached [[baskets]] (distinct by
    * construction: collect_set), so it needs no cache of its own and
    * stays hash-partitioned by customer_id. */
  def bipartite(spark: SparkSession, dir: String): DataFrame =
    baskets(spark, dir)
      .select(col("customer_id"), explode(col("ds")).as("product_id"))

  /** J1+A1+T1 `cooc_topk`: "frequently bought together" — directed
    * co-occurrence counts summed per destination product, global top-k
    * (ref: `tp2/app/main.py:98-105`).
    *
    * Derived from the shared [[coocCounts]] builder rather than re-running
    * the per-order self-join: `co_count(dst) = Σ_src cnt(src→dst)` — the
    * directed pair relation already holds every (order-mate, product)
    * incidence once, so the groupBy over the cached counts (|parts|·avg-
    * degree rows, MBs) replaces a second lineitem scan + pair expansion.
    * In a shared session (Verify/Bench) the builder is materialized once
    * for the whole cooc tier; solo, the builder IS the old plan, so cost
    * is never worse.
    *
    * Scale: the groupBy shuffles only the bounded pair-count relation;
    * the final top-k plans as `TakeOrderedAndProject` (per-partition heap
    * + driver merge, no global sort). `part` is dimension-sized →
    * broadcast join.
    */
  def coocTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val counts = coocCounts(spark, dir)
      .groupBy(col("dst").as("product_id"))
      .agg(sum(col("cnt")).as("co_count"))
    counts
      .join(broadcast(Tables.part(spark, dir)),
        col("product_id") === col("p_partkey"))
      .select(col("product_id"), col("p_name").as("name"),
        col("p_retailprice").as("price"), col("co_count"))
      .orderBy(desc("co_count"), asc("product_id"))
      .limit(k)
  }

  /** J2+A4 `cooc_pairs`: full directed co-occurrence count matrix — the
    * `product_cooccurrence` derived structure (ref:
    * `tp1/knoledge_graphs/graph.py:55-62`). Symmetric by construction.
    * Scale note: output is bounded by Σ per-order |items|², not |lineitem|²;
    * hot orders would be the skew axis — AQE skew-join handles it.
    */
  def coocPairs(spark: SparkSession, dir: String): DataFrame =
    coocCounts(spark, dir).orderBy("src", "dst")

  /** A2 `popularity_topk`: product popularity = distinct purchasing
    * customers (ref: `tp2/app/main.py:134-140`). Derived from the shared
    * [[bipartite]] incidence — distinct by construction (collect_set in
    * the [[baskets]] builder), so a plain count per product IS the
    * distinct-customer count: no countDistinct machinery, no second
    * lineitem+orders join in a shared session, and the explode inherits
    * the builder's customer partitioning. Solo, the builder is the same
    * join the old plan ran — cost is never worse.
    */
  def popularityTopk(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    bipartite(spark, dir)
      .groupBy(col("product_id"))
      .agg(count(lit(1)).as("popularity"))
      .orderBy(desc("popularity"), asc("product_id"))
      .limit(k)

  /** A2 approximate variant: HLL-sketch popularity for the 100 TB path
    * (single pass, mergeable partial aggregates, no exact-distinct
    * shuffle of RAW customer ids — at full scale the sketch aggregates
    * the event stream directly, skipping the distinct materialization
    * entirely). Reads the same cached incidence here; over an
    * already-distinct input the sketch measures the same multiset.
    * rsd 0.02 sizes each per-product register array at ~4 KB — the
    * sketch-width × group-cardinality product is the real cost knob of
    * HLL aggregation (rsd 0.01 quadruples it for one extra point of
    * precision). Not oracle-checked (sketch impls differ across
    * engines); RelationalSpec bounds it against the exact variant. */
  def popularityApprox(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    bipartite(spark, dir)
      // Repartition the RAW incidence by product BEFORE the sketch
      // aggregation (round 18, guide §2.3 — shuffle fewer bytes): the
      // default partial-aggregate plan materializes one ~4 KB register
      // array per (map partition, product) and ships the SKETCHES —
      // sketch_width × |products| × maps bytes (13.3 MB at sf0.1,
      // measured as the query's dominant shuffle) — while the raw rows
      // are two longs each (~1 MB). Map-side partial aggregation is the
      // right default for narrow states (guide §2.3 "aggregate before
      // you shuffle"); HLL inverts it whenever
      // sketch_bytes × groups × maps > row_bytes × rows, which holds at
      // every scale where the catalog grows with the data. After the
      // exchange the partial+final aggregates fuse into one stage (the
      // hash partitioning satisfies the grouping), registers are
      // allocated once per product, and HLL is order-insensitive —
      // identical output. Partition count is conf-driven (the
      // reachEdges discipline), never a local constant.
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("product_id"))
      .groupBy(col("product_id"))
      .agg(approx_count_distinct(col("customer_id"), 0.02).as("popularity"))
      .orderBy(desc("popularity"), asc("product_id"))
      .limit(k)

  /** A3 `orderfreq_topk`: the reference's "pagerank" strategy is really
    * order frequency (ref: `tp2/app/main.py:175-187`, docstring admits it).
    */
  def orderfreqTopk(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("product_id"))
      .agg(countDistinct(col("l_orderkey")).as("order_count"))
      .orderBy(desc("order_count"), asc("product_id"))
      .limit(k)

  /** A5+P4 `event_weights`: interaction weight per user — CASE-mapped event
    * weights summed per key, zero/negative dropped (ref:
    * `tp1/knoledge_graphs/graph.py:12-16,64-68`; unknown type → 0.0 per
    * `graph.py:67`). Weights are dyadic (0.5/1.0/2.0) so the double sum is
    * exact in any order — deliberately chosen for oracle determinism.
    * Map-side partial aggregation makes this one narrow shuffle of
    * (user, partialSum) pairs at any scale.
    */
  def eventWeights(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("w",
        when(col("event_type") === "view", 0.5)
          .when(col("event_type") === "click", 1.0)
          .when(col("event_type") === "purchase", 2.0)
          .otherwise(0.0))
      .groupBy(col("user_id"))
      .agg(sum(col("w")).as("weight"))
      .filter(col("weight") > 0)
      .orderBy("user_id")

  /** J4+S5 `edges_build`: FK-resolution joins → typed property-graph edge
    * list (PLACED / CONTAINS / IN_CATEGORY), MATCH semantics = inner join,
    * dangling FKs drop (ref: `tp2/app/etl.py:240-242,269-303`).
    * CONTAINS quantity: the reference's MERGE+SET is last-row-wins
    * (nondeterministic on replay, `tp2/README.md:479-484`); we define it as
    * the exact cents-sum of quantities — deterministic and replay-safe.
    * Scale: three independent shuffle-free-or-single-shuffle branches,
    * union'd; write path would `partitionBy("rel_type")`.
    */
  def edgesBuild(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val part = Tables.part(spark, dir)
    val placed = orders
      .join(customer.select("c_custkey"), col("o_custkey") === col("c_custkey"))
      .select(lit("PLACED").as("rel_type"),
        concat(lit("C"), col("o_custkey")).as("src"),
        concat(lit("O"), col("o_orderkey")).as("dst"),
        lit(1.0).as("weight"))
    val contains = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(sumCents(col("l_quantity")).as("weight"))
      .select(lit("CONTAINS").as("rel_type"),
        concat(lit("O"), col("l_orderkey")).as("src"),
        concat(lit("P"), col("l_partkey")).as("dst"),
        col("weight"))
    val inCategory = part
      .select(lit("IN_CATEGORY").as("rel_type"),
        concat(lit("P"), col("p_partkey")).as("src"),
        col("p_brand").as("dst"),
        lit(1.0).as("weight"))
    placed.unionAll(contains).unionAll(inCategory)
      .orderBy("rel_type", "src", "dst")
  }

  /** S6 `event_edges`: dynamic relationship type chosen from the data value,
    * unknown types defaulting to VIEWED (ref: `tp2/app/etl.py:305-329`,
    * map at `:307-311`, default at `:314`). ts truncated to whole seconds
    * for engine-portable comparison (source parquet is ns-precision).
    */
  def eventEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        concat(lit("C"), col("user_id")).as("src"),
        when(col("event_type") === "view", "VIEWED")
          .when(col("event_type") === "click", "CLICKED")
          .when(col("event_type") === "purchase", "PURCHASED")
          .otherwise("VIEWED").as("rel_type"),
        date_trunc("second", col("ts")).as("ts"),
        col("value"))
      .orderBy("event_id")

  /** J6+U1 `bipartite_edges`: distinct customer↔product incidence — the
    * `product_customers`/`customer_products` maps (ref:
    * `tp1/knoledge_graphs/graph.py:25-26,55-66`). One join on the order key
    * + one distinct shuffle; this is the shared input of the whole
    * similarity tier, so callers cache it.
    */
  def bipartiteEdges(spark: SparkSession, dir: String): DataFrame =
    bipartite(spark, dir).orderBy("customer_id", "product_id")

  /** A6 `adjacency_norm`: co-occurrence adjacency row-normalized so each
    * source's out-weights sum to 1 — the PageRank transition matrix (ref:
    * `tp1/knoledge_graphs/graph.py:70-77`; zero-out-degree products are
    * absent here = PageRank sinks). Window-sum over the groupBy output
    * reuses the same partitioning (no extra shuffle). Ratio of exact longs
    * → engine-identical doubles; round(6) per the reference's API precision
    * (`tp1/knoledge_graphs/api.py:47`).
    */
  def adjacencyNorm(spark: SparkSession, dir: String): DataFrame =
    transitionWeights(coocCounts(spark, dir))
      .select(col("src"), col("dst"), round(col("weight"), 6).as("weight"))
      .orderBy("src", "dst")

  /** The transition weights of any (src, dst, cnt) counts, unrounded:
    * cnt / Σcnt per src. The PageRank edges of
    * [[graft.algo.PageRank.productEdges]] and [[graft.rec.Engine]], and
    * [[adjacencyNorm]] before its rounding. */
  private[graft] def transitionWeights(cnt: DataFrame): DataFrame =
    cnt.select(col("src"), col("dst"),
      (col("cnt") / sum(col("cnt")).over(Window.partitionBy("src")))
        .as("weight"))
}

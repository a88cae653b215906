package graft

import graft.model.BuilderCache

/** Registry semantics: idempotence, plan-keyed isolation, and scoped
  * release (the serving-session eviction path). */
class BuilderCacheSpec extends SparkSpec {

  test("memo returns the same instance and caches exactly once") {
    var builds = 0
    def build() = { builds += 1; spark.range(10).toDF() }
    val a = BuilderCache.memo(spark, "bcspec:memo")(build())
    val b = BuilderCache.memo(spark, "bcspec:memo")(build())
    assert(a eq b)
    assert(builds == 1)
    assert(a.storageLevel.useMemory, "memo entry must be cached")
    assert(BuilderCache.list(spark).contains("bcspec:memo"))
  }

  test("memoByPlan keys different input plans separately") {
    val in1 = spark.range(5).toDF()
    val in2 = spark.range(50).toDF()
    val a = BuilderCache.memoByPlan(spark, "bcspec:byplan", in1)(in1)
    val b = BuilderCache.memoByPlan(spark, "bcspec:byplan", in2)(in2)
    assert(!(a eq b))
    assert(a.count() == 5 && b.count() == 50)
    // same plan → same entry
    val a2 = BuilderCache.memoByPlan(spark, "bcspec:byplan",
      spark.range(5).toDF())(spark.range(5).toDF())
    assert(a eq a2)
  }

  test("memoByPlan hits across EQUIVALENT complex plans (no key forking)") {
    // regression: the collision check once compared the STORED canonical
    // plan via sameResult, which canonicalizes its receiver AGAIN —
    // double canonicalization is not idempotent, so every equivalent
    // lookup after the first forked a disambiguated key and re-ran the
    // build (one fresh cached fixpoint per serving request). The check
    // must compare canonical forms with plain equality. range() plans
    // don't trigger it; a join+aggregate+explode over parquet does.
    import org.apache.spark.sql.functions._
    def incidence() = graft.model.Tables
      .lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey")
      .join(graft.model.Tables.orders(spark, "/root/testdata/sf0.001")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cid"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ds"))
      .select(col("cid"), explode(col("ds")).as("pid"))
    var builds = 0
    def build() = { builds += 1; spark.range(7).toDF() }
    val a = BuilderCache.memoByPlan(spark, "bcspec:canon", incidence())(build())
    val b = BuilderCache.memoByPlan(spark, "bcspec:canon", incidence())(build())
    val c = BuilderCache.memoByPlan(spark, "bcspec:canon", incidence())(build())
    assert((a eq b) && (b eq c), "equivalent plans must share one entry")
    assert(builds == 1, s"build ran $builds times for one semantic plan")
  }

  test("checkpoint cuts lineage to a LogicalRDD leaf with the same rows") {
    val df = spark.range(20).toDF("id").filter("id % 3 = 0")
    val cut = BuilderCache.checkpoint(df)
    assert(cut.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(cut.collect().map(_.getLong(0)).sorted.toSeq ==
      df.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("checkpoint inside uncached returns the input plan unchanged") {
    val df = spark.range(20).toDF("id").filter("id % 3 = 0")
    val kept = BuilderCache.uncached(BuilderCache.checkpoint(df))
    assert(kept eq df)
    assert(kept.queryExecution.logical == df.queryExecution.logical)
  }

  test("Engine.boundPprCache evicts the rank prefix past the cap") {
    // other suites in the shared session may have left rank entries
    BuilderCache.release(spark, "engine.pprRanks")
    (1 to 3).foreach { i =>
      BuilderCache.memoByPlan(spark, "engine.pprRanks",
        spark.range(i * 11).toDF())(spark.range(i).toDF())
    }
    def live() = BuilderCache.list(spark)
      .count(_.startsWith("engine.pprRanks"))
    assert(live() == 3)
    graft.rec.Engine.boundPprCache(spark, max = 5) // under cap: no-op
    assert(live() == 3)
    graft.rec.Engine.boundPprCache(spark, max = 3) // at cap: epoch evict
    assert(live() == 0)
  }

  test("release(prefix) evicts only matching entries and re-caching works") {
    val kept = BuilderCache.memo(spark, "bcspec:keep")(spark.range(3).toDF())
    var builds = 0
    def build() = { builds += 1; spark.range(7).toDF() }
    val gone = BuilderCache.memo(spark, "bcspec:drop:x")(build())
    assert(gone.storageLevel.useMemory)
    BuilderCache.release(spark, "bcspec:drop")
    assert(BuilderCache.list(spark).contains("bcspec:keep"))
    assert(!BuilderCache.list(spark).exists(_.startsWith("bcspec:drop")))
    assert(kept.storageLevel.useMemory, "unrelated entry must stay cached")
    // rebuild under the same key: builder runs again AND re-caches
    val again = BuilderCache.memo(spark, "bcspec:drop:x")(build())
    assert(builds == 2)
    assert(again.storageLevel.useMemory,
      "re-registered entry must be cache-marked again")
  }
}

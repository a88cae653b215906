package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's hand-checkable toy dataset (FIXTURES.md §A;
  * `tp2/postgres/init/02_seed.sql`), re-keyed onto the testdata schema so
  * the graft operators can run on it: C1..C3 → custkey 1..3, P1..P4 →
  * partkey 1..4, O1..O3 → orderkey 1..3, CAT1/CAT2 → brands. Written once
  * to a temp dir as parquet, mirroring the driver testdata layout.
  */
object Fixtures {
  def write(spark: SparkSession): String = synchronized {
    if (dir != null) return dir
    import spark.implicits._
    val d = Files.createTempDirectory("graft-toy").toString

    val customer: DataFrame = Seq(
      (1L, "Alice"), (2L, "Bob"), (3L, "Chloé")
    ).toDF("c_custkey", "c_name")

    val part: DataFrame = Seq(
      (1L, "Wireless Mouse", "CAT1", 29.99),
      (2L, "USB-C Hub", "CAT1", 49.00),
      (3L, "Graph Databases Book", "CAT2", 39.00),
      (4L, "Mechanical Keyboard", "CAT1", 89.00)
    ).toDF("p_partkey", "p_name", "p_brand", "p_retailprice")

    val orders: DataFrame = Seq(
      (1L, 1L), (2L, 2L), (3L, 1L)
    ).toDF("o_orderkey", "o_custkey")

    // order_items (O1,P1,1) (O1,P2,1) (O2,P3,1) (O3,P4,1) (O3,P2,1)
    val lineitem: DataFrame = Seq(
      (1L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (3L, 2L, 1.0)
    ).toDF("l_orderkey", "l_partkey", "l_quantity")

    // E1 C1 view | E2 C1 click | E3 C3 view | E4 C2 view | E5 C2 add_to_cart
    // ts as long nanos (testdata events.ts is ns — Tables.events expects it)
    val events: DataFrame = Seq(
      (1L, 1L, "view", 1.0, 1000000000000L),
      (2L, 1L, "click", 1.0, 2000000000000L),
      (3L, 3L, "view", 1.0, 3000000000000L),
      (4L, 2L, "view", 1.0, 4000000000000L),
      (5L, 2L, "add_to_cart", 1.0, 5000000000000L)
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
      .select("event_id", "ts", "user_id", "event_type", "value")

    // not in the reference toy set: a five-document corpus (one exact
    // duplicate) so the corpus-tier queries have a table to read
    val documents: DataFrame = Seq(
      (1L, "the quick brown fox", "en", "src0"),
      (2L, "the quick brown fox", "en", "src1"),
      (3L, "spark joins scale out", "en", "src1"),
      (4L, "graph databases store edges", "de", "src2"),
      (5L, "a small corpus of short documents", "es", "src3")
    ).toDF("doc_id", "text", "lang", "source")
      .selectExpr("*", "cast(length(text) as bigint) as n_chars")

    Seq("customer" -> customer, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents).foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/$n.parquet")
    }
    dir = d
    d
  }
  @volatile private var dir: String = _

  /** The reference toy graph EXACTLY as tp1 `build_graph` derives it
    * (incidence from orders AND events, graph.py:55-66; cooc from orders
    * only; FIXTURES.md §A.2). C1..C3 → 1..3, P1..P4 → 1..4. Shared by
    * EngineSpec (engine-level goldens) and ServeSpec (the same goldens
    * through the HTTP layer). */
  def toyGraph(spark: SparkSession): graft.rec.Engine.ProductGraph = {
    import spark.implicits._
    graft.rec.Engine.ProductGraph(
      customers = Seq(1L, 2L, 3L).toDF("customer_id"),
      products = Seq(1L, 2L, 3L, 4L).toDF("id"),
      incidence = Seq(
        (1L, 1L), (1L, 2L), (1L, 4L), (1L, 3L), // C1 orders + event P3
        (2L, 3L), (2L, 2L), (2L, 4L),           // C2 order + events P2,P4
        (3L, 1L)                                // C3 event-only P1
      ).toDF("customer_id", "product_id"),
      cooc = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 4L, 1L), (4L, 2L, 1L))
        .toDF("src", "dst", "cnt"))
  }
}

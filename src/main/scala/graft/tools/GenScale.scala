package graft.tools

import org.apache.spark.sql.functions._

import graft.model.Tables

/** One-off LOCAL scale-up generator for scaling measurements beyond the
  * driver's sf0.1 (round-5 verdict item 6; full-surface since round 9):
  * writes the COMPLETE nine-table star schema at `factor`× the sf0.1
  * row counts with full column sets, so every declared query — and the
  * DuckDB oracle selfcheck — runs against the generated dir. The
  * distributional shape follows the real generator (TESTDATA.md /
  * FIXTURES.md): documents draw 10–100 tokens uniformly from the REAL
  * sf0.1 token vocabulary (read at run time, not hardcoded), languages
  * and sources keep their cardinalities (5 / 20), orders and lineitem
  * keep the per-customer (10 orders) and per-order (4 items) densities,
  * embeddings keep dim 64 / 10 labels. region/nation are copied
  * verbatim (TPC-H dimension tables do not scale with sf).
  *
  * Fully deterministic WITHOUT partitioning sensitivity: every column is
  * a pure hash of the row id (`xxhash64(id, salt)`), never `rand()` —
  * re-running at any parallelism yields byte-identical values. Money
  * columns are cents (two-decimal doubles), matching the real tables'
  * value discipline.
  *
  * Usage: runMain graft.tools.GenScale <outDir> [factor=10] [srcDir]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val src = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session()
    import spark.implicits._

    val nDocs = 5000L * factor
    val nCust = 15000L * factor
    val nOrders = 150000L * factor
    val nLine = 600000L * factor
    val nPart = 20000L * factor

    // Round 12 (verdict item 4): the flat uniform-31-token vocabulary
    // made text discriminativity die at 100× — every 3-shingle was a
    // stop-shingle and ngram_jaccard/winnow_pairs honestly returned 0
    // rows at sf10. Tokens now draw from a Zipf(s=1) rank-frequency
    // law over a 50k vocabulary: the real sf0.1 tokens occupy the head
    // ranks (gate stopwords 'the'/'a' at ranks 1-2 so the pack
    // pipeline's stopword gate keeps its pass rate) and synthetic
    // 'w<rank>' tokens fill the tail, so rare shingles exist at every
    // scale. Sampling is inverse-CDF on the continuous Zipf
    // approximation P(rank<=r) = ln(1+r)/ln(1+V) — rank =
    // floor(exp(u·ln(V+1))) — over a hash-uniform u, so generation
    // stays RNG-free and byte-identical at any parallelism.
    //
    // Near-dup structure is PLANTED (the uniform vocab used to supply
    // it by collision): within each 10-id block, a non-head id clones
    // the block head's token stream exactly (hash bucket 0: ~10 % of
    // non-heads) or with one token replaced by a doc-unique 'n<id>'
    // (bucket 1: ~10 %), so exact-dedup, minhash-LSH, and the closure
    // tiers see clusters whose count scales linearly with nDocs.
    // Row counts, the 10-100 length law, and lang/source cardinalities
    // keep the sf0.1 shape.
    val gateStops = Seq("the", "a", "of", "and", "in")
    val realVocab = Tables.documents(spark, src)
      .select(explode(split(col("text"), " ")).as("t"))
      .distinct().as[String].collect().sorted
    val vocab = realVocab.filter(gateStops.contains) ++
      realVocab.filterNot(gateStops.contains)
    val vlit = vocab.map(t => s"'$t'").mkString("array(", ", ", ")")
    val zipfV = 50000
    spark.range(nDocs)
      .selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 10 <> 0 AND pmod(xxhash64(id, 8), 10) <= 1" +
          " THEN (id DIV 10) * 10 ELSE id END AS sd",
        "(id % 10 <> 0 AND pmod(xxhash64(id, 8), 10) = 1) AS near_dup")
      .selectExpr(
        "doc_id",
        s"""concat_ws(' ',
           |  transform(
           |    transform(sequence(1, 10 + cast(pmod(xxhash64(sd, 1), 91) AS INT)),
           |      j -> CASE WHEN near_dup AND j = 1 THEN -doc_id
           |           ELSE least(CAST($zipfV AS BIGINT), cast(floor(exp(
           |             ((pmod(xxhash64(sd, j + 1), 1000000) + 0.5) / 1000000.0)
           |             * ln(${zipfV + 1}.0))) AS BIGINT)) END),
           |    r -> CASE WHEN r <= 0 THEN concat('n', -r)
           |              WHEN r <= ${vocab.length}
           |                THEN element_at($vlit, cast(r AS INT))
           |              ELSE concat('w', r) END)) AS text""".stripMargin,
        "element_at(array('en','fr','de','es','zh')," +
          " cast(pmod(xxhash64(doc_id, 2), 5) + 1 AS INT)) AS lang",
        "concat('src', pmod(xxhash64(doc_id, 3), 20)) AS source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val nSupp = 1000L * factor
    val nVec = 2000L * factor

    // dimension tables that do not scale with sf: copy verbatim
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    spark.range(nCust).selectExpr(
        "id AS c_custkey",
        "concat('Customer#', id) AS c_name",
        "CAST(pmod(xxhash64(id, 40), 25) AS INT) AS c_nationkey",
        "CAST(pmod(xxhash64(id, 41), 1000000) AS DOUBLE) / 100 AS c_acctbal",
        "element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD'," +
          "'MACHINERY'), CAST(pmod(xxhash64(id, 42), 5) + 1 AS INT))" +
          " AS c_mktsegment")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    spark.range(nSupp).selectExpr(
        "id AS s_suppkey",
        "concat('Supplier#', id) AS s_name",
        "CAST(pmod(xxhash64(id, 45), 25) AS INT) AS s_nationkey",
        "CAST(pmod(xxhash64(id, 46), 1000000) AS DOUBLE) / 100 AS s_acctbal")
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    spark.range(nPart).selectExpr(
        "id AS p_partkey",
        "concat('part ', pmod(xxhash64(id, 50), 10000)) AS p_name",
        "concat('Brand#', pmod(xxhash64(id, 51), 25)) AS p_brand",
        "element_at(array('ANODIZED','BRUSHED','BURNISHED','PLATED'," +
          "'POLISHED','STEEL'), CAST(pmod(xxhash64(id, 52), 6) + 1 AS INT))" +
          " AS p_type",
        "CAST(pmod(xxhash64(id, 53), 50) + 1 AS INT) AS p_size",
        "CAST(pmod(xxhash64(id, 54), 200000) AS DOUBLE) / 100" +
          " AS p_retailprice")
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    spark.range(nOrders).selectExpr(
        "id AS o_orderkey",
        s"pmod(xxhash64(id, 10), $nCust) AS o_custkey",
        "element_at(array('O','F','P')," +
          " CAST(pmod(xxhash64(id, 11), 3) + 1 AS INT)) AS o_orderstatus",
        "CAST(pmod(xxhash64(id, 12), 50000000) AS DOUBLE) / 100" +
          " AS o_totalprice",
        "CAST(date_add(to_date('1995-01-01')," +
          " CAST(pmod(xxhash64(id, 13), 1200) AS INT)) AS TIMESTAMP)" +
          " AS o_orderdate",
        "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED'," +
          "'5-LOW'), CAST(pmod(xxhash64(id, 14), 5) + 1 AS INT))" +
          " AS o_orderpriority")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    spark.range(nLine).selectExpr(
        s"pmod(xxhash64(id, 20), $nOrders) AS l_orderkey",
        s"pmod(xxhash64(id, 21), $nPart) AS l_partkey",
        s"pmod(xxhash64(id, 22), $nSupp) AS l_suppkey",
        "CAST(pmod(xxhash64(id, 23), 7) + 1 AS INT) AS l_linenumber",
        "CAST(pmod(xxhash64(id, 24), 50) + 1 AS DOUBLE) AS l_quantity",
        "CAST(pmod(xxhash64(id, 25), 10000000) AS DOUBLE) / 100" +
          " AS l_extendedprice",
        "CAST(pmod(xxhash64(id, 26), 11) AS DOUBLE) / 100 AS l_discount",
        "CAST(pmod(xxhash64(id, 27), 9) AS DOUBLE) / 100 AS l_tax",
        "element_at(array('R','A','N')," +
          " CAST(pmod(xxhash64(id, 28), 3) + 1 AS INT)) AS l_returnflag",
        "element_at(array('O','F')," +
          " CAST(pmod(xxhash64(id, 29), 2) + 1 AS INT)) AS l_linestatus",
        "CAST(date_add(to_date('1995-01-01')," +
          " CAST(pmod(xxhash64(id, 35), 1300) AS INT)) AS TIMESTAMP)" +
          " AS l_shipdate")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // embeddings: dim 64, values uniform in [-1, 1] on a 1/1000 grid
    // (exactly representable scale), labels 0-9 — the real table's shape
    spark.range(nVec).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 63), j -> CAST(" +
          "(pmod(xxhash64(id, 100 + j), 2001) - 1000) / 1000.0 AS FLOAT))" +
          " AS embedding",
        "CAST(pmod(xxhash64(id, 60), 10) AS INT) AS label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events at factor× (round-6 scaling targets event_asof /
    // event_window_join): same shape as the driver's table — 150
    // users × 30 days at sf0.1, both scaled by √factor so per-user
    // event density (the as-of window's per-key sort size and the
    // range join's per-(user, hour) bucket occupancy) grows with the
    // data instead of keeping the keys constant-fat. ts is a plain
    // int64 of NANOS — the same VALUES Tables.events reads from the
    // real table under nanosAsLong, but WITHOUT the TIMESTAMP(NANOS)
    // logical annotation Spark cannot write (so this dir feeds
    // Profile/Bench only; the DuckDB oracles CAST(ts AS TIMESTAMP)
    // and would reject the bare BIGINT — oracle-gate at the real sf
    // dirs, bench here)
    val nEvents = 100000L * factor
    val nUsers = math.max(1L, math.round(150 * math.sqrt(factor.toDouble)))
    val spanNs = math.round(30 * math.sqrt(factor.toDouble)) * 86400L * 1000000000L
    spark.range(nEvents).selectExpr(
        "id AS event_id",
        s"1704067200000000000 + pmod(xxhash64(id, 30), $spanNs) AS ts",
        s"pmod(xxhash64(id, 31), $nUsers) AS user_id",
        "element_at(array('view','view','view','click','click','purchase')," +
          " cast(pmod(xxhash64(id, 32), 6) + 1 AS INT)) AS event_type",
        "cast(pmod(xxhash64(id, 33), 10000) AS DOUBLE) / 100 AS value",
        "concat('{\"k\": ', pmod(xxhash64(id, 34), 100), '}') AS props")
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"GENSCALE wrote $out: documents=$nDocs customers=$nCust " +
      s"orders=$nOrders lineitem=$nLine parts=$nPart suppliers=$nSupp " +
      s"embeddings=$nVec events=$nEvents/users=$nUsers (factor $factor " +
      s"over $src shape)")
    spark.stop()
  }
}

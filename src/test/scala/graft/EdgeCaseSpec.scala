package graft

import org.apache.spark.sql.functions._

import graft.operators.{Recommend, Relational}

/** Boundary-input behavior locked in (SURVEY §7.5.4 lists the edge cases
  * the reference defines; these cover the declared-query layer). */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("collab for a customer with no interactions returns empty, not error") {
    val got = Recommend.collabTopkFor(spark, dir, customerId = -1L)
    assert(got.count() == 0)
  }

  test("event_weights drops users whose events all weigh zero") {
    // signup/error-only users must be filtered by the weight>0 gate
    val weights = Relational.eventWeights(spark, dir)
    assert(weights.filter(col("weight") <= 0).count() == 0)
  }

  test("cooc self-join never emits self-pairs") {
    val bad = Relational.coocPairs(spark, dir)
      .filter(col("src") === col("dst")).count()
    assert(bad == 0)
  }

  test("adjacency rows are valid transition probabilities") {
    val adj = Relational.adjacencyNorm(spark, dir)
    assert(adj.filter(col("weight") <= 0 || col("weight") > 1).count() == 0)
  }

  test("minhash estimate is always within [0,1]; jaccard likewise") {
    val mh = graft.operators.Dedup.dedupMinhash(spark, dir, limit = 10000)
    assert(mh.filter(col("est_jaccard") < 0 || col("est_jaccard") > 1)
      .count() == 0)
    val nj = graft.operators.Dedup.ngramJaccard(spark, dir, limit = 100000)
    assert(nj.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
  }

  test("cosine scores bounded in [-1, 1] after rounding") {
    val s = graft.operators.Similarity.simTopk(spark, dir, k = 1000)
    assert(s.filter(col("cosine") < -1 || col("cosine") > 1).count() == 0)
  }

  test("a zero-norm embedding scores NULL cosines under ANSI mode, never aborts") {
    import graft.operators.Similarity
    // vec 3 is all zero; vec 4 (all negative) and vec 30 (tiny, all
    // negative) share its sign bucket 0, and vec 30 sits nearest the zero
    // vector among the fixed centroids (vec_ids 1-16)
    val rnd = new scala.util.Random(11)
    val d = java.nio.file.Files.createTempDirectory("graft-zerovec").toString
    (1L to 40L).map { id =>
      val v = id match {
        case 3L => Array.fill(8)(0.0f)
        case 4L => Array.tabulate(8)(i => -1.0f + 0.1f * i)
        case 30L => Array.fill(8)(-0.001f)
        case _ => Array.fill(8)(rnd.nextGaussian().toFloat)
      }
      (id, v, (id % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      def nullCosines(rows: Array[org.apache.spark.sql.Row], what: String) =
        assert(rows.nonEmpty &&
          rows.forall(r => r.isNullAt(r.fieldIndex("cosine"))),
          s"$what: ${rows.mkString(",")}")
      Seq(
        "knn_bucketed" -> Similarity.knnBucketed(spark, d),
        "knn_multiprobe" -> Similarity.knnMultiProbe(spark, d),
        "knn_ivf" -> Similarity.knnIvf(spark, d),
        "knn_ivf_fixed" -> Similarity.knnIvfFixed(spark, d),
        "knn_quantized" -> Similarity.knnQuantized(spark, d)).foreach {
        case (name, df) =>
          val rows = df.collect()
          nullCosines(rows.filter(_.getLong(0) == 3L), name)
          // a NULL ranks after every scored pair
          val vs4 = rows.filter(_.getLong(0) == 4L)
          val firstNull = vs4.indexWhere(_.isNullAt(3))
          assert(firstNull < 0 || vs4.drop(firstNull).forall(_.isNullAt(3)),
            s"$name: ${vs4.mkString(",")}")
      }
      val sim = Similarity.simTopk(spark, d, k = 1000).collect()
      assert(sim.length == 39)
      nullCosines(sim.filter(_.getLong(0) == 3L), "sim_topk")
      assert(sim.last.getLong(0) == 3L, sim.mkString(","))
      nullCosines(Similarity.dedupEmbedding(spark, d)
        .filter(col("p1") === 3L || col("p2") === 3L).collect(),
        "dedup_embedding")
      val sem = Similarity.semdedupFixed(spark, d)
        .as[(Long, Long, Option[Double], Boolean)].collect()
      assert(sem.length == 40)
      assert(sem.filter(_._1 == 30L).head._2 == 3L) // vec 3 has a peer
      assert(sem.filter(_._1 == 3L).head == ((3L, 3L, None, true)))
      val cells = Similarity.clusterStats(spark, d)
        .as[(Long, Long, Option[Double], Long, Long, Double)].collect()
      assert(cells.map(_._2).sum == 40L)
      assert(cells.filter(_._1 == 3L).head._3.isEmpty, cells.mkString(","))
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("F6: now() sanity query answers (ref tp2/app/test.py:96-127)") {
    // the reference's test_3 is a bare `SELECT now()` liveness probe;
    // the engine answers the same SQL
    val ts = spark.sql("SELECT now() AS ts").collect()(0).getTimestamp(0)
    assert(ts != null)
  }

  test("T3: RecsApi clamps limit to [1,10] — 0, -5 and 99 never error") {
    import graft.rec.RecsApi
    assert(RecsApi.recs(spark, dir, "co_occurrence", limit = 0).count() == 1)
    assert(RecsApi.recs(spark, dir, "co_occurrence", limit = -5).count() == 1)
    assert(RecsApi.recs(spark, dir, "co_occurrence", limit = 99).count() == 10)
  }

  test("T3: Engine.recommend clamps topN to [1,10] on the toy graph") {
    import graft.rec.Engine
    val g = Engine.fromOrders(spark, Fixtures.write(spark))
    // C1's toy blend has 2 candidates (P3, P4) — topN=-5 clamps to 1
    assert(Engine.recommend(spark, g, 1L, topN = -5).count() == 1)
    // 99 clamps to 10, which exceeds the candidate count → all candidates
    val all = Engine.recommend(spark, g, 1L, topN = 99).count()
    assert(all >= 1 && all <= 10)
  }
}

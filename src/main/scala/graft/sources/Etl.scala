package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.Relational

/** The tp2 ETL entrypoint (`tp2/app/etl.py:167-332`) as one Spark job:
  * relational tables → property-graph store (node + edge parquet),
  * replacing the reference's one-network-round-trip-per-row MERGE loops
  * (`etl.py:223-329` — the survey's #1 anti-pattern) with partition-
  * parallel writes. MERGE idempotency becomes key-dedup before write
  * (SURVEY §3.3); dangling FKs drop via the inner joins in
  * [[Relational.edgesBuild]]. The reference's load-order constraint
  * (categories → products → … → events) dissolves into plan data
  * dependencies.
  *
  * Prints the reference's completion sentinel `ETL done.` — the string
  * every reference test asserts on (`tp2/app/test.py:163`).
  */
object Etl {

  def run(spark: SparkSession, inDir: String, outDir: String): Unit = {
    // nodes: one row per entity, labeled — MERGE-keyed on (label, id)
    val nodes =
      Tables.customer(spark, inDir).select(lit("Customer").as("label"),
          concat(lit("C"), col("c_custkey")).as("id"),
          col("c_name").as("name"))
        .unionAll(Tables.part(spark, inDir).select(lit("Product").as("label"),
          concat(lit("P"), col("p_partkey")).as("id"),
          col("p_name").as("name")))
        .unionAll(Tables.orders(spark, inDir).select(lit("Order").as("label"),
          concat(lit("O"), col("o_orderkey")).as("id"),
          col("o_orderstatus").as("name")))
        .unionAll(Tables.part(spark, inDir)
          .select(col("p_brand")).distinct()
          .select(lit("Category").as("label"), col("p_brand").as("id"),
            col("p_brand").as("name")))
        .dropDuplicates("label", "id")
    nodes.write.mode(SaveMode.Overwrite)
      .partitionBy("label").parquet(s"$outDir/nodes")

    // edges: FK-resolution + dynamic event types, partitioned by type so
    // per-relationship scans prune to one directory
    Relational.edgesBuild(spark, inDir)
      .unionAll(Relational.eventEdges(spark, inDir)
        .select(col("rel_type"), col("src"),
          concat(lit("E"), col("event_id")).as("dst"),
          col("value").as("weight")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("rel_type").parquet(s"$outDir/edges")

    // the sentinel every reference test greps for (tp2/app/etl.py:332)
    println("ETL done.")
  }

  /** S8 — batch chunker (ref: `tp2/app/etl.py:153-164`, `chunk`): the
    * reference slices a pandas frame into fixed-size position ranges for
    * batched MERGE round-trips. Position slicing does not translate — a
    * global row-number funnels 100 TB through one sort — so the scale-
    * correct reframe is deterministic hash bucketing: fix the batch
    * COUNT `nb = ceil(total/chunkSize)` (one count aggregate, no
    * collect), then `batch = h32('chunk:'||key) % nb`. Expected batch
    * size ≈ chunkSize by binomial concentration; membership depends only
    * on the row's own key (same stability contract as
    * [[graft.operators.Corpus.splitBucket]]), so batches are
    * reproducible under reordering/reruns and each batch is a
    * pushdown-friendly filter rather than a materialized slice. */
  def nBatches(df: org.apache.spark.sql.DataFrame, chunkSize: Int): Long = {
    require(chunkSize > 0, "chunkSize must be positive")
    math.max(1L, (df.count() + chunkSize - 1) / chunkSize)
  }

  def chunkAssignOf(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column, nb: Long): org.apache.spark.sql.DataFrame =
    df.select(key.as("id"),
      (graft.operators.TextOps.h32(concat(lit("chunk:"),
        key.cast("string"))) % nb).as("batch"))

  /** `chunk_assign`: the declared-query surface — documents keyed by
    * doc_id, chunkSize 100 (sf0.01: 500 docs → 5 batches). */
  def chunkAssign(spark: SparkSession, dir: String,
      chunkSize: Int = 100): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    chunkAssignOf(docs, col("doc_id"), nBatches(docs, chunkSize))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** The reference's consumption pattern (a list of frames to iterate):
    * lazy per-batch filters over one assignment frame. Callers writing
    * batched sinks iterate without ever holding more than one batch's
    * rows in flight. */
  def batches(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      chunkSize: Int = 1000): Iterator[org.apache.spark.sql.DataFrame] = {
    val nb = nBatches(df, chunkSize)
    val assigned = chunkAssignOf(df, key, nb)
    (0L until nb).iterator.map(i =>
      assigned.filter(col("batch") === i).select(col("id")))
  }

  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_graph_store"
    val spark = graft.Session()
    run(spark, inDir, outDir)
    spark.stop()
  }
}

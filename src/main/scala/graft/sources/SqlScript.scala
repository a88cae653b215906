package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Tables

/** S7 — the multi-statement script runner (ref: `tp2/app/etl.py:122-150`,
  * `run_cypher_file`): split a script on `;`, execute each statement in
  * order, tolerate idempotent-DDL "already exists" errors. The reference
  * runs Cypher DDL (constraints/indexes) against a session; the Spark
  * reframe runs SQL against the session catalog — [[registerTables]]
  * binds the star schema as temp views first, so scripts query the same
  * tables every declared query reads.
  *
  * Two deliberate departures from the reference, both documented:
  *  - the split respects single-quoted literals (`etl.py:136` splits
  *    naively and would break a statement containing `';'`);
  *  - lenient mode (the reference's warn-and-continue on ANY error,
  *    `etl.py:144-148`) is opt-in; default is strict — an analytics
  *    engine must not swallow a failed statement silently. "already
  *    exists" is tolerated in both modes, matching the reference's
  *    explicit carve-out for re-run idempotency.
  *
  * Scale posture: the runner holds only the statement LIST on the driver
  * (bounded by script size); each statement executes through the normal
  * session — DDL eagerly, queries as lazy frames, nothing collected. */
object SqlScript {

  /** Split on `;` outside single-quoted literals; drop empty statements.
    * A doubled `''` escape toggles the flag twice — net no-op, correct. */
  def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    text.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case ';' if !inQuote => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Bind the full star schema at `dir` as temp views (the session-setup
    * role the reference's DDL file plays — `tp2/app/schema.cypher` via
    * `etl.py:183`), so a script can reference `lineitem`, `documents`,
    * etc. by name. Idempotent: re-registration replaces. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Tables.region(spark, dir).createOrReplaceTempView("region")
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier")
    Tables.part(spark, dir).createOrReplaceTempView("part")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    Tables.events(spark, dir).createOrReplaceTempView("events")
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
  }

  /** Execute every statement in `text`; returns (statements executed,
    * last statement's frame). The frame is LAZY — callers decide whether
    * to act on it; the runner never collects. An "already exists" error
    * counts as executed (the DDL's effect is present — the reference's
    * idempotency carve-out, `etl.py:146`); other errors throw unless
    * `lenient`, which warns and continues like the reference. */
  def run(spark: SparkSession, text: String,
      lenient: Boolean = false): (Int, Option[DataFrame]) = {
    var n = 0
    var last: Option[DataFrame] = None
    splitStatements(text).foreach { stmt =>
      try {
        last = Some(spark.sql(stmt))
        n += 1
      } catch {
        case e: Exception
            if Option(e.getMessage).exists(
              _.toLowerCase.contains("already exists")) =>
          n += 1
        case e: Exception if lenient =>
          System.err.println(s"SqlScript warning: ${e.getMessage}")
      }
    }
    (n, last)
  }
}

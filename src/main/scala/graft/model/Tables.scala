package graft.model

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table readers over the driver testdata directory layout
  * (`TESTDATA.md`): one parquet file per table under `<sfDir>/`.
  *
  * Spark-first posture: we hand Catalyst a plain parquet scan and rely on
  * column pruning + predicate pushdown (visible as `ReadSchema` /
  * `PushedFilters` in `explain("formatted")`). At 100 TB the same call
  * works unchanged against a partitioned table root; nothing here assumes
  * single-file input. Reference analogue: the `SELECT *` extracts at
  * `tp2/app/etl.py:201-206` — except we never materialize all columns;
  * pruning happens per-query.
  *
  * A plain `spark.read.parquet` infers the schema with a Spark job
  * (the footer merge), about 40 ms and one job per call even for an
  * unchanged file in a warm session, and every query reads its tables
  * afresh. So [[read]] infers a table's schema once per file version
  * and hands it to every later read (`spark.read.schema(s)`), which
  * starts no job. The key is the qualified path and the session's
  * explicitly set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
  * entries (they change what inference returns: `binaryAsString`,
  * `nanosAsLong`, ...); the version is the path's modification time and
  * length, and for a directory its direct children's too, so a table
  * rewritten in place (new part-file names) is inferred anew. A new
  * version replaces the entry, so there is one per table path and
  * reader settings. The schema holds no data and depends on the file,
  * not on a session's builders: it is not a [[BuilderCache]] entry and
  * `release` leaves it alone. A rewrite deeper than the direct
  * children, or one keeping every name, mtime and length, is not seen.
  */
object Tables {
  private type Version = Seq[(String, Long, Long)]

  /** (qualified path, parquet reader settings) → (version, schema). */
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Version, StructType)]

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    versionOf(spark, path) match {
      // no status: the plain read raises Spark's own error (PATH_NOT_FOUND)
      case None => spark.read.parquet(path)
      case Some((qualified, version)) =>
        val key = (qualified, parquetSettings(spark))
        val known = schemas.get(key)
        if (known != null && known._1 == version)
          spark.read.schema(known._2).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(key, (version, df.schema))
          df
        }
    }
  }

  /** The qualified path and its version, `None` if the lookup fails. */
  private def versionOf(spark: SparkSession,
      path: String): Option[(String, Version)] = Try {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    val children =
      if (st.isDirectory) fs.listStatus(p).toSeq.sortBy(_.getPath.toString)
      else Nil
    def id(f: FileStatus) =
      (f.getPath.toString, f.getModificationTime, f.getLen)
    (fs.makeQualified(p).toString, (st +: children).map(id))
  }.toOption

  private def parquetSettings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")

  /** `events.ts` normalized to Spark's µs TimestampType regardless of the
    * physical encoding, which has varied across testdata generations:
    * int64 nanoseconds (either a plain BIGINT column as
    * [[graft.tools.GenScale]] writes, or parquet timestamp_ns surfaced as
    * a long under `spark.sql.legacy.parquet.nanosAsLong=true` — the graft
    * mains and the test session builder still set that conf so ns files
    * stay readable), or a native µs timestamp (tz-less reads as NTZ).
    * Nanos truncate to µs — the same truncation DuckDB applies casting
    * timestamp_ns → TIMESTAMP; NTZ casts to the UTC session timestamp
    * unchanged — exactly how DuckDB reads a tz-less µs column. Either
    * way the VALUES agree with the oracle. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected int64 nanos or timestamp)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** S2's live-database analogue (SURVEY §2.1): the reference extracts
    * Postgres tables over a single cursor (`tp2/app/etl.py:201-206` —
    * `SELECT *` + fetchall); on Spark the same extraction is a JDBC scan.
    * Filters and column pruning push down to the database as SQL
    * (JdbcSpec asserts the pushed filter reaches the scan), and passing
    * `partitionColumn`/`lowerBound`/`upperBound`/`numPartitions` splits
    * the extract into parallel range queries — the scale-out ingest
    * shape the reference's fetchall loop can't express. */
  def jdbc(s: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    options.foldLeft(
        s.read.format("jdbc").option("url", url).option("dbtable", table)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
}

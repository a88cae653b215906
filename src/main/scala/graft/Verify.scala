package graft
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.serve.HttpApi.jStr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Write each query's answer to `outDir/<name>` as parquet and return
    * the names that failed. Each old dump is deleted first: a query that
    * throws, while its frame is built or while it runs, then leaves no
    * dump, and the oracle gate fails it instead of checking a previous
    * run's answer. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[String] =
    queries.flatMap { case (name, fn) =>
      val out = new Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(out, true)
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(out.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  /** Write the oracle SQL of every [[SparkEntry.oracleSql]] entry to
    * `outDir/oracle_sql.json`, and the staged renderings of the sf10-wall
    * oracles ([[SparkEntry.oracleStages]] scaladoc) to
    * `outDir/oracle_stages.json`, which `scripts/selfcheck.py` reads under
    * GRAFT_ORACLE_STAGED=1. */
  private[graft] def writeOracles(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jStr(k)}: ${jStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val stages = SparkEntry.oracleStages.map { case (n, stmts) =>
      s"[${jStr(n)}, ${stmts.map(jStr).mkString("[", ",", "]")}]"
    }.mkString("[", ",", "]")
    val staged = SparkEntry.stagedOracleSql.map { case (k, (needs, sql)) =>
      s"${jStr(k)}: {\"needs\": " +
        s"${needs.map(jStr).mkString("[", ",", "]")}," +
        s" \"sql\": ${jStr(sql)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_stages.json"),
      s"""{"stages": $stages, "queries": $staged}""")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args restrict the dump to named queries (iteration
    // aid); the driver always runs with exactly two args → full dump.
    val only = args.drop(2).toSet
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) })
    writeOracles(outDir)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} failed: " +
        failed.sorted.mkString(" "))
    spark.stop()
  }
}

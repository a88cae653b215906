package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args restrict the dump to named queries (iteration
    // aid); the driver always runs with exactly two args → full dump.
    val only = args.drop(2).toSet
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Staged renderings for the sf10-wall oracles (SparkEntry
    // .oracleStages scaladoc): selfcheck.py consumes this under
    // GRAFT_ORACLE_STAGED=1. The driver's own gate ignores the file.
    val stages = SparkEntry.oracleStages.map { case (n, stmts) =>
      s"[${q(n)}, ${stmts.map(q).mkString("[", ",", "]")}]"
    }.mkString("[", ",", "]")
    val staged = SparkEntry.stagedOracleSql.map { case (k, (needs, sql)) =>
      s"${q(k)}: {\"needs\": ${needs.map(q).mkString("[", ",", "]")}," +
        s" \"sql\": ${q(sql)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_stages.json"),
      s"""{"stages": $stages, "queries": $staged}""")
    spark.stop()
  }
}

package graft

import java.io.File
import java.nio.file.Files

/** The correctness dump's failure path: a failed query leaves no dump. */
class VerifySpec extends SparkSpec {

  test("a query that throws while its frame is built leaves no stale dump") {
    val out = Files.createTempDirectory("graft-verify").toString
    // a previous run's answers, then a corpus dir with no tables: knn_ivf
    // throws reading its embeddings before any job runs
    spark.range(3).write.parquet(s"$out/knn_ivf")
    spark.range(3).write.parquet(s"$out/fresh")
    val empty = Files.createTempDirectory("graft-verify-sf").toString
    val failed = Verify.dump(spark, empty, out, Seq(
      "knn_ivf" -> SparkEntry.queries("knn_ivf"),
      "fresh" -> ((s, _) => s.range(2).toDF())))
    assert(failed == Seq("knn_ivf"))
    assert(!new File(s"$out/knn_ivf").exists)
    assert(spark.read.parquet(s"$out/fresh").count() == 2)
  }
}

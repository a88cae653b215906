package graft

import java.io.File
import java.nio.file.Files

import scala.sys.process.{Process, ProcessLogger}

import org.apache.commons.io.FileUtils

/** The oracle gate inside the suite: every declared query's answer over
  * the sf0.001 testdata, dumped as `graft.Verify` dumps it, checked by
  * `scripts/selfcheck.py` against DuckDB (the oracle SQL of each query,
  * the envelopes of the queries that have none). */
class OracleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("every declared query matches its DuckDB oracle or envelope at " +
      "sf0.001") {
    val out = Files.createTempDirectory("graft-oracle").toFile
    try {
      val failed = Verify.dump(spark, sf, out.getPath,
        SparkEntry.queries.toSeq)
      assert(failed.isEmpty, s"queries that threw: $failed")
      Verify.writeOracles(out.getPath)
      val log = new StringBuilder
      val exit = Process(Seq("python3",
        new File("scripts/selfcheck.py").getAbsolutePath, sf, out.getPath))
        .!(ProcessLogger(l => log ++= l + "\n", l => log ++= l + "\n"))
      assert(exit == 0 && log.toString.contains("== 106 ok, 0 fail =="),
        log.toString)
    } finally FileUtils.deleteDirectory(out)
  }
}

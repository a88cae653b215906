package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.tools.Replay

/** The replay tools' chunk staging: one file per non-empty slice, the
  * empty slice skipped and reported, no temp dirs left, and the
  * progress ring buffer sized to the chunk count. */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  test("stageChunks writes one file per non-empty slice and skips an " +
      "empty one") {
    val dir = Files.createTempDirectory("graft-replay").toString
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val df = spark.range(12).toDF("id").filter(pmod(col("id"), lit(3)) =!= 1)
    val log = new java.io.ByteArrayOutputStream
    val staged = try Console.withOut(log) {
      Replay.stageChunks(df, pmod(col("id"), lit(3)), 3, dir, "TEST")
    } finally spark.conf.unset(key)
    assert(staged == Seq(0, 2))
    assert(log.toString.contains("TEST chunk 1 is empty; skipping"))
    val ls = Files.list(Paths.get(dir))
    val names = try ls.toArray.map(_.toString.split('/').last).sorted
      finally ls.close()
    assert(names.toSeq == Seq("chunk000.parquet", "chunk002.parquet"))
    def ids(i: Int) = spark.read.parquet(f"$dir/chunk$i%03d.parquet")
      .as[Long].collect().sorted.toSeq
    assert(ids(0) == Seq(0L, 3L, 6L, 9L))
    assert(ids(2) == Seq(2L, 5L, 8L, 11L))
  }

  test("stageChunks sizes the progress ring buffer to the chunk count") {
    // 150 slices, only 0 and 1 non-empty: two writes, a buffer past 100
    val dir = Files.createTempDirectory("graft-replay").toString
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val size = try {
      Console.withOut(new java.io.ByteArrayOutputStream) {
        Replay.stageChunks(spark.range(4).toDF("id"),
          pmod(col("id"), lit(2)), 150, dir, "TEST")
      }
      spark.conf.get(key)
    } finally spark.conf.unset(key)
    assert(size == "158")
  }
}

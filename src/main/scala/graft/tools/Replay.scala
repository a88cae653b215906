package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame}

/** Chunk staging for the replay tools ([[CorpusScale]], [[StreamScale]],
  * [[ScoreScale]]): a table split into files that a file source with
  * `maxFilesPerTrigger=1` and `pathGlobFilter=chunk*.parquet` consumes
  * as one micro-batch per file. */
object Replay {

  /** Write each non-empty slice `i` of `df` (the rows where `slice`
    * equals `i`, for `i` in `0 until chunks`) as one parquet file
    * `dir/chunkNNN.parquet`: a `coalesce(1)` write to a temp dir, then
    * an atomic move of its part file, so a watching source never sees
    * a partial file. A slice with no rows is skipped and reported
    * (`<tag> chunk i is empty; skipping`): Spark would write it as an
    * empty part file, one empty micro-batch. Returns the indices of
    * the files written.
    *
    * Also sizes the session's progress ring buffer
    * (`spark.sql.streaming.numRecentProgressUpdates`, default 100) to
    * the chunk count, so a query started after staging keeps every
    * batch's progress in `recentProgress`. */
  def stageChunks(df: DataFrame, slice: Column, chunks: Int, dir: String,
      tag: String): Seq[Int] = {
    df.sparkSession.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(chunks + 8, 100).toString)
    val nonEmpty = df.groupBy(slice).count().collect()
      .map(_.getAs[Number](0)).filter(_ != null).map(_.longValue).toSet
    val (written, empty) = (0 until chunks).partition(i => nonEmpty(i.toLong))
    empty.foreach(i => println(s"$tag chunk $i is empty; skipping"))
    written.foreach { i =>
      val tmp = s"$dir/_tmp$i"
      df.filter(slice === i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val listing = Files.list(Paths.get(tmp))
      val part =
        try listing.toArray.map(_.asInstanceOf[Path])
          .find(_.getFileName.toString.endsWith(".parquet"))
        finally listing.close() // Files.list holds an fd until closed
      Files.move(part.getOrElse(sys.error(s"no part file in $tmp")),
        Paths.get(f"$dir/chunk$i%03d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    written
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main builds through. Cores come
  * from `SPARK_GRAFT_CPUS` (default: every available processor) and
  * size both the local master and the shuffle width; `SPARK_GRAFT_MASTER`
  * replaces the local master outright, e.g. `local-cluster[n,cores,mb]`
  * to run the same code under separate executor JVMs (pass the
  * executors' classpath and JVM options as system properties). */
object Session {
  def conf(env: Map[String, String]): Seq[(String, String)] = {
    val cpus = env.get("SPARK_GRAFT_CPUS") match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS='$s' is not a positive integer"))
    }
    Seq(
      "spark.master" -> env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // A long-lived driver (a multi-query dump, the HTTP server) keeps
      // every finished stage's shuffle files until the DRIVER GCs: the
      // ContextCleaner removes them only once their ShuffleDependency is
      // collected, and a large heap may never GC unprompted — that
      // disk-killed an sf10 dump at >70 GB of dead spill.
      "spark.cleaner.periodicGC.interval" -> "60s")
  }

  def apply(): SparkSession = {
    val spark = SparkSession.builder().config(conf(sys.env).toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

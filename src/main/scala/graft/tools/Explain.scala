package graft.tools

/** Dump formatted physical plans for the declared queries — plan-review
  * aid (SURVEY §4.2 "verify via explain()"). With
  * SPARK_GRAFT_EXPLAIN_UNCACHED=1 the queries build under
  * [[graft.model.BuilderCache.uncached]], so memoized builders and
  * eager checkpoints are bypassed and the FULL plan (including shapes
  * normally hidden behind InMemoryRelation / LogicalRDD leaves) is
  * printed — the same visibility mode PlanSpec's detector sweeps use.
  * Usage:
  *   runMain graft.tools.Explain <sfDir> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet
      else graft.SparkEntry.queries.keySet
    val spark = graft.Session()
    val uncached = sys.env.get("SPARK_GRAFT_EXPLAIN_UNCACHED").contains("1")
    def show(): Unit =
      graft.SparkEntry.queries.filter(q => names(q._1)).toSeq.sortBy(_._1)
        .foreach { case (name, fn) =>
          println(s"\n===== $name =====")
          println(fn(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
    if (uncached) graft.model.BuilderCache.uncached(show()) else show()
    spark.stop()
  }
}

package graft

/** Dev tool: print the plan each query actually runs under the harness
  * session — every named query (all when none are named) is executed
  * through its OWN `QueryExecution` first (a write/count would plan a
  * fresh one), so `AdaptiveSparkPlan` finalizes in place and the printed
  * plan shows the runtime shape (AQEShuffleRead coalescing, skew splits)
  * instead of `isFinalPlan=false`.
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession(sfDir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.toRdd.count(): Unit
      println(s"\n========== $n ==========")
      df.explain("formatted")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

package graft.tools

/** Per-phase cost breakdown for one registry query: DataFrame build
  * (analysis), physical planning (optimizer + codegen prep), and
  * repeated executions — the split that tells a fixed-cost query
  * (planning/JIT dominated, invariant across scale factors) from a
  * data-bound one. The bench's min-of-N answers "how fast"; this
  * answers "where does the time go".
  *
  * Usage: runMain graft.tools.ProfileQuery <query> [sfDir] [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileQuery <query> [sfDir] [runs]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.core.Sessions.local(appName = "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    // same warm-up as Bench so run 1 is not session startup
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()
    try {
      for (i <- 1 to runs) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis + physical planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        println(f"[profile] $name run$i build=${(t1 - t0) / 1e9}%6.3f plan=${(t2 - t1) / 1e9}%6.3f exec=${(t3 - t2) / 1e9}%6.3f")
        graft.core.Caches.release(spark)
        spark.catalog.clearCache()
        System.gc()
      }
    } finally spark.stop()
  }
}

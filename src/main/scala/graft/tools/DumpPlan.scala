package graft.tools

/** Writes `.explain("formatted")` for the named registry queries to
  * `plans/<tag>/<query>_<suffix>.txt` — the committed evidence for the
  * optimization rounds' plan-shape claims (before/after pairs).
  *
  * Usage: runMain graft.tools.DumpPlan <suffix> <query>[,<query>...]
  *        [sfDir] [outDir]
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse(
      sys.error("usage: DumpPlan <suffix> <q1,q2,...> [sfDir] [outDir]"))
    val names = args.lift(1).getOrElse(sys.error("need query list"))
      .split(",").toSeq
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(3).getOrElse("plans/r14")
    val spark = graft.core.Sessions.local(appName = "graft-dumpplan")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    try {
      for (name <- names) {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try w.println(txt) finally w.close()
        graft.core.Caches.release(spark)
        spark.catalog.clearCache()
        println(s"[dumpplan] wrote $outDir/${name}_$suffix.txt")
      }
    } finally spark.stop()
  }
}

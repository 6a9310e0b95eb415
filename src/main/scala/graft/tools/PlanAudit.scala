package graft.tools

import org.apache.spark.sql.SparkSession

/** Physical-plan audit over the ENTIRE query registry: one row per query
  * with the plan features the scale review cares about (shuffle count,
  * broadcast count, scan count, join strategies, distributed top-k,
  * whole-stage-codegen spans, unbounded single-partition windows).
  * Writes PLANS.md — mechanical evidence, regenerated per round, so plan
  * regressions show up in the diff rather than in a benchmark surprise.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("PLANS.md")
    // local[8] whatever the host: PLANS.md has always been generated
    // that way, so a regeneration elsewhere does not move the audit
    val spark = graft.core.Sessions.local(8, appName = "graft-planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sfDir, out)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, out: String): Unit = {
    import org.apache.spark.sql.execution._
    // Counts walk the executedPlan TREE, not its string rendering: an
    // InMemoryTableScan prints its cached BUILD plan inline (string
    // counting overcounted iterative operators' persisted cuts by their
    // whole lineage) but has no children in the tree, so tree counts see
    // exactly the operators the scheduler will run above the cache.
    //
    // The seen-cache set is identity-keyed on the builder OBJECT (not its
    // identityHashCode int — hash values can be reused by later queries'
    // fresh builders after GC, silently skipping their build plans) and
    // reset PER QUERY: the dedup only matters within one plan.
    def nodes(p: SparkPlan, seenCaches: java.util.Set[AnyRef]): Seq[SparkPlan] = p match {
      // AQE wraps the whole query (and each reused stage) in adapter
      // nodes with NO tree children; unwrap to the pre-AQE plan so the
      // audit sees the operators Catalyst planned (same basis as the
      // string rendering the earlier audits counted)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.initialPlan, seenCaches)
      // a cached cut's BUILD plan runs exactly once per execution however
      // many scans read it — count each distinct cache once (the string
      // rendering counted it once PER SCAN, inflating iterative
      // operators' numbers by their whole per-round lineage)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        if (seenCaches.add(im.relation.cacheBuilder))
          Seq(im) ++ nodes(im.relation.cachedPlan, seenCaches)
        else Seq(im)
      case other =>
        (Seq(other) ++ other.children.flatMap(nodes(_, seenCaches))) ++
          other.subqueries.flatMap(nodes(_, seenCaches))
    }
    def cls(p: SparkPlan): String = p.getClass.getSimpleName
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      val physical = df.queryExecution.executedPlan
      val all = nodes(physical, java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))
      def n(names: String*): Int = all.count(p => names.contains(cls(p)))
      val shuffles = all.count { p =>
        cls(p) == "ShuffleExchangeExec" &&
          p.outputPartitioning.toString.startsWith("hashpartitioning")
      }
      val rangeParts = all.count { p =>
        cls(p) == "ShuffleExchangeExec" &&
          p.outputPartitioning.toString.startsWith("rangepartitioning")
      }
      val optimized = df.queryExecution.optimizedPlan
      val unboundedWindows = optimized.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.size
      val codegen = n("WholeStageCodegenExec")
      val r = (name,
        shuffles,
        rangeParts,
        n("BroadcastExchangeExec"),
        n("FileSourceScanExec"),
        n("SortMergeJoinExec"),
        n("BroadcastHashJoinExec"),
        n("BroadcastNestedLoopJoinExec", "CartesianProductExec"),
        n("TakeOrderedAndProjectExec"),
        codegen,
        unboundedWindows)
      graft.core.Caches.release(spark)
      r
    }
    spark.catalog.clearCache()
    val sb = new StringBuilder
    sb ++= "# PLANS -- physical-plan audit of the full query registry\n\n"
    sb ++= s"Generated by `graft.tools.PlanAudit` against `$sfDir`. Counts come\n"
    sb ++= "from the executed (pre-AQE) physical plan; `loops` counts\n"
    sb ++= "BroadcastNestedLoopJoin + CartesianProduct (tolerable only for\n"
    sb ++= "broadcast one-row/tiny-table totals); `u-win` counts ALL\n"
    sb ++= "single-partition (unpartitioned) windows, LIMIT-bounded or not\n"
    sb ++= "(must be zero everywhere -- also plan-guarded in PlanGuardSpec;\n"
    sb ++= "bounded frames rank via the window-free Rnk.boundedRank).\n\n"
    sb ++= "Counts walk the executedPlan TREE (plus scalar/IN subqueries),\n"
    sb ++= "unwrapping the AQE adapter to the pre-AQE plan, and count each\n"
    sb ++= "DISTINCT cached build plan exactly once -- a persisted cut builds\n"
    sb ++= "once per execution however many scans read it, so iterative\n"
    sb ++= "operators are no longer inflated by the string rendering's\n"
    sb ++= "once-per-scan reprint of their whole per-round lineage (the\n"
    sb ++= "round-5 audit's documented overcount, now gone).\n\n"
    sb ++= "| query | shuffles | range-part | broadcasts | scans | SMJ | BHJ | loops | top-k | codegen | u-win |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|---|---|\n"
    for ((n, ex, rp, be, fs, smj, bhj, loops, tk, wsc, uw) <- rows)
      sb ++= s"| $n | $ex | $rp | $be | $fs | $smj | $bhj | $loops | $tk | $wsc | $uw |\n"
    val totals = rows.map(r => (r._2, r._3, r._4, r._8, r._11))
      .foldLeft((0, 0, 0, 0, 0)) { case ((a, b, c, d, e), (x, y, z, l, u)) =>
        (a + x, b + y, c + z, d + l, e + u) }
    sb ++= s"\nTotals: ${totals._1} hash shuffles, ${totals._2} range " +
      s"partitionings, ${totals._3} broadcasts, ${totals._4} nested-loop/" +
      s"cartesian sites, ${totals._5} unbounded single-partition windows " +
      s"across ${rows.size} queries.\n"
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.print(sb.toString) finally w.close()
    println(s"wrote $out (${rows.size} queries)")
  }
}

package graft
import Mains.{jsonString => jstr}
object Bench {

  /** Fixed headline queries carried in the stdout envelope. */
  private[graft] val Headline = Seq(
    "q_olap_pricing_summary", "q_customer_sales_report",
    "q_dedup_minhash_lsh")

  /** The FINAL stdout line — the only thing the bench driver parses, and
    * it captures only the TAIL of stdout (the full per-query map at 97
    * queries, ~3.5 KB, overflowed that window for three rounds:
    * "parsed": null). The envelope therefore carries only the total, an
    * error COUNT, the fixed headline timings PLUS the top-3 slowest
    * non-headline queries (round-15 tripwire: a regression outside the
    * fixed trio now surfaces by name instead of hiding in the total),
    * and the core count the session actually ran with (round-15: makes
    * the driver's low-core scaling probe legible — a run that ignored
    * SPARK_GRAFT_CPUS would echo the wrong number here).
    * BenchEnvelopeSpec pins the line under 512 bytes at worst-case
    * field widths (~9× under the observed ~4.5 KB tail-window failure
    * point) so a future edit cannot silently regrow it. The complete
    * per-query map goes to bench_last.json. */
  private[graft] def envelope(total: Double, headline: Seq[(String, Double)],
                              nErrors: Int, reps: Int, sfName: String,
                              cpus: Int): String = {
    val headJson = headline.map { case (h, v) => jstr(h) + ":" + r3(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$headJson,"errors":$nErrors,"reps":$reps,"cpus":$cpus,"sf":${jstr(sfName)}}"""
  }

  /** 3-decimal rounding: millisecond precision is all the comparison
    * needs, and it keeps the single-line JSON inside the tail-capture
    * window of the harness that parses Bench's last stdout line (rounds 2 and 3 both came back "parsed": null
    * because 9-digit timings pushed the line past ~4.5 KB). A failed
    * query's -1 stays -1. */
  private def r3(v: Double): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(appName = "graft-bench")
    // the core count the session actually runs with, echoed in the envelope
    val cpus = spark.sparkContext.defaultParallelism
    val selected = Mains.selected.sortBy(_.name)
    // warm the JVM/codegen/file-index paths so the first timed query does
    // not absorb session startup: shuffle machinery, every table's parquet
    // footer, and the text-function/md5/shingle codegen the corpus queries
    // JIT on first use (measured: first query otherwise pays ~4-8 s of
    // one-time cost that is not per-query work)
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    try {
      import org.apache.spark.sql.functions._
      import graft.functions.TextFunctions._
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "documents", "embeddings"))
        graft.core.Tables.load(spark, sfDir, t).limit(512)
          .write.format("noop").mode("overwrite").save()
      graft.core.Tables.events(spark, sfDir).limit(512)
        .write.format("noop").mode("overwrite").save()
      graft.functions.GraftFunctions.ensureRegistered(spark)
      graft.core.Tables.documents(spark, sfDir).limit(512)
        .select(md5(concat_ws(" ", tokens(col("text")))).as("fp"),
                bpeTokenCount(col("text")).as("bpe"),
                call_function(graft.functions.GraftFunctions.ShingleName,
                  col("text"), lit(3)).as("sh"),
                call_function(graft.functions.GraftFunctions.SimHashName,
                  col("text")).as("sim"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // each query runs REPS times and reports the fastest rep: single-shot
    // timings on a shared JVM swing ±30% with GC pauses; min-of-N is the
    // steady-state cost of the PLAN, which is what the bench compares.
    // Default raised 2 → 3 (round 7): shared-JVM noise is ONE-SIDED (GC
    // pauses and JIT deopts only ADD time), so min-of-N both converges to
    // the plan cost faster than a median would and tightens the
    // run-to-run envelope — the documented 85–188 s full-run flap was
    // measured at min-of-2, where a single noisy pair leaks straight
    // into the total. Warm-up protocol (above): one noop action to boot
    // shuffle machinery, every table's parquet footer, and the
    // text-kernel codegen BEFORE any timed rep, so rep 1 never absorbs
    // session startup.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val results = selected.map { entry =>
      val name = entry.name
      val times = (1 to reps).flatMap { _ =>
        // elapsed is captured IMMEDIATELY after save() returns, before the
        // finally-block housekeeping: release/clearCache/System.gc on a
        // large heap cost hundreds of ms each and are between-query
        // isolation, not plan cost (round-3 bench billed them into every
        // query and ~20 small queries uniformly doubled)
        var elapsed: Option[Double] = None
        try {
          val t0 = System.nanoTime()
          // noop sink: forces every column to be computed (count() would let
          // the optimizer prune the projections entirely for narrow queries)
          entry.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          elapsed = Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(name,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        } finally {
          // per-rep isolation: drain graft-tracked persists (the
          // library contract) plus any stragglers, so rep N+1 never
          // reads rep N's caches
          graft.core.Caches.release(spark)
          spark.catalog.clearCache()
        }
        elapsed
      }
      // force ONE driver GC per query (round-15: was per rep — 3× the
      // forced full collections for no measurement benefit, ~0.5 s of
      // wall clock each on the 48g heap): Spark's ContextCleaner only
      // reclaims executor-side shuffle/broadcast state when driver GC
      // collects the owning objects, and with a large heap that can lag
      // many queries behind — the accumulated state then bleeds GC
      // pauses into LATER queries' timings (measured: same query 0.5s
      // isolated, 7s late in a full run). Housekeeping between queries
      // is not plan cost and sits OUTSIDE the measured spans above;
      // within one query's reps, min-of-N absorbs any rep-local GC debt
      // (one-sided noise, same argument as the reps comment above).
      System.gc()
      // a failed query reports -1, never a fast fake timing
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val qs = results.map { case (k, v) => jstr(k) + ":" + r3(v) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$errJson,"reps":$reps,"sf":${jstr(sfDir)}}"""
    // The driver captures only the TAIL of stdout and parses the last
    // line; the full 97-query map (~3.5 KB) overflowed that window three
    // rounds running ("parsed": null). The stdout line therefore carries
    // only the total, an error COUNT, and three fixed headline queries
    // (<300 bytes measured); the complete per-query map goes to
    // bench_last.json below.
    val resultMap = results.toMap
    val sfName = new java.io.File(sfDir).getName
    // moving tripwire (round-15): the top-3 slowest NON-headline queries
    // ride along in the envelope, so a per-query regression outside the
    // fixed trio surfaces to the driver by name instead of hiding in
    // the total. Additive only — the fixed headline trio stays for
    // round-over-round comparability.
    val slowest = results
      .filter { case (n, t) => t >= 0 && !Headline.contains(n) }
      .sortBy(-_._2).take(3)
    val line = envelope(total,
      Headline.flatMap(h => resultMap.get(h).map(h -> _)) ++ slowest,
      errors.size, reps, sfName, cpus)
    // on-disk mirror with the FULL per-query map (same 3-decimal rounding);
    // never parsed by the driver, read locally and by BASELINE.md updates
    try {
      val w = new java.io.PrintWriter("bench_last.json")
      try w.println(full) finally w.close()
    } catch { case _: Throwable => () }
    // stop Spark BEFORE emitting the JSON so no shutdown log line can land
    // after it: the bench driver parses the LAST line of output
    spark.stop()
    System.err.flush()
    println(line)
    System.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val seed: Long, val seconds: Double,
                val trace: Boolean, val work: Path, val traceDir: Option[Path]) {
  val tracer = new Tracer(trace)
  var spark: SparkSession = _
  val layers = new LayerListener
  val plans = new PlanListener
  /** Operations attempted and failed in the timed phases. */
  var attempted = 0L
  var failed = 0L
  /** Failed output checks; request threads add to it concurrently. */
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def fail(what: String): Unit = failures.add(what)
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def clean(dir: Path): Unit = if (Files.exists(dir)) {
    val all = Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
    try all.forEach(p => Files.delete(p)) finally all.close()
  }

}

/** A workload: a repeatable set-up, a warm-up, a timed phase and checks. */
trait Workload {
  /** Generate the inputs and write them under `dir`. Runs several times in
    * set-up; the last run's inputs are the ones measured. */
  def prepare(dir: Path): Unit
  /** Seed the warehouse from the prepared inputs (once). */
  def seed(): Unit
  /** Untimed pass over the measured path, so JIT and lazy set-up finish. */
  def warmup(): Unit
  /** Timed phase of `seconds`. Called once in a plain run and twice (plain,
    * then traced) in a traced run; returns its end-to-end metrics. */
  def measure(seconds: Double): Map[String, Double]
  /** Output checks that need the run's final state. */
  def finish(): Unit
  /** Per-layer metrics of the traced phase, beyond the shared ones. */
  def perLayer(): Map[String, Double]
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_ms" -> "ms",
    "peak_rss_mb" -> "MB", "ops_ok_ratio" -> "ratio", "recall" -> "ratio",
    "bytes_per_input_byte" -> "ratio")

  /** Every per-layer metric a traced run prints, with its unit and which
    * direction is better. A workload that does not touch a layer reports 0
    * for it. ETL times are per load day, curation times per pass, serve
    * times per request. */
  val PerLayer: Seq[(String, String, String)] = {
    def lo(n: String, u: String) = (n, u, "lower")
    def hi(n: String, u: String) = (n, u, "higher")
    Seq(lo("core.session_s", "s"), lo("core.prepare_s", "s"), lo("core.seed_s", "s"),
      lo("core.warmup_s", "s"), hi("core.cpu_util", "ratio"), lo("core.gc_s", "s"),
      lo("connect.staging_write_s", "s"), lo("connect.history_write_s", "s"),
      lo("connect.files_written", "count"), lo("connect.bytes_written", "bytes"),
      lo("connect.serve_call_ms", "ms"), lo("connect.history_read_ms", "ms"),
      lo("connect.fs_list_ops", "count"), lo("connect.fs_read_ops", "count"),
      lo("connect.serve_wait_ms", "ms"), lo("connect.generator_late_ms", "ms"),
      lo("connect.serve_tail_ms", "ms"), hi("connect.serve_tail_pct", "%"),
      hi("connect.serve_requests", "count"), lo("connect.serve_backlog", "count"),
      hi("schema.drift_detected", "count"), hi("schema.drift_planted", "count"),
      lo("validate.gate_s", "s"), lo("validate.gate_jobs", "count")) ++
    Etl.Entities.map(e => lo(s"pipelines.ingest_s.${e._1}", "s")) ++
    graft.pipelines.Marts.all.map(m => lo(s"pipelines.mart_s.${m.name}", "s")) ++
    Seq(lo("pipelines.shuffle_bytes", "bytes"), lo("pipelines.spill_bytes", "bytes"),
      hi("pipelines.days", "count"),
      lo("reconcile.diff_s", "s"), lo("reconcile.bucket_diff_s", "s"),
      hi("reconcile.rows_compared", "count"),
      lo("ops.quality_s", "s"), lo("ops.exact_dedup_s", "s"), lo("ops.minhash_lsh_s", "s"),
      lo("ops.simhash_s", "s"), lo("ops.shuffle_bytes", "bytes"), lo("ops.spill_bytes", "bytes"),
      hi("ops.lsh_pairs", "count"), hi("ops.lsh_truth_pairs", "count"), hi("ops.passes", "count"),
      lo("functions.tokens_ns_per_doc", "ns"), lo("functions.shingle_ns_per_doc", "ns"),
      lo("functions.simhash_ns_per_doc", "ns"), lo("functions.hash60_ns_per_doc", "ns"),
      lo("plans.planning_ms", "ms"), hi("plans.queries", "count"),
      lo("trace.overhead_pct", "%"), hi("trace.spans", "count"), hi("trace.jobs", "count"))
  }

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val ctx = new Ctx(seed, opts.getOrElse("seconds", "10").toDouble, opts.getOrElse("trace", "0") == "1",
      Paths.get(opts.getOrElse("work-dir", sys.error("--work-dir is required"))),
      opts.get("trace-dir").map(Paths.get(_)))
    val result = try run(workload, ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
        throw e
    }
    ctx.failures.asScala.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))
    println(result)
    System.out.flush()
    System.err.flush()
    // everything the run wrote lives in its work directory, which the
    // caller deletes: skip Spark's orderly shutdown
    Runtime.getRuntime.halt(0)
  }

  def run(name: String, ctx: Ctx): String = {
    val jvmStart = Jvm.startMs
    val (spark, sessionSpan) = ctx.tracer.span("core", "session") {
      graft.core.Sessions.local(cores = 4, appName = s"perfbench-$name")
    }
    ctx.spark = spark
    ctx.tracer.spark = spark
    // JVM start to a usable session: class loading is part of what a user waits for
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w: Workload = name match {
      case "nightly_etl" => new Etl(ctx)
      case "serve_api" => new ServeApi(ctx)
      case "curation" => new Curation(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    ctx.tracer.recording = false
    val prepS = (1 to SetupReps).map { i =>
      val dir = ctx.work.resolve(s"data-$i")
      val (_, s) = ctx.tracer.span("core", "prepare")(w.prepare(dir))
      if (i > 1) ctx.clean(ctx.work.resolve(s"data-${i - 1}"))
      s.seconds
    }
    val (_, seeded) = ctx.tracer.span("core", "seed")(w.seed())
    val (_, warm) = ctx.tracer.span("core", "warmup")(w.warmup())
    val setupS = sessionS + Stats.median(prepS) + seeded.seconds + warm.seconds
    ctx.attempted = 0; ctx.failed = 0

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!ctx.trace) {
      ctx.tracer.recording = true
      val m = w.measure(ctx.seconds)
      w.finish()
      EndToEnd.foreach { case (k, unit) =>
        metrics(k) = (if (k == "setup_s") setupS
                      else if (k == "peak_rss_mb") Jvm.peakRssMb
                      else m(k), unit)
      }
    } else {
      // a traced phase between two plain phases of the same length: the
      // difference from the plain average is the tracing overhead, with a
      // steady warming trend cancelled out
      val phase = ctx.seconds
      val before = w.measure(phase)
      spark.sparkContext.addSparkListener(ctx.layers)
      spark.listenerManager.register(ctx.plans)
      ctx.tracer.recording = true
      val t0 = System.nanoTime(); val gc0 = Jvm.gcMs
      val traced = w.measure(phase)
      val wall = (System.nanoTime() - t0) / 1e9
      val gcS = (Jvm.gcMs - gc0) / 1e3
      ctx.layers.drain()
      spark.sparkContext.removeSparkListener(ctx.layers)
      spark.listenerManager.unregister(ctx.plans)
      ctx.tracer.recording = false
      w.finish()
      val jobs = ctx.layers.all
      val measured = w.perLayer() ++ Map(
        "core.session_s" -> sessionS,
        "core.warmup_s" -> warm.seconds,
        "core.prepare_s" -> Stats.median(prepS),
        "core.seed_s" -> seeded.seconds,
        "core.cpu_util" -> jobs.map(_.runTimeMs).sum / 1e3 / (wall * 4),
        "core.gc_s" -> gcS,
        "plans.planning_ms" -> (if (ctx.plans.queries.get == 0) 0.0
          else ctx.plans.planningNs.get / 1e6 / ctx.plans.queries.get),
        "plans.queries" -> ctx.plans.queries.get.toDouble,
        "trace.spans" -> ctx.tracer.spans.size.toDouble,
        "trace.jobs" -> jobs.size.toDouble)
      val unknown = measured.keySet -- PerLayer.map(_._1)
      require(unknown.isEmpty, s"per-layer metrics missing from Main.PerLayer: $unknown")
      val after = w.measure(phase)
      val plain = (before("throughput_per_s") + after("throughput_per_s")) / 2
      val all = measured + ("trace.overhead_pct" -> 100.0 * (plain - traced("throughput_per_s")) / plain)
      PerLayer.foreach { case (k, unit, _) => metrics(k) = (all.getOrElse(k, 0.0), unit) }
      ctx.traceDir.foreach(d => ctx.tracer.writeJsonl(d.resolve(s"$name-seed${ctx.seed}.jsonl"), jobs))
    }
    Json.obj(Seq(
      "correct" -> ctx.failures.isEmpty,
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap))
  }
}

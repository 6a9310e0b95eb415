package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's ONLY SparkSession factory: every main (Bench, Verify,
  * the plan/profile tools, ScaleGen) and every embedding caller gets its
  * session here.
  *
  * Replaces the reference's ad-hoc `init_spark()`
  * (reference: ETL_Airflow/dags/tasks/utils.py:10-31) with a single place
  * that pins the settings that matter for determinism and scale:
  *   - UTC session time zone (reference results depended on wall-clock/locale)
  *   - AQE on (runtime skew-join + partition coalescing; the reference ran
  *     stock defaults on a 2-core worker)
  *   - shuffle partitions = the local core count, not 200
  *   - graft's optimizer extensions and [[joinTuning]].
  */
object Sessions {

  /** Join-strategy settings every engine session carries — before
    * round 14 the bench/verify mains built bare sessions and measured a
    * different engine configuration than [[local]] shipped (28 registry
    * plans carried SortMergeJoins the engine session would not plan).
    * All three are scale-adaptive, not local-core tuning:
    *  - preferSortMergeJoin=false lets the planner pick shuffled-hash
    *    (no sort of either side) when its size conditions hold; with
    *    large estimated inputs it still falls back to sort-merge — the
    *    guide's recommended baseline (spark_optimization_guide §3.1/§9);
    *  - the AQE local-map threshold converts a planned sort-merge to
    *    shuffled-hash at RUNTIME when every post-shuffle partition fits
    *    a 128 MB local map — at 100 TB partitions exceed it and the
    *    sort-merge stands, so the rewrite self-disables at scale;
    *  - the 64 MB broadcast threshold is [[local]]'s long-standing
    *    value (estimates, not actuals — guide §3.1 puts the comfortable
    *    broadcast range far above it). */
  val joinTuning: Seq[(String, String)] = Seq(
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      (128L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // generated-class cache (STATIC conf, so it must ride the builder):
    // the default 100 entries is smaller than ONE wide audit plan's
    // codegen-unit count (the ANN recall sweep and the IVF-PQ pipeline
    // both exceed it), so every execution re-ran Janino on every unit —
    // and any multi-query session thrashes it across queries. 2000
    // entries ≈ a few hundred MB of class metadata ceiling, scale- and
    // core-count-independent (round-15; isolated min-of-5: ivfpq
    // 5.76 → 3.76 s, ann_recall 7.65 → 5.19 s, same-session pairs).
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  /** `SPARK_GRAFT_CPUS` when set (local experiments, the scaling probe),
    * else every core on the box. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` engine session with `cores` shuffle partitions. */
  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val b = joinTuning.foldLeft(SparkSession.builder()) {
        case (bb, (k, v)) => bb.config(k, v) }
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // graft's optimizer rules (NormalizeTrimJoins, FuseDotProduct) are
      // semantics-preserving — every engine session runs with them live
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Injected load date ("run date") for snapshot stamping.
  *
  * The reference stamps `DAY_DT` with `current_date()` at load time
  * (reference: ingestion_task.py:49), which made runs non-reproducible and
  * forced whole-file forks for backfills
  * (reference: adhoc_load_sales_20250707_file.py:48). Here the date is a
  * pipeline parameter.
  */
final case class RunDate(value: java.time.LocalDate) {
  def sqlDate: java.sql.Date = java.sql.Date.valueOf(value)
  def minusDays(n: Long): RunDate = RunDate(value.minusDays(n))
  override def toString: String = value.toString
}

object RunDate {
  def apply(iso: String): RunDate = RunDate(java.time.LocalDate.parse(iso))
  /** Fixed default for tests/benchmarks — never the wall clock. */
  val default: RunDate = RunDate("2024-06-01")
}

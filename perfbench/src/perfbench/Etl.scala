package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.connect.{Csv, Jsonl, ParquetIO, ParquetWarehouse}
import graft.core.RunDate
import graft.pipelines.{Ingestion, Marts}
import graft.reconcile.Reconcile

/** `nightly_etl`: the reference DAG, one load day at a time, closed loop.
  * Each day lands five full extracts with `Ingestion.ingest` (orders and
  * customer as CSV, supplier and part as JSON lines, lineitem as parquet),
  * runs every mart with `Marts.materialize` (what `Marts.runAll` does, one
  * mart at a time so each is timed), then compares today's orders with
  * yesterday's through `Reconcile.diff` and `Reconcile.bucketDiff`. The
  * loop cycles over the generated days; a replayed day overwrites its own
  * history partitions, so every cycle sees the same planted changes. */
final class Etl(ctx: Ctx) extends Workload {
  import Etl._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var gen: Gen.Warehouse = _
  private var dir: Path = _
  private var wh: ParquetWarehouse = _
  private var srcBytes: Array[Long] = _
  private var srcRows: Array[Long] = _
  // timed days and what the checks saw, for the per-layer report
  private var daysRun = 0
  private var driftSeen = 0
  private var driftPlanted = 0
  private var rowsCompared = 0L
  private var planted = 0L
  private var found = 0L
  private var fsDelta: CountingFs.Snap = _

  private def srcDir(d: Int) = dir.resolve("src").resolve(s"day$d")
  private def martDir = dir.resolve("mart")
  private def lineitemDir = dir.resolve("src").resolve("lineitem")

  def prepare(root: Path): Unit = {
    dir = root
    gen = Gen.warehouse(ctx.seed, EtlScale, Days)
    wh = new ParquetWarehouse(dir.resolve("wh").toString)
    val shared = dir.resolve("src").resolve("shared")
    val suppBytes = Gen.write(shared.resolve("supplier.jsonl"), gen.supplierJson)
    val partBytes = Gen.write(shared.resolve("part.jsonl"), gen.partJson)
    srcBytes = new Array[Long](gen.days.size)
    srcRows = new Array[Long](gen.days.size)
    gen.days.foreach { d =>
      srcBytes(d.index) = Gen.write(srcDir(d.index).resolve("orders.csv"), d.ordersCsv) +
        Gen.write(srcDir(d.index).resolve("customer.csv"), gen.customerCsv(d)) +
        suppBytes + partBytes + d.lines.map(_.text.length + 1L).sum
      srcRows(d.index) = d.orders.size + d.lines.size + EtlScale.customers +
        EtlScale.suppliers + EtlScale.parts
    }
  }

  /** The parquet extracts (every day's lineitem in one write, a directory
    * per day; the static nation table), then warehouse seeding: day 0's
    * extracts land (nothing reads day 0's marts). */
  def seed(): Unit = {
    val lineRows = gen.days.flatMap(d => d.lines.map(l => Row.fromSeq(lineRow(l).toSeq :+ d.index)))
    spark.createDataFrame(java.util.Arrays.asList(lineRows: _*),
        LineitemContract.add(StructField("day", IntegerType)))
      .repartition(col("day")).write.partitionBy("day").parquet(lineitemDir.toString)
    val nation = spark.createDataFrame(java.util.Arrays.asList(
      gen.nation.map { case (k, n, r) => Row(k, n, r) }: _*),
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
    ParquetIO.write(nation, martDir.resolve("nation.parquet").toString)
    land(gen.days(0))
  }

  private def sourcePath(d: Gen.Day, entity: String): String = entity match {
    case "supplier" | "part" => dir.resolve("src").resolve("shared").resolve(s"$entity.jsonl").toString
    case "orders" | "customer" => srcDir(d.index).resolve(s"$entity.csv").toString
    case "lineitem" => lineitemDir.resolve(s"day=${d.index}").toString
  }

  /** Ingest one day's extracts; returns the drift reports. */
  private def land(d: Gen.Day): Map[String, graft.schema.DriftReport] = {
    val rd = RunDate(d.date)
    Entities.map { case (entity, contract, keys) =>
      val path = sourcePath(d, entity)
      val res = op(s"ingest.$entity", "pipelines") {
        val src: DataFrame = entity match {
          case "orders" | "customer" => Csv.readInferred(spark, path)
          case "supplier" | "part" => Jsonl.read(spark, path, contract)
          case _ => ParquetIO.read(spark, path)
        }
        Ingestion.ingest(src, entity, contract, keys, rd, wh)
      }
      entity -> res.map(_.drift)
    }.collect { case (e, Some(r)) => e -> r }.toMap
  }

  /** Build every mart over the staged snapshot of day `d`. */
  private def marts(d: Gen.Day): Unit = {
    // the marts read the warehouse's staging snapshot: point the mart
    // directory at the files each staging read resolves to
    Entities.foreach { case (entity, _, _) =>
      val files = wh.readStaging(spark, entity).inputFiles
        .map(f => new org.apache.hadoop.fs.Path(f).getParent.toUri.getPath).distinct
      require(files.length == 1, s"staging $entity spans ${files.length} directories")
      val link = martDir.resolve(s"$entity.parquet")
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, java.nio.file.Paths.get(files.head))
    }
    Marts.all.foreach { m =>
      op(s"mart.${m.name}", "pipelines")(Marts.materialize(spark, martDir.toString, m, RunDate(d.date), wh))
    }
  }

  /** Time one graft call as an operation; a throw counts as failed. */
  private def op[T](name: String, layer: String)(body: => T): Option[T] = {
    ctx.attempted += 1
    try Some(tracer.time(layer, name)(body))
    catch { case e: Exception =>
      ctx.failed += 1
      ctx.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      None
    }
  }

  private def history(date: java.time.LocalDate): DataFrame =
    wh.readHistory(spark, "orders").filter(col("day_dt") === lit(java.sql.Date.valueOf(date)))
      .drop("day_dt")

  /** One full day: land, build marts, reconcile against yesterday, check. */
  private def runDay(d: Gen.Day): Unit = {
    val drift = land(d)
    marts(d)
    driftPlanted += d.drift.size
    drift.foreach { case (entity, r) =>
      if (!r.isClean) driftSeen += 1
      d.drift.filter(_.entity == entity) match {
        case Some(p) => ctx.check(r.added == Seq(p.column) && r.missing.isEmpty && r.typeChanged.isEmpty,
          s"day ${d.index} $entity drift report $r, planted trailing ${p.column}")
        case None => ctx.check(r.isClean, s"day ${d.index} $entity drift report $r on a clean extract")
      }
    }
    val today = history(d.date)
    val yesterday = history(d.date.minusDays(1))
    op("reconcile.diff", "reconcile") {
      val res = Reconcile.diff(today, yesterday, Seq("o_orderkey"))
      val counts = res.rowCounts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cols = res.cellMismatches.select("column_name").distinct().collect().map(_.getString(0)).toSet
      (counts, cols)
    }.foreach { case (counts, cols) =>
      val want = Map("source_only" -> d.inserted.size.toLong, "target_only" -> d.deleted.size.toLong,
        "mismatched_rows" -> d.updated.size.toLong)
      want.foreach { case (k, v) =>
        ctx.check(counts.get(k).contains(v), s"day ${d.index} diff $k=${counts.get(k)} want $v")
        found += math.min(v, counts.getOrElse(k, 0L))
        planted += v
      }
      ctx.check(cols == Set("o_totalprice", "o_orderpriority"), s"day ${d.index} diff columns $cols")
      rowsCompared += counts.getOrElse("source_rows", 0L) + counts.getOrElse("target_rows", 0L)
    }
    op("reconcile.bucket_diff", "reconcile") {
      Reconcile.bucketDiff(today, yesterday, BucketCols).select("bucket").collect().map(_.getLong(0)).toSet
    }.foreach { got =>
      def bucket(o: Gen.Order) = Gen.hash60(s"${o.key}|${o.cust}|${o.status}|${o.priority}") % 256
      val changed = d.inserted ++ d.deleted ++ d.updated.flatMap { case (a, b) => Seq(a, b) }
      val want = changed.map(bucket).toSet
      ctx.check(got == want, s"day ${d.index} bucketDiff flagged ${got.size} buckets, planted ${want.size}")
    }
  }

  /** Day 1 in full, checks included: the first full day runs about twice a
    * steady one. */
  def warmup(): Unit = runDay(gen.days(1))

  private def reset(): Unit = {
    daysRun = 0; driftSeen = 0; driftPlanted = 0; rowsCompared = 0; planted = 0; found = 0
  }

  /** Replays the load days from day 2 on, so every phase sees the same
    * days (a replayed day overwrites its own history partitions). Reports
    * the median day. */
  def measure(seconds: Double): Map[String, Double] = {
    reset()
    var next = 2
    var last = next
    val fs0 = CountingFs.snap()
    var busyNs = 0L
    val perDay = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)] // (ms, rows/s)
    while (busyNs < seconds * 1e9) {
      val d = gen.days(next)
      val t0 = System.nanoTime()
      tracer.time("pipelines", "day")(runDay(d))
      val dt = System.nanoTime() - t0
      busyNs += dt
      perDay += ((dt / 1e6, srcRows(d.index) / (dt / 1e9)))
      System.err.println(f"perfbench: day ${d.index}%d ${dt / 1e6}%.0f ms")
      daysRun += 1
      last = d.index
      next = if (next == Days) 2 else next + 1
    }
    fsDelta = CountingFs.snap() - fs0
    ctx.check(driftSeen == driftPlanted, s"drift detected $driftSeen times, planted $driftPlanted")
    Map(
      "throughput_per_s" -> Stats.median(perDay.map(_._2).toSeq),
      "latency_ms" -> Stats.median(perDay.map(_._1).toSeq),
      "ops_ok_ratio" -> (ctx.attempted - ctx.failed).toDouble / math.max(1L, ctx.attempted),
      "recall" -> (if (planted == 0) 0.0 else found.toDouble / planted),
      "bytes_per_input_byte" -> dayBytes(gen.days(last)).toDouble / srcBytes(last))
  }

  /** Warehouse bytes on disk that one load day leaves: its history
    * partitions (`day_dt=<date>`) plus the staging snapshot, which holds the
    * latest day. Independent of how many days have landed. */
  private def dayBytes(d: Gen.Day): Long = {
    val files = Files.walk(dir.resolve("wh"))
    try files.filter(p => Files.isRegularFile(p)).mapToLong { p =>
      val parts = dir.resolve("wh").relativize(p).toString.split('/')
      val day = parts.find(_.startsWith("day_dt="))
      if (day.isEmpty || day.contains(s"day_dt=${d.date}")) Files.size(p) else 0L
    }.sum()
    finally files.close()
  }

  def finish(): Unit = ()

  def perLayer(): Map[String, Double] = {
    val n = math.max(1, daysRun).toDouble
    val jobs = ctx.layers.all
    def jobS(p: JobFacts => Boolean) = jobs.filter(p).map(_.seconds).sum / n
    val etlJobs = jobs.filter(j => j.span.startsWith("ingest.") || j.span.startsWith("mart."))
    Entities.map { case (e, _, _) => s"pipelines.ingest_s.$e" -> tracer.total(s"ingest.$e") / n }.toMap ++
      Marts.all.map(m => s"pipelines.mart_s.${m.name}" -> tracer.total(s"mart.${m.name}") / n) ++
      Map(
        "connect.staging_write_s" -> jobS(_.method == "writeStaging"),
        "connect.history_write_s" -> jobS(_.method == "appendHistory"),
        "validate.gate_s" -> jobS(_.layer == "validate"),
        "validate.gate_jobs" -> jobs.count(_.layer == "validate") / n,
        "pipelines.shuffle_bytes" -> etlJobs.map(_.shuffleBytes).sum / n,
        "pipelines.spill_bytes" -> etlJobs.map(_.spillBytes).sum / n,
        "reconcile.diff_s" -> tracer.total("reconcile.diff") / n,
        "reconcile.bucket_diff_s" -> tracer.total("reconcile.bucket_diff") / n,
        "reconcile.rows_compared" -> rowsCompared / n,
        "schema.drift_detected" -> driftSeen.toDouble,
        "schema.drift_planted" -> driftPlanted.toDouble,
        "connect.files_written" -> fsDelta.creates / n,
        "connect.bytes_written" -> fsDelta.bytesWritten / n,
        "pipelines.days" -> daysRun.toDouble)
  }
}

object Etl {
  /** Load days after the seed day: day 1 warms up, days 2.. are timed. */
  val Days = 4
  val EtlScale = Gen.Scale(customers = 1000, suppliers = 100, parts = 2000, orders = 8000,
    insertsPerDay = 20, deletesPerDay = 10, updatesPerDay = 20)
  val BucketCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  private def f(n: String, t: DataType) = StructField(n, t)
  /** Contracts carry the types CSV and JSON inference give these extracts,
    * so a clean day reports no drift. */
  val OrdersContract = StructType(Seq(f("o_orderkey", IntegerType), f("o_custkey", IntegerType),
    f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", DateType),
    f("o_orderpriority", StringType)))
  val CustomerContract = StructType(Seq(f("c_custkey", IntegerType), f("c_name", StringType),
    f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType)))
  val SupplierContract = StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
    f("s_nationkey", LongType), f("s_acctbal", DoubleType)))
  val PartContract = StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
    f("p_brand", StringType), f("p_type", StringType), f("p_size", LongType),
    f("p_retailprice", DoubleType)))
  val LineitemContract = StructType(Seq(f("l_lineid", LongType), f("l_orderkey", LongType),
    f("l_partkey", LongType), f("l_suppkey", LongType), f("l_linenumber", IntegerType),
    f("l_quantity", DoubleType), f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
    f("l_tax", DoubleType), f("l_returnflag", StringType), f("l_linestatus", StringType),
    f("l_shipdate", DateType)))

  /** (entity, contract, unique keys) in the reference DAG's ingest order.
    * Lineitem keys on the generated line id: `(l_orderkey, l_linenumber)`
    * is not unique in this data. */
  val Entities: Seq[(String, StructType, Seq[String])] = Seq(
    ("supplier", SupplierContract, Seq("s_suppkey")),
    ("part", PartContract, Seq("p_partkey")),
    ("customer", CustomerContract, Seq("c_custkey")),
    ("orders", OrdersContract, Seq("o_orderkey")),
    ("lineitem", LineitemContract, Seq("l_lineid")))

  def lineRow(l: Gen.Line): Row = Row(l.id, l.order, l.part, l.supp, l.lineNo, l.qty, l.price,
    l.discount, l.tax, l.returnFlag, l.lineStatus, java.sql.Date.valueOf(l.shipDate))
}

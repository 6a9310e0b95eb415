package perfbench

import java.nio.file.Path
import java.time.LocalDate
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.connect.{Csv, ParquetWarehouse, Serve}

/** `serve_api`: independent dashboard users, an open loop at a fixed
  * offered rate, then a closed loop of [[ServeApi.Threads]] clients for the
  * highest sustainable rate. Requests read dated CSV extracts through
  * `Serve.records` with HS256 bearer tokens (about 5% expired or forged),
  * or look up one customer's orders of one day in a multi-day warehouse
  * history through `readHistory` (partition-pruned). Dates favour recent
  * days and customers a hot set. */
final class ServeApi(ctx: Ctx) extends Workload {
  import ServeApi._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val json = new ObjectMapper()
  private var gen: Gen.Warehouse = _
  private var exportsRoot: String = _
  private var wh: ParquetWarehouse = _
  private val verified = new ConcurrentHashMap[(String, LocalDate), Seq[String]]()
  private var cursor = 0
  private var requests: Vector[Gen.Request] = Vector.empty

  // counters of the current phase
  private val badSent = new AtomicLong
  private val badRefused = new AtomicLong
  private val replyBytes = new AtomicLong
  private val exportMs = new ConcurrentLinkedQueue[Double]()
  private val lookupMs = new ConcurrentLinkedQueue[Double]()
  private var fixed: Stats.Phase = _
  private var capacityDone = 0L
  private var fsDelta: CountingFs.Snap = _

  private def latest: LocalDate = Gen.FirstDay.plusDays(HistoryDays - 1L)
  private val now = Gen.FirstDay.plusDays(HistoryDays.toLong).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  private val verifier = Serve.hs256Verifier(Secret, () => now)

  private var root: Path = _

  /** Dated CSV extracts (the files the reference's v2 endpoints serve) for
    * every day of the window, rendered by the generator. */
  def prepare(dir: Path): Unit = {
    root = dir
    gen = Gen.warehouse(ctx.seed, ServeScale, HistoryDays - 1)
    exportsRoot = root.resolve("exports").toString
    gen.days.foreach { d =>
      Seq("orders" -> d.ordersCsv, "customer" -> gen.customerCsv(d)).foreach { case (kw, text) =>
        Gen.write(java.nio.file.Paths.get(Csv.datedPath(s"$exportsRoot/{date}/${kw}_{date}.csv", d.date)),
          text)
      }
    }
    requests = Gen.requests(ctx.seed, 20000, latest, HistoryDays, Keywords.keys.toVector.sorted,
      ServeScale.customers, Secret, now)
    cursor = 0
    verified.clear()
  }

  /** The multi-day order history the lookups read. */
  def seed(): Unit = {
    wh = new ParquetWarehouse(root.resolve("wh").toString)
    val histSchema = StructType(Etl.OrdersContract.fields :+ StructField("day_dt", DateType))
    val histRows = gen.days.flatMap { d =>
      val dt = java.sql.Date.valueOf(d.date)
      d.orders.map(o => Row(o.key, o.cust, o.status, o.total, java.sql.Date.valueOf(o.date),
        o.priority, dt))
    }
    wh.appendHistory(spark.createDataFrame(java.util.Arrays.asList(histRows: _*), histSchema),
      "orders")
  }

  /** The first `Limit` data rows of an extract, split into fields. */
  private def expected(kw: String, date: LocalDate): Vector[Array[String]] = {
    val d = gen.days((date.toEpochDay - Gen.FirstDay.toEpochDay).toInt)
    val text = if (kw == "orders") d.ordersCsv else gen.customerCsv(d)
    text.linesIterator.slice(1, 1 + Limit).map(_.split(',')).toVector
  }

  private def take(n: Int): Vector[Gen.Request] = {
    val out = Vector.tabulate(n)(i => requests((cursor + i) % requests.size))
    cursor = (cursor + n) % requests.size
    out
  }

  /** Serve one request; returns false when it failed. */
  private def serve(r: Gen.Request): Boolean = r match {
    case Gen.ExportRead(kw, date, token, valid) =>
      if (!valid) badSent.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val reply = tracer.time("connect", "serve.records") {
          Serve.records(spark, exportsRoot, kw, date, Keywords(kw), Limit, token, verifier)
        }
        exportMs.add((System.nanoTime() - t0) / 1e6)
        replyBytes.addAndGet(reply.iterator.map(_.length.toLong).sum)
        if (!valid) { ctx.fail(s"bad token accepted for $kw $date"); false }
        else checkExport(kw, date, reply)
      } catch {
        case _: Serve.Unauthorized if !valid => badRefused.incrementAndGet(); true
        case e: Exception =>
          ctx.fail(s"records $kw $date: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          false
      }
    case Gen.HistoryLookup(date, cust) =>
      val t0 = System.nanoTime()
      try {
        val reply = tracer.time("connect", "history.read") {
          wh.readHistory(spark, "orders")
            .filter(col("day_dt") === lit(java.sql.Date.valueOf(date)) && col("o_custkey") === cust)
            .select("o_orderkey", "o_orderpriority", "o_totalprice").toJSON.collect()
        }
        lookupMs.add((System.nanoTime() - t0) / 1e6)
        replyBytes.addAndGet(reply.iterator.map(_.length.toLong).sum)
        val got = reply.map { s =>
          val n = json.readTree(s)
          (n.get("o_orderkey").asInt, n.get("o_orderpriority").asText, n.get("o_totalprice").asDouble)
        }.toSet
        val day = gen.days((date.toEpochDay - Gen.FirstDay.toEpochDay).toInt)
        val want = day.orders.filter(_.cust == cust).map(o => (o.key, o.priority, o.total)).toSet
        val ok = got == want && got.size == reply.length
        if (!ok) ctx.fail(s"history $date cust $cust: ${got.size} rows, want ${want.size}")
        ok
      } catch {
        case e: Exception =>
          ctx.fail(s"history $date: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          false
      }
  }

  /** A valid reply equals a direct read of the exported snapshot: the first
    * reply per file is compared field by field, later ones to the first. */
  private def checkExport(kw: String, date: LocalDate, reply: Seq[String]): Boolean = {
    val prior = verified.get((kw, date))
    if (prior != null) {
      val ok = prior == reply
      if (!ok) ctx.fail(s"records $kw $date: reply differs from an earlier reply")
      return ok
    }
    val schema = Keywords(kw)
    val rows = expected(kw, date)
    var ok = reply.size == rows.size
    reply.iterator.zip(rows.iterator).foreach { case (s, want) =>
      val n = json.readTree(s)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val w = want(i)
        val v = n.get(f.name)
        val same =
          if (v == null || v.isNull) w.isEmpty
          else f.dataType match {
            case _: NumericType => val x = w.toDouble
              math.abs(v.asDouble - x) <= 1e-9 * math.max(1.0, math.abs(x))
            case _ => v.asText == w
          }
        ok &&= same
      }
    }
    if (ok) verified.putIfAbsent((kw, date), reply)
    else ctx.fail(s"records $kw $date: reply differs from the exported file")
    ok
  }

  /** Open loop: request i is due at `offsets(i)` after the start; each of
    * the worker threads takes the next request, waits for its due time if
    * it is early, and serves it. */
  private def openLoop(reqs: Vector[Gen.Request], offsets: Array[Long]): (Seq[Stats.Timing], Int) = {
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[Stats.Timing]()
    val failed = new AtomicInteger(0)
    val t0 = System.nanoTime() + 2000000L
    val workers = (0 until Threads).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val due = t0 + offsets(i)
          var now = System.nanoTime()
          val slept = now < due
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val start = System.nanoTime()
          if (!serve(reqs(i))) failed.incrementAndGet()
          out.add(Stats.Timing(due, start, System.nanoTime(), slept))
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
    (out.asScala.toSeq, failed.get)
  }

  /** Closed loop: every thread serves back to back until the deadline. */
  private def closedLoop(seconds: Double): (Long, Int, Double) = {
    val reqs = take(20000)
    val next = new AtomicInteger(0)
    val done = new AtomicLong
    val failed = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val workers = (0 until Threads).map { _ =>
      val t = new Thread(() => {
        while (System.nanoTime() < end) {
          if (!serve(reqs(next.getAndIncrement() % reqs.size))) failed.incrementAndGet()
          done.incrementAndGet()
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
    (done.get, failed.get, (System.nanoTime() - t0) / 1e9)
  }

  def warmup(): Unit = {
    val reqs = take(WarmupRequests)
    openLoop(reqs, Array.tabulate(reqs.size)(_ => 0L))
  }

  def measure(seconds: Double): Map[String, Double] = {
    Seq(badSent, badRefused, replyBytes).foreach(_.set(0))
    exportMs.clear(); lookupMs.clear()
    val fs0 = CountingFs.snap()
    val fixedS = seconds * FixedShare
    val n = math.max(1, (FixedRate * fixedS).toInt)
    val reqs = take(n)
    val offsets = Gen.arrivals(ctx.seed + cursor, n, FixedRate)
    val (timings, fixedFailed) = openLoop(reqs, offsets)
    fixed = Stats.Phase(timings)
    val (done, capFailed, capS) = closedLoop(seconds - fixedS)
    capacityDone = done
    fsDelta = CountingFs.snap() - fs0
    ctx.attempted += n + done
    ctx.failed += fixedFailed + capFailed
    Map(
      "throughput_per_s" -> done / capS,
      "latency_ms" -> Stats.median(fixed.latencies),
      "ops_ok_ratio" -> (n + done - fixedFailed - capFailed).toDouble / (n + done),
      "recall" -> (if (badSent.get == 0) 1.0 else badRefused.get.toDouble / badSent.get),
      "bytes_per_input_byte" -> fsDelta.bytesRead.toDouble / math.max(1L, replyBytes.get))
  }

  def finish(): Unit = {
    // a refused token raises Unauthorized before graft touches a file
    Seq("expired" -> Serve.issueToken(Secret, "dashboard", now - 60),
        "forged" -> Serve.issueToken(Secret + "-wrong", "dashboard", now + 3600)).foreach {
      case (kind, token) =>
        val before = CountingFs.snap()
        val refused = try {
          Serve.records(spark, exportsRoot, "orders", latest, Keywords("orders"), Limit, token, verifier)
          false
        } catch { case _: Serve.Unauthorized => true }
        val d = CountingFs.snap() - before
        ctx.check(refused, s"$kind token was not refused")
        ctx.check(d.reads == 0 && d.bytesRead == 0, s"$kind token: file system touched before refusal: $d")
    }
  }

  def perLayer(): Map[String, Double] = {
    val reqs = math.max(1L, fixed.timings.size + capacityDone).toDouble
    val tail = Stats.tail(fixed.latencies, Seq(99, 95, 90))
    Map(
      "connect.serve_call_ms" -> Stats.median(exportMs.asScala.toSeq),
      "connect.history_read_ms" -> Stats.median(lookupMs.asScala.toSeq),
      "connect.fs_list_ops" -> fsDelta.lists / reqs,
      "connect.fs_read_ops" -> (fsDelta.opens + fsDelta.stats) / reqs,
      "connect.serve_wait_ms" -> Stats.median(fixed.timings.map(_.waitMs)),
      "connect.generator_late_ms" -> {
        val late = fixed.timings.filter(_.slept).map(_.generatorLateMs)
        if (late.isEmpty) 0.0 else late.sum / late.size
      },
      "connect.serve_tail_ms" -> tail.map(_._2).getOrElse(0.0),
      "connect.serve_tail_pct" -> tail.map(_._1).getOrElse(0.0),
      "connect.serve_requests" -> fixed.timings.size.toDouble,
      "connect.serve_backlog" -> (if (fixed.growingBacklog(LimitMs)) 1.0 else 0.0))
  }
}

object ServeApi {
  val Threads = 4
  val HistoryDays = 7
  val Limit = 200
  /** Offered rate of the open-loop phase, requests per second. */
  val FixedRate = 8.0
  val FixedShare = 0.55
  /** Latency limit the open-loop phase is judged against. */
  val LimitMs = 250.0
  val WarmupRequests = 40
  val Secret = "perfbench-hs256-secret"
  /** Served extracts and the contracts `Serve.records` reads them with. */
  val Keywords: Map[String, StructType] =
    Map("orders" -> Etl.OrdersContract, "customer" -> Etl.CustomerContract)
  val ServeScale = Gen.Scale(customers = 1000, suppliers = 50, parts = 1000, orders = 5000,
    insertsPerDay = 50, deletesPerDay = 25, updatesPerDay = 50)
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a graft layer. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into graft. Timing always runs
  * (the workloads need it for their end-to-end metrics); spans are only
  * kept, and Spark jobs only tagged with their span, when tracing is on. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var spark: SparkSession = _
  /** While false, spans are timed but not kept (the untimed phases). */
  @volatile var recording = true

  def span[T](layer: String, name: String)(body: => T): (T, Span) = {
    val parent = current.get
    val id = ids.incrementAndGet()
    val open = Span(id, if (parent == null) 0 else parent.id, layer, name, System.nanoTime(), 0)
    current.set(open)
    val sc = if (enabled && spark != null) spark.sparkContext else null
    if (sc != null) sc.setLocalProperty(Tracer.SpanKey, s"$layer|$name")
    try {
      val out = body
      val done = open.copy(endNs = System.nanoTime())
      if (enabled && recording) spans.add(done)
      (out, done)
    } finally {
      current.set(parent)
      if (sc != null)
        sc.setLocalProperty(Tracer.SpanKey, if (parent == null) null else s"${parent.layer}|${parent.name}")
    }
  }

  def time[T](layer: String, name: String)(body: => T): T = span(layer, name)(body)._1

  /** Total seconds of kept spans with this name. */
  def total(name: String): Double = spans.asScala.filter(_.name == name).map(_.seconds).sum

  /** Spans, then the Spark jobs attributed to layers, one JSON object a line. */
  def writeJsonl(path: java.nio.file.Path, jobs: Seq[JobFacts]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.obj(Seq("kind" -> "span", "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    } ++ jobs.map { j =>
      Json.obj(Seq("kind" -> "job", "layer" -> j.layer, "method" -> j.method, "span" -> j.span,
        "seconds" -> j.seconds, "run_ms" -> j.runTimeMs, "gc_ms" -> j.gcMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val Modules = Set("core", "connect", "schema", "validate", "pipelines",
    "reconcile", "ops", "functions", "plans")

  /** Layer and method of the first `graft.<module>` frame of a call site
    * (`StageInfo.details`), e.g. `graft.connect.ParquetWarehouse.writeStaging`
    * gives ("connect", "writeStaging"). */
  def graftFrame(details: String): Option[(String, String)] =
    details.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") && Modules.contains(l.split('.')(1)) =>
        val call = l.takeWhile(_ != '(')
        (l.split('.')(1), call.substring(call.lastIndexOf('.') + 1))
    }
}

/** Per-job facts gathered by [[LayerListener]]. */
final case class JobFacts(layer: String, method: String, span: String, seconds: Double,
                          runTimeMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)

/** Assigns every Spark job to a layer: the first `graft.<module>` frame of
  * its call site, else the layer of the benchmark span that ran it. Sums
  * task run time, GC, shuffle writes and spills per job. */
final class LayerListener extends SparkListener {
  private final class Open(val layer: String, val method: String, val span: String,
                           val start: Long) {
    val run = new AtomicLong; val gc = new AtomicLong
    val shuffle = new AtomicLong; val spill = new AtomicLong
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[JobFacts]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("none|none")
    val frame = e.stageInfos.sortBy(_.stageId).reverseIterator
      .flatMap(s => Tracer.graftFrame(s.details)).toSeq.headOption
    val (layer, method) = frame.getOrElse((span.takeWhile(_ != '|'), "-"))
    open.put(e.jobId, new Open(layer, method, span.dropWhile(_ != '|').drop(1), e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val job = stageJob.get(e.stageId)
    val o = if (job == null) null else open.get(job.intValue)
    if (o != null) {
      o.run.addAndGet(m.executorRunTime)
      o.gc.addAndGet(m.jvmGCTime)
      o.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      o.spill.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o != null)
      jobs.add(JobFacts(o.layer, o.method, o.span, (e.time - o.start) / 1e3,
        o.run.get, o.gc.get, o.shuffle.get, o.spill.get))
  }

  def all: Seq[JobFacts] = jobs.asScala.toSeq

  /** Listener events arrive asynchronously: wait until every started job
    * has ended (at most five seconds), then a little longer for the
    * query-execution events queued behind them. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (!open.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}

/** Planning phases of every executed query (analysis, optimization,
  * physical planning), from `QueryExecution.tracker`. */
final class PlanListener extends QueryExecutionListener {
  val planningNs = new AtomicLong
  val queries = new AtomicLong

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ns = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      .map(p => p.durationMs).sum * 1000000L
    planningNs.addAndGet(ns)
    queries.incrementAndGet()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Local file system that counts the calls graft makes through Hadoop's
  * FileSystem API. Installed as `fs.file.impl` for every run; the counters
  * are process-wide. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { stats.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingFs {
  val lists = new AtomicLong
  val stats = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong

  /** Bytes read and written through every `file:` FileSystem instance. */
  def bytes: (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  final case class Snap(lists: Long, stats: Long, opens: Long, creates: Long,
                        bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(lists - o.lists, stats - o.stats, opens - o.opens,
      creates - o.creates, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
    def reads: Long = lists + stats + opens
  }
  def snap(): Snap = {
    val (r, w) = bytes
    Snap(lists.get, stats.get, opens.get, creates.get, r, w)
  }
}

/** Shared handle on the JVM-wide measurements. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size of this process in MB (`VmHWM`). */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def startMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case null => "null"
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

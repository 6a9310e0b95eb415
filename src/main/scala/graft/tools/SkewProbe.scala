package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Stage-level skew audit for one registry query (guide §2.5): runs the
  * query once and prints, per stage, task count, median/max task time,
  * the max/median ratio, and median/max shuffle-read bytes — the
  * numbers that decide whether a hot key needs salting (ratio > ~5-10×
  * on a stage with meaningful shuffle read) or the stage is merely
  * small-task noise.
  *
  * Usage: runMain graft.tools.SkewProbe <query> [sfDir] [minStageMs]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: SkewProbe <query> [sfDir] [minStageMs]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val minStageMs = args.lift(2).map(_.toLong).getOrElse(200L)
    val spark = graft.core.Sessions.local(appName = "graft-skewprobe")
    spark.sparkContext.setLogLevel("ERROR")

    val taskTimes = new java.util.concurrent.ConcurrentHashMap[
      Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val buf = taskTimes.computeIfAbsent(e.stageId,
            _ => scala.collection.mutable.ArrayBuffer.empty)
          val sr = Option(m.shuffleReadMetrics)
            .map(s => s.localBytesRead + s.remoteBytesRead).getOrElse(0L)
          buf.synchronized { buf += ((m.executorRunTime, sr)) }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageNames.put(e.stageInfo.stageId,
          e.stageInfo.name.takeWhile(_ != '\n').take(60))
    })

    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    Thread.sleep(1000) // let the listener bus drain (private API in 4.x)

    def med(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    println(f"[skew] $name at $sfDir — stages with max task >= ${minStageMs}ms:")
    println(f"[skew] ${"stage"}%-7s ${"tasks"}%-6s ${"medMs"}%-8s ${"maxMs"}%-8s ${"ratio"}%-7s ${"medShufMB"}%-10s ${"maxShufMB"}%-10s name")
    import scala.jdk.CollectionConverters._
    val rows = taskTimes.asScala.toSeq.sortBy(_._1).flatMap { case (sid, buf) =>
      val ts = buf.map(_._1).toSeq
      val srs = buf.map(_._2).toSeq
      val mx = if (ts.isEmpty) 0L else ts.max
      if (mx < minStageMs) None
      else {
        val md = med(ts).max(1L)
        Some((sid, ts.size, med(ts), mx, mx.toDouble / md,
          med(srs) / 1e6, srs.max / 1e6,
          stageNames.getOrDefault(sid, "?")))
      }
    }
    rows.foreach { case (sid, n, md, mx, r, ms, xs, nm) =>
      println(f"[skew] $sid%-7d $n%-6d $md%-8d $mx%-8d $r%-7.2f $ms%-10.1f $xs%-10.1f $nm")
    }
    val worst = rows.sortBy(-_._5).headOption
    worst.foreach { case (sid, _, md, mx, r, _, _, nm) =>
      println(f"[skew] WORST ratio=$r%.2f stage=$sid med=${md}ms max=${mx}ms ($nm)")
    }
    spark.stop()
  }
}

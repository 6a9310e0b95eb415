package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sessions

/** `Sessions.local` is the only session factory, so what it pins is what
  * every main runs with. Spark applies session extensions and static
  * confs only when the SparkContext is created, and this test JVM shares
  * one bare context ([[SparkSpec]]), so each session here is built in a
  * child JVM ([[SessionsProbe]]) that reports what it got. */
class SessionsSpec extends AnyFunSuite {

  private def probe(cores: Option[Int], env: (String, String)*): Map[String, String] = {
    // this JVM's flags minus its heap size and its -Dspark.* defaults, so
    // every setting checked below has to come from Sessions.local itself
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Dspark."))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.SessionsProbe") ++
      cores.map(_.toString)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().remove("SPARK_GRAFT_CPUS")
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
    assert(p.waitFor() == 0, s"probe JVM failed:\n$out")
    out.linesIterator.collect { case s"probe $k=$v" => k -> v }.toMap
  }

  private def assertEngineSession(got: Map[String, String], n: Int): Unit = {
    assert(got("master") == s"local[$n]")
    assert(got("spark.sql.shuffle.partitions") == n.toString)
    assert(got("spark.sql.session.timeZone") == "UTC")
    for ((k, v) <- Sessions.joinTuning) assert(got(k) == v, k)
    assert(got("trimJoinNormalized") == "true",
      "GraftExtensions' NormalizeTrimJoins did not rewrite a trim join")
  }

  test("a Sessions.local(n) session carries GraftExtensions, the join " +
    "tuning, UTC and n shuffle partitions") {
    assertEngineSession(probe(Some(3)), 3)
  }

  test("the default core count comes from SPARK_GRAFT_CPUS") {
    assertEngineSession(probe(None, "SPARK_GRAFT_CPUS" -> "2"), 2)
  }
}

/** Child-JVM half of [[SessionsSpec]]: builds `Sessions.local(n)` (or the
  * default when no argument is given) and prints `probe key=value` lines. */
object SessionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = args.headOption.fold(Sessions.local())(n => Sessions.local(n.toInt))
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.trim
      import org.apache.spark.sql.catalyst.expressions.StringTrim
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone") ++
        Sessions.joinTuning.map(_._1)
      val l = spark.sparkContext.parallelize(Seq((" a ", 1)), 1).toDF("k", "lv")
      val r = spark.sparkContext.parallelize(Seq(("a", 2)), 1).toDF("rk", "rv")
      val joins = l.join(r, trim(l("k")) === trim(r("rk")))
        .queryExecution.optimizedPlan.collect { case j: Join => j }
      val normalized = joins.nonEmpty &&
        joins.forall(!_.condition.exists(_.exists(_.isInstanceOf[StringTrim])))
      println(s"probe master=${spark.sparkContext.master}")
      keys.foreach(k => println(s"probe $k=${spark.conf.get(k)}"))
      println(s"probe trimJoinNormalized=$normalized")
    } finally spark.stop()
  }
}

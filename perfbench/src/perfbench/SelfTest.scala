package perfbench

/** The benchmark's own tests: generator determinism, the percentile rule,
  * open-loop due-time accounting and call-site attribution. Needs no Spark
  * session. Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    val small = Gen.Scale(customers = 50, suppliers = 5, parts = 40, orders = 300,
      insertsPerDay = 4, deletesPerDay = 3, updatesPerDay = 5)

    test("same seed gives byte-identical warehouse inputs") {
      eq(Gen.warehouse(7, small, 4).digest, Gen.warehouse(7, small, 4).digest)
    }
    test("another seed gives other inputs") {
      assert(Gen.warehouse(7, small, 4).digest != Gen.warehouse(8, small, 4).digest)
    }
    test("planted changes match the day-over-day snapshots") {
      val w = Gen.warehouse(3, small, 4)
      w.days.sliding(2).foreach { case Seq(a, b) =>
        val before = a.orders.map(o => o.key -> o).toMap
        val after = b.orders.map(o => o.key -> o).toMap
        eq(after.keySet -- before.keySet, b.inserted.map(_.key).toSet)
        eq(before.keySet -- after.keySet, b.deleted.map(_.key).toSet)
        eq(after.keySet.intersect(before.keySet).filter(k => after(k) != before(k)),
          b.updated.map(_._2.key).toSet)
      }
      eq(w.days.flatMap(_.drift).size, 1)
      assert(w.days(2).drift.isDefined, "drift not on the first timed day")
      val d = w.days(2).drift.get
      val text = if (d.entity == "orders") w.days(2).ordersCsv else w.customerCsv(w.days(2))
      eq(text.takeWhile(_ != '\n').split(',').last, d.column)
    }
    test("lineitem keeps non-unique (orderkey, linenumber) with unique line ids") {
      val lines = Gen.warehouse(11, small.copy(orders = 3000), 2).days(0).lines
      assert(lines.groupBy(l => (l.order, l.lineNo)).exists(_._2.size > 1), "no repeated pair")
      eq(lines.map(_.id).distinct.size, lines.size)
    }
    test("request schedule and arrivals are deterministic") {
      val d = java.time.LocalDate.of(2024, 6, 7)
      def reqs(s: Long) = Gen.requests(s, 500, d, 7, Vector("a", "b"), 100, "k", 1000L)
      eq(reqs(5), reqs(5))
      assert(reqs(5) != reqs(6))
      eq(Gen.arrivals(5, 100, 40.0).toSeq, Gen.arrivals(5, 100, 40.0).toSeq)
    }
    test("about 5% of export tokens are bad, and only those") {
      val d = java.time.LocalDate.of(2024, 6, 7)
      val now = 1000000L
      val verify = graft.connect.Serve.hs256Verifier("k", () => now)
      val ex = Gen.requests(9, 20000, d, 7, Vector("a"), 100, "k", now)
        .collect { case e: Gen.ExportRead => e }
      ex.foreach(e => eq(verify(e.token), e.valid))
      val bad = ex.count(!_.valid).toDouble / ex.size
      assert(bad > 0.035 && bad < 0.065, s"bad share $bad")
    }
    test("corpus is deterministic and its planted truth holds") {
      val c = Gen.corpus(4, 2000, 50, 60)
      eq(c, Gen.corpus(4, 2000, 50, 60))
      val text = c.docs.map(d => d._1 -> d._2).toMap
      def norm(s: String) = s.trim.toLowerCase.split("\\s+").mkString(" ")
      c.exactCopies.foreach(id => assert(c.docs.exists(d => d._1 < id && norm(d._2) == norm(text(id)))))
      eq(c.nearPairs.size, 60)
      c.nearPairs.foreach { case (a, b) => assert(Gen.jaccard(text(a), text(b)) >= 0.85) }
    }
    test("hash60 twin matches md5 prefix") {
      // md5("a") = 0cc175b9c0f1b6a831c399e269772661; first 15 hex digits
      eq(Gen.hash60("a"), java.lang.Long.parseLong("0cc175b9c0f1b6a", 16))
    }
    test("percentile needs ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs, 90), Some(90.0))
      eq(Stats.percentile(xs, 95), None)
      eq(Stats.percentile((1 to 1000).map(_.toDouble), 99), Some(990.0))
      eq(Stats.percentile((1 to 999).map(_.toDouble), 99), None)
      eq(Stats.percentile((1 to 19).map(_.toDouble), 50), None)
      eq(Stats.tail((1 to 200).map(_.toDouble), Seq(99, 95, 90)), Some(95.0 -> 190.0))
    }
    test("open-loop latency counts from the due time") {
      val t = Stats.Timing(dueNs = 1000000L, startNs = 5000000L, endNs = 7000000L, slept = false)
      eq(t.latencyMs, 6.0); eq(t.serviceMs, 2.0); eq(t.waitMs, 4.0); eq(t.generatorLateMs, 0.0)
      eq(t.copy(slept = true).generatorLateMs, 4.0)
      eq(Stats.Timing(5000000L, 4000000L, 6000000L, slept = false).waitMs, 0.0)
    }
    test("a stalled server builds a backlog") {
      val ms = 1000000L
      // 200 requests due every 10 ms, served in 5 ms: no backlog
      val steady = (0 until 200).map(i => Stats.Timing(i * 10 * ms, i * 10 * ms, i * 10 * ms + 5 * ms, slept = true))
      assert(!Stats.Phase(steady).growingBacklog(50))
      // served in 15 ms each, one at a time: every request waits longer
      val slow = (0 until 200).map(i => Stats.Timing(i * 10 * ms, i * 15 * ms, i * 15 * ms + 15 * ms, slept = false))
      assert(Stats.Phase(slow).growingBacklog(50))
    }
    test("call sites attribute to the first graft module frame") {
      val details = Seq("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)",
        "graft.connect.ParquetWarehouse.writeStaging(Warehouse.scala:57)",
        "graft.pipelines.Ingestion$.ingest(Ingestion.scala:40)",
        "perfbench.Etl.land(Etl.scala:90)").mkString("\n")
      eq(Tracer.graftFrame(details), Some("connect" -> "writeStaging"))
      eq(Tracer.graftFrame("perfbench.Etl.run(Etl.scala:1)"), None)
    }
    args.headOption.foreach { path =>
      test("BENCHMARK.json lists exactly the metrics the runs print") {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
        def list(key: String, fields: String*) = {
          val it = root.get(key).elements()
          val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
          while (it.hasNext) { val n = it.next(); out += fields.map(f => n.get(f).asText) }
          out.toSeq
        }
        eq(list("end_to_end", "name", "unit"), Main.EndToEnd.map { case (n, u) => Seq(n, u) })
        eq(list("per_layer", "name", "unit", "better"), Main.PerLayer.map { case (n, u, b) => Seq(n, u, b) })
      }
    }
    println(s"$passed passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}

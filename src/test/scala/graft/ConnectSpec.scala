package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.connect.{Csv, Jsonl, Orc, ParquetWarehouse, Rest, SourceRegistry}
import graft.core.RunDate
import graft.pipelines.Ingestion
import graft.validate.DuplicateException

class ConnectSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val contract = StructType(Seq(
    StructField("SALE_ID", LongType),
    StructField("AMOUNT", DoubleType),
    StructField("STATUS", StringType)))

  test("contract-first CSV read: no inference, drifted headers conform by name") {
    val dir = tmpDir("graft_csv")
    Files.writeString(java.nio.file.Path.of(dir, "sales.csv"),
      "sale id ,Amount,status,extra\n1,9.5,OK,x\n2,3.25,OK,y\n")
    // schema-first read of the raw text shape
    val raw = Csv.readInferred(spark, s"$dir/sales.csv")
    val conformed = graft.schema.SchemaOps.conformByName(raw, contract)
    val rows = conformed.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(rows.toSet == Set((1L, 9.5, "OK"), (2L, 3.25, "OK")))
  }

  test("datedPath resolves {date} template") {
    assert(Csv.datedPath("gs://bucket/{date}/sales_{date}.csv",
      java.time.LocalDate.of(2024, 6, 1)) ==
      "gs://bucket/20240601/sales_20240601.csv")
  }

  test("REST JSON source: fake transport, contract projection, bearer header") {
    val body = """{"data":[{"SALE_ID":1,"AMOUNT":5.5,"STATUS":"OK"},
                 |        {"SALE_ID":2,"AMOUNT":6.5,"STATUS":"OK"}]}""".stripMargin
    val df = Rest.readData(spark, "http://fake/api", contract, _ => body)
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(Rest.bearer("tok") == Map("Authorization" -> "Bearer tok"))
  }

  test("oauth password-grant extracts the bearer token from the form POST") {
    var seen: (String, String) = null
    val fake: Rest.HttpPost = { (url, form) =>
      seen = (url, form)
      """{"access_token": "tok123", "token_type": "bearer"}"""
    }
    val hdrs = Rest.oauthPasswordGrant("http://fake/token", "u ser", "p&w", fake)
    assert(hdrs == Map("Authorization" -> "Bearer tok123"))
    assert(seen._1 == "http://fake/token")
    assert(seen._2 == "grant_type=password&username=u+ser&password=p%26w")
    intercept[IllegalStateException] {
      Rest.oauthPasswordGrant("http://fake/token", "u", "p", (_, _) => "{}")
    }
  }

  test("source registry dispatches and rejects unknown sources") {
    val reg = SourceRegistry.empty
      .withSource("corpus")((s, arg) => graft.core.Tables.load(s, sf, arg))
    assert(reg.read(spark, "corpus", "region").count() > 0)
    val e = intercept[IllegalArgumentException](reg.read(spark, "nope", "x"))
    assert(e.getMessage.contains("corpus"))
  }

  test("ingestion: conform + gates + two-layer snapshot write, history accumulates") {
    import spark.implicits._
    val wh = new ParquetWarehouse(tmpDir("graft_wh"))
    val day1 = Seq((1L, 5.0, "OK"), (2L, 6.0, "OK")).toDF("sale id", "amount", "status")
    val day2 = Seq((3L, 7.0, "OK")).toDF("sale id", "amount", "status")

    val r1 = Ingestion.ingest(day1, "sales", contract, Seq("SALE_ID"),
      RunDate("2024-06-01"), wh)
    assert(r1.rows == 2 && r1.drift.isClean)
    Ingestion.ingest(day2, "sales", contract, Seq("SALE_ID"),
      RunDate("2024-06-02"), wh)

    // staging holds only the latest run; history accumulates both
    assert(wh.readStaging(spark, "sales").count() == 1)
    val hist = wh.readHistory(spark, "sales")
    assert(hist.count() == 3)
    // day_dt partition pruning: filter reads one partition
    assert(hist.filter($"day_dt" === "2024-06-01").count() == 2)
  }

  test("marts materialize snapshots into warehouse history with gates") {
    val wh = new ParquetWarehouse(tmpDir("graft_marts"))
    val counts = graft.pipelines.Marts.runAll(spark, sf, RunDate("2024-06-01"), wh)
    assert(counts.keySet == Set("supplier_performance", "product_performance",
      "customer_sales_report"))
    assert(counts.values.forall(_ > 0))
    val sp = wh.readHistory(spark, "supplier_performance")
    assert(sp.count() == counts("supplier_performance"))
    assert(sp.columns.contains("day_dt"))
  }

  test("marts materialize through an env-routed warehouse (dev prefixes)") {
    val root = tmpDir("graft_marts_env")
    val wh = new ParquetWarehouse(root, graft.core.EnvSchema("dev"))
    val counts = graft.pipelines.Marts.runAll(spark, sf, RunDate("2024-06-01"), wh)
    assert(counts.values.forall(_ > 0))
    assert(new java.io.File(s"$root/dev_legacy/supplier_performance").exists())
    assert(!new java.io.File(s"$root/legacy").exists(), "nothing may leak to prod paths")
    assert(wh.readHistory(spark, "supplier_performance").count() ==
      counts("supplier_performance"))
  }

  test("marts rebuilt over a re-pointed input in one session match a cold build") {
    import java.nio.file.Paths
    import org.apache.spark.sql.functions.col
    import graft.pipelines.Marts
    // a mart directory of per-table links, the way a nightly run points
    // the marts at each day's snapshot: the paths stay fixed, the files
    // behind lineitem change between the two builds
    val root = Paths.get(tmpDir("graft_mart_repoint"))
    val marts = root.resolve("mart")
    Files.createDirectories(marts)
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders"))
      Files.createSymbolicLink(marts.resolve(s"$t.parquet"),
        Paths.get(s"$sf/$t.parquet"))
    val lineitem = marts.resolve("lineitem.parquet")
    Files.createSymbolicLink(lineitem, Paths.get(s"$sf/lineitem.parquet"))
    val half = root.resolve("lineitem_half").toString
    spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") % 2 === 0).write.parquet(half)

    def rows(m: Marts.Mart): Seq[String] =
      m.build(spark, marts.toString).collect().map(_.toString).toSeq.sorted
    spark.catalog.clearCache()
    val fullDay = Marts.all.map(rows)
    Files.delete(lineitem)
    Files.createSymbolicLink(lineitem, Paths.get(half))
    val warm = Marts.all.map(rows)
    spark.catalog.clearCache()
    val cold = Marts.all.map(rows)
    for ((m, i) <- Marts.all.zipWithIndex) {
      assert(cold(i) != fullDay(i), s"${m.name}: halving lineitem changed nothing")
      assert(warm(i) == cold(i), s"${m.name}: same-session rebuild served the earlier input's rows")
    }
  }

  test("mart gate catches the corpus's planted duplicate sale keys") {
    // the synthetic corpus contains duplicate (orderkey, linenumber)
    // pairs by design — a SALE_ID-only snapshot key must abort the load
    val wh = new ParquetWarehouse(tmpDir("graft_marts_dup"))
    val csrWithRefKey = graft.pipelines.Marts.Mart(
      "csr_refkey", Seq("sale_id"),
      (s, d) => graft.pipelines.CustomerSalesReport.build(s, d))
    intercept[DuplicateException] {
      graft.pipelines.Marts.materialize(spark, sf, csrWithRefKey,
        RunDate("2024-06-01"), wh)
    }
  }

  test("atomic staging publish: a crashed writer never tears the current snapshot") {
    import spark.implicits._
    val root = tmpDir("graft_atomic")
    val wh = new ParquetWarehouse(root)
    wh.writeStaging(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "sales")
    assert(wh.readStaging(spark, "sales").count() == 2)
    // simulate a writer that CRASHED mid-snapshot: a half-written version
    // directory exists (garbage bytes, no _SUCCESS) but the pointer swap
    // never happened — readers must keep seeing the old complete snapshot
    val torn = java.nio.file.Path.of(root, "raw", "sales_pre",
      "v99999999999999999999")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val rows = wh.readStaging(spark, "sales").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b")),
      "torn version dir must be invisible behind the pointer")
    // the next successful publish swaps cleanly past the debris
    wh.writeStaging(Seq((3L, "c")).toDF("id", "v"), "sales")
    assert(wh.readStaging(spark, "sales").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("idempotent daily history: a retried day heals its partial load") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val wh = new ParquetWarehouse(tmpDir("graft_idem_hist"))
    def day(d: String, ids: Long*) =
      ids.toDF("id").withColumn("day_dt", lit(java.sql.Date.valueOf(d)))
    // a crashed run left a PARTIAL day-1 load; the retry rewrites exactly
    // that day (dynamic partition overwrite), never double-loading it —
    // the reference's plain append would hold 3 day-1 rows after retry
    wh.appendHistory(day("2024-06-01", 1L), "sales")
    wh.appendHistory(day("2024-06-01", 1L, 2L), "sales")
    wh.appendHistory(day("2024-06-02", 3L), "sales")
    val hist = wh.readHistory(spark, "sales")
    assert(hist.filter($"day_dt" === "2024-06-01").count() == 2)
    assert(hist.filter($"day_dt" === "2024-06-02").count() == 1)
    assert(hist.count() == 3)
  }

  test("warehouse round-trips through a non-file URI scheme (object-store contract)") {
    import spark.implicits._
    // register a mock object-store scheme backed by the local FS: proves
    // every warehouse path operation goes through the Hadoop FileSystem
    // resolved from the PATH (scheme-agnostic), not java.io/java.nio
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockObjectStoreFs].getName)
    val root = "mockfs://" + tmpDir("graft_mockfs")
    val wh = new ParquetWarehouse(root)
    wh.writeStaging(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "sales")
    wh.appendHistory(Seq((1L, "a")).toDF("id", "v")
      .withColumn("day_dt",
        org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("2024-06-01"))),
      "sales")
    assert(wh.readStaging(spark, "sales").count() == 2)
    assert(wh.readHistory(spark, "sales").count() == 1)
    // second staging publish through the scheme swaps the pointer too
    wh.writeStaging(Seq((9L, "z")).toDF("id", "v"), "sales")
    assert(wh.readStaging(spark, "sales").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("backfill: date-range marts are idempotent and heal a torn day") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val wh = new ParquetWarehouse(tmpDir("graft_backfill"))
    // a cheap mart over the 5-row region table keeps the spec fast while
    // exercising the full materialize path (stamp + gate + day write)
    val tiny = graft.pipelines.Marts.Mart("region_counts", Seq("r_regionkey"),
      (s, d) => graft.core.Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name")))
    val out = graft.pipelines.Backfill.marts(spark, sf,
      "2024-06-01", "2024-06-03", wh, Seq(tiny))
    assert(out.map(_._1._1) == Seq("2024-06-01", "2024-06-02", "2024-06-03"))
    assert(out.forall(_._2 == 5L))
    val hist = wh.readHistory(spark, "region_counts")
    assert(hist.count() == 15)
    assert(hist.select("day_dt").distinct().count() == 3)
    // simulate a TORN middle day (a crashed run left one row), then
    // re-run JUST that day: the partial day heals, other days untouched
    wh.appendHistory(
      Seq((99L, "torn")).toDF("r_regionkey", "r_name")
        .withColumn("day_dt", lit(java.sql.Date.valueOf("2024-06-02"))),
      "region_counts")
    assert(wh.readHistory(spark, "region_counts").count() == 11)
    graft.pipelines.Backfill.marts(spark, sf,
      "2024-06-02", "2024-06-02", wh, Seq(tiny))
    val healed = wh.readHistory(spark, "region_counts")
    assert(healed.count() == 15)
    assert(healed.filter(col("day_dt") === "2024-06-02").count() == 5)
    // inverted range fails fast
    intercept[IllegalArgumentException] {
      graft.pipelines.Backfill.dateRange("2024-06-03", "2024-06-01")
    }
  }

  test("ingestion: duplicate gate aborts before any write") {
    import spark.implicits._
    val wh = new ParquetWarehouse(tmpDir("graft_wh_dup"))
    val dup = Seq((1L, 5.0, "OK"), (1L, 6.0, "OK")).toDF("sale_id", "amount", "status")
    intercept[DuplicateException] {
      Ingestion.ingest(dup, "sales", contract, Seq("SALE_ID"),
        RunDate("2024-06-01"), wh)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      wh.readStaging(spark, "sales").collect() // nothing was written
    }
  }

  /** `body`'s result and the number of Spark jobs it ran, counted by job
    * group. */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    val result = try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    (result, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("ingestion: one gate pass and the two writes, no count after them") {
    import spark.implicits._
    val wh = new ParquetWarehouse(tmpDir("graft_wh_jobs"))
    val day = Seq((1L, 5.0, "OK"), (2L, 6.0, "OK")).toDF("sale_id", "amount", "status")
    val (result, jobs) = withJobs(Ingestion.ingest(day, "sales", contract,
      Seq("SALE_ID"), RunDate("2024-06-01"), wh))
    assert(result.rows == 2)
    // the gate pass (building the frame's cache, which adaptive execution
    // runs as a job of its own, the grouped map stage and the violator
    // read) + staging write + history write; a separate empty probe,
    // duplicate probe and trailing count() made this 7
    assert(jobs == 5, s"$jobs jobs")
  }

  test("marts: the gate pass takes the row count, no count after the append") {
    import graft.pipelines.Marts
    val wh = new ParquetWarehouse(tmpDir("graft_marts_jobs"))
    val mart = Marts.all.find(_.name == "supplier_performance").get
    spark.catalog.clearCache() // build from the files, not another spec's cache
    val (rows, jobs) = withJobs(
      Marts.materialize(spark, sf, mart, RunDate("2024-06-01"), wh))
    assert(rows > 0 && rows == wh.readHistory(spark, mart.name).count())
    // the duplicate probe followed by a trailing count() made this 19
    assert(jobs == 17, s"$jobs jobs")
  }

  test("ingestion: an empty input aborts before any write") {
    import spark.implicits._
    val wh = new ParquetWarehouse(tmpDir("graft_wh_empty"))
    val empty = Seq.empty[(Long, Double, String)].toDF("sale_id", "amount", "status")
    val e = intercept[IllegalStateException] {
      Ingestion.ingest(empty, "sales", contract, Seq("SALE_ID"),
        RunDate("2024-06-01"), wh)
    }
    assert(e.getMessage == "empty input: sales")
    intercept[org.apache.spark.sql.AnalysisException] {
      wh.readStaging(spark, "sales").collect() // nothing was published
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      wh.readHistory(spark, "sales").collect()
    }
  }

  test("orc: partitioned write round-trips with schema intact") {
    import spark.implicits._
    val dir = tmpDir("graft_orc")
    val df = Seq((1L, "a", "2024-06-01"), (2L, "b", "2024-06-02"))
      .toDF("id", "v", "day")
    Orc.write(df, dir, partitionBy = Seq("day"))
    val back = Orc.read(spark, dir)
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("id", "v", "day"))
    assert(back.filter(org.apache.spark.sql.functions.col("day") === "2024-06-02")
      .select("v").as[String].collect().toSeq == Seq("b"))
  }

  test("jsonl: contract-first read and malformed-line routing") {
    val dir = tmpDir("graft_jsonl")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part.jsonl"),
      """{"id": 1, "v": "ok"}
        |this is not json
        |{"id": 2, "v": "also ok"}
        |""".stripMargin)
    val contract = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val r = Jsonl.readWithRejects(spark, dir, contract)
    try {
      assert(r.clean.count() == 2)
      assert(r.clean.columns.toSet == Set("id", "v"))
      val rejects = r.rejects.collect().map(_.getString(0))
      assert(rejects.length == 1 && rejects.head.contains("not json"))
    } finally r.release()
    // round-trip write
    Jsonl.write(r.clean, s"$dir/out")
    assert(Jsonl.read(spark, s"$dir/out", contract).count() == 2)
  }
}

/** Mock object-store scheme for the FS-contract spec: the local
  * filesystem surfaced under `mockfs://` URIs, so any code path that
  * secretly assumed `file://` (or java.io) fails loudly in the spec. */
class MockObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

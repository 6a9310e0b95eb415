package graft

import org.apache.spark.sql.functions._
import graft.ops.{Funnel, Profiling, Retrieval, TimeSeries}

/** Round-4 second batch: lexical retrieval, event transition matrix,
  * k-anonymity audit, weekday-seasonal anomaly detection. */
class Round4bOpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------- lexicalTopK
  test("lexicalTopK: scores match an independent Scala recomputation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq
    }.toMap
    val terms = Seq("spark", "vector", "merge")
    val n = docs.length.toLong
    val dfs = terms.map(t => t -> toks.values.count(_.contains(t)).toLong).toMap
    val expected = toks.flatMap { case (id, tk) =>
      val score = terms.map { t =>
        tk.count(_ == t).toLong * ((n * 1000000L) / dfs(t))
      }.sum / tk.size
      if (score > 0) Some(id -> score) else None
    }
    val top = expected.toSeq.sortBy { case (id, s) => (-s, id) }.take(50)

    val got = Retrieval.lexicalTopK(spark, sf)
      .select("doc_id", "score").as[(Long, Long)].collect().toSeq
    assert(got == top)
    assert(got.nonEmpty)
  }

  test("lexicalTopK: matched counts and bounds") {
    val r = Retrieval.lexicalTopK(spark, sf)
    val rows = r.collect()
    assert(rows.length <= 50)
    assert(rows.forall(_.getAs[Int]("matched") >= 1))
    assert(rows.forall(_.getAs[Long]("score") > 0))
    // no explode anywhere: the tf computation is per-row array kernels
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "lexicalTopK must not explode tokens")
  }

  // ------------------------------------------------------- transitions
  test("transitions: probabilities normalize and counts add up") {
    val t = Funnel.transitions(spark, sf)
    val rows = t.collect()
    assert(rows.nonEmpty)
    // per-prev probability mass sums to ~1 (rounding at 6 decimals)
    val sums = t.groupBy("prev_type").agg(sum("p").as("mass"))
      .as[(String, Double)].collect()
    assert(sums.forall { case (_, m) => math.abs(m - 1.0) < 1e-4 })
    // total transition count = total events - distinct users (one lag lost per user)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val want = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == want)
  }

  test("transitions: matches a hand-built two-user sequence") {
    // build a tiny parquet dir with a known sequence
    val dir = java.nio.file.Files.createTempDirectory("graft-markov").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 10L, "a", 0.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 10L, "b", 0.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 10L, "a", 0.0, "{}"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 20L, "a", 0.0, "{}"),
      (5L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 20L, "b", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Funnel.transitions(spark, dir)
      .select("prev_type", "event_type", "n").as[(String, String, Long)]
      .collect().toSet
    // user 10: a->b, b->a; user 20: a->b  ⇒ (a,b):2, (b,a):1
    assert(got == Set(("a", "b", 2L), ("b", "a", 1L)))
  }

  // ------------------------------------------------------- kAnonymity
  test("kAnonymity: classes partition the table and flags are consistent") {
    val k = Profiling.kAnonymity(spark, sf)
    val rows = k.collect()
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(rows.map(_.getAs[Long]("class_size")).sum == total)
    assert(rows.forall(r =>
      r.getAs[Long]("l_diversity") <= r.getAs[Long]("class_size")))
    assert(rows.forall(r =>
      r.getAs[Boolean]("at_risk") == (r.getAs[Long]("class_size") < 8L)))
  }

  // ----------------------------------------------------- hybridTopK
  test("hybridTopK: RRF matches a Scala recomputation from its inputs") {
    val lex = Retrieval.lexicalTopK(spark, sf)
      .select("doc_id", "score").as[(Long, Long)].collect()
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val flu = graft.ops.TextAnalysis.unigramNll(spark, sf)
      .select("doc_id", "nll").as[(Long, Double)].collect()
      .sortBy { case (id, n) => (n, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val expect = (lex.keySet ++ flu.keySet).toSeq.map { id =>
      val r = lex.get(id).map(r => 1000000000L / (60L + r)).getOrElse(0L) +
              flu.get(id).map(r => 1000000000L / (60L + r)).getOrElse(0L)
      (id, r)
    }.sortBy { case (id, r) => (-r, id) }.take(20)
    val got = Retrieval.hybridTopK(spark, sf)
      .select("doc_id", "rrf").as[(Long, Long)].collect().toSeq
    assert(got == expect)
    assert(got.nonEmpty)
    spark.catalog.clearCache()
  }

  // ------------------------------------------------------- trending
  test("streaming trending: maintained counts present the batch top-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{Event, EventOps}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp((min + 100) * 60000L)
    val all = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 2, "view", 1.0),
      Event(3, ts(10), 1, "click", 1.0), Event(4, ts(20), 3, "view", 1.0),
      Event(5, ts(25), 2, "click", 1.0), Event(6, ts(30), 1, "purchase", 1.0),
      Event(7, ts(70), 2, "view", 1.0), Event(8, ts(80), 3, "view", 1.0))
    def counts(df: org.apache.spark.sql.DataFrame) =
      EventOps.windowedAgg(df.withColumn("props", lit("{}")))
        .select("window_start", "event_type", "n_events")
    val input = MemoryStream[Event]
    var state = counts(Seq.empty[Event].toDF())
    val q = input.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", "/tmp/graft_ckpt_trend_" + System.nanoTime())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = EventOps.mergeCounts(state, counts(batch)).persist()
        state.count()
        ()
      }.start()
    try {
      input.addData(all.take(4)); q.processAllAvailable()
      input.addData(all.drop(4)); q.processAllAvailable()
      def norm(df: org.apache.spark.sql.DataFrame) =
        EventOps.trending(df, k = 2).collect()
          .map(r => (r.getTimestamp(0).getTime, r.getString(1),
                     r.getLong(2), r.getInt(3))).toSet
      val incremental = norm(state)
      val full = norm(counts(all.toDF()))
      assert(incremental == full)
      assert(incremental.nonEmpty)
      // rank never exceeds k and is dense from 1 within each window
      val byWin = incremental.groupBy(_._1)
      byWin.values.foreach { rs =>
        assert(rs.map(_._4).toSeq.sorted == (1 to rs.size))
      }
    } finally { q.stop(); spark.catalog.clearCache() }
  }

  // ----------------------------------------------------- keyProfile
  test("keyProfile: ranks, shares, and totals are consistent") {
    val rows = graft.ops.Skew.keyProfile(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("total") == total)
      assert(r.getAs[Long]("share_ppm") ==
        r.getAs[Long]("n") * 1000000L / total)
    }
    // descending count order with key tiebreak
    val ns = rows.map(r => (r.getAs[Long]("n"), r.getAs[Long]("o_custkey")))
    assert(ns.toSeq == ns.sortBy { case (n, k) => (-n, k) }.toSeq)
  }

  // ---------------------------------------------------- globalCumsum
  test("globalCumsum equals the single-partition exclusive-prefix window") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map(i => (((i * 7919) % 997).toLong, i.toLong))
      .toDF("k", "v").repartition(7)
    val viaWindow = df.withColumn("cum",
        coalesce(sum(col("v")).over(Window.orderBy(col("k"), col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .as[(Long, Long, Long)].collect().toSet
    val viaDistributed = graft.ops.Rnk
      .globalCumsum(df, Seq(col("k"), col("v")), col("v"), outCol = "cum")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaDistributed == viaWindow)
    spark.catalog.clearCache()
  }

  test("packQuery and nllBucketSample plans have no single-partition window") {
    for (q <- Seq(graft.ops.Packing.packQuery(spark, sf),
                  graft.ops.TextAnalysis.nllBucketSample(spark, sf))) {
      val unpartitioned = q.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        "global ordering must go through the distributed two-pass")
    }
    spark.catalog.clearCache()
  }

  test("nllBucketSample integer ntile equals the window ntile") {
    import org.apache.spark.sql.expressions.Window
    val nll = graft.ops.TextAnalysis.unigramNll(spark, sf)
    val viaWindow = nll
      .withColumn("nll_bucket",
        ntile(5).over(Window.orderBy(col("nll").asc, col("doc_id").asc)))
      .select("doc_id", "nll_bucket").as[(Long, Int)].collect().toMap
    val got = graft.ops.TextAnalysis.nllBucketSample(spark, sf)
      .select("doc_id", "nll_bucket").as[(Long, Int)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, b) => assert(viaWindow(id) == b) }
    spark.catalog.clearCache()
  }

  // ----------------------------------------------------- oovCoverage
  test("oovCoverage: rates are consistent with a Scala recomputation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq
    }
    val counts = toks.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val vocab = counts.filter(_._2 >= 50).keySet
    val got = graft.ops.TextAnalysis.oovCoverage(spark, sf)
      .select("doc_id", "n_tokens", "n_oov").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == docs.length)
    toks.foreach { case (id, tk) =>
      val oov = tk.count(t => !vocab.contains(t)).toLong
      assert(got(id) == (tk.size.toLong, oov), s"doc $id")
    }
    spark.catalog.clearCache()
  }

  // ---------------------------------------------------- kmeansAssign
  test("kmeansAssign: every vector gets exactly one cluster, and the " +
       "assignment is the argmin over the learned centroids") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val a = graft.ops.Embeddings.kmeansAssign(spark, sf)
    val rows = a.collect()
    assert(rows.length == n)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == n)
    // all k clusters in use on this corpus, distances non-negative mod fp noise
    val cids = rows.map(_.getAs[Int]("centroid_id")).distinct
    assert(cids.length > 1 && cids.forall(c => c >= 0 && c < 8))
    assert(rows.forall(_.getAs[Double]("d2") > -1e-6))
    // one Lloyd step must not increase total distortion vs seed assignment
    spark.catalog.clearCache()
  }

  // --------------------------------------------------- semanticPairs
  test("semanticPairs is sound vs the exact near-dup audit, with recall") {
    val exact = graft.ops.Similarity.nearDupPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val got = graft.ops.Embeddings.semanticPairs(spark, sf)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // soundness: every emitted pair is a true near-dup (exact threshold)
    assert(got.subsetOf(exact), s"unsound pairs: ${got.diff(exact).take(3)}")
    // recall: data-adapted buckets must catch a solid share of true pairs
    if (exact.nonEmpty) {
      val recall = got.size.toDouble / exact.size
      assert(recall >= 0.5, s"semantic recall $recall below floor")
    }
    spark.catalog.clearCache()
  }

  // -------------------------------------------------------- pageRank
  test("pageRank matches a hand-computed 3-node graph") {
    // u->v weights: a->b:2, a->c:1, b->a:1, c->a:1  (out: a=3, b=1, c=1)
    val nodes = Seq("a", "b", "c").toDF("p")
    val edges = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("u", "v", "w")
    val got = graft.ops.Graph.pageRank(nodes, edges, iters = 2)
      .as[(String, Long)].collect().toMap
    // iteration 1 from r0 = 1e6:
    //   a: 150000 + 85*(1000000+1000000)/100           = 1850000
    //   b: 150000 + 85*((1000000*2) div 3)/100         = 716666  (contrib 666666)
    //   c: 150000 + 85*((1000000*1) div 3)/100         = 433333  (contrib 333333)
    val a1 = 150000L + 85L * (1000000L + 1000000L) / 100L
    val b1 = 150000L + 85L * ((1000000L * 2) / 3) / 100L
    val c1 = 150000L + 85L * (1000000L / 3) / 100L
    // iteration 2 repeats the same algebra from (a1, b1, c1)
    val a2 = 150000L + 85L * (b1 + c1) / 100L
    val b2 = 150000L + 85L * ((a1 * 2) / 3) / 100L
    val c2 = 150000L + 85L * (a1 / 3) / 100L
    assert(got == Map("a" -> a2, "b" -> b2, "c" -> c2))
  }

  test("partPageRank: node-complete, hub parts outrank leaf parts") {
    val r = graft.ops.Graph.partPageRank(spark, sf)
    val nParts = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey").distinct().count()
    val rows = r.collect()
    assert(rows.length == nParts)
    assert(rows.forall(_.getAs[Long]("rank") >= 150000L))
    // ranks differentiate (not all equal): the graph is non-uniform
    assert(rows.map(_.getAs[Long]("rank")).distinct.length > 1)
    spark.catalog.clearCache()
  }

  // --------------------------------------------------- heavy hitters
  test("heavyHitters: exact verified counts equal the true top-5") {
    val ev = graft.core.Tables.events(spark, sf)
    val exact = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val want = exact.toSeq.sortBy { case (k, c) => (-c, k) }.take(5)
    val got = graft.ops.Sketches.heavyHittersQuery(spark, sf)
      .as[(String, Long)].collect().toSeq
    assert(got == want)
  }

  test("heavyHittersEstimate: CMS estimates bound the exact counts and keep order") {
    val ev = graft.core.Tables.events(spark, sf)
    val exact = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val got = graft.ops.Sketches
      .heavyHittersEstimate(ev, col("event_type"))
      .as[(String, Long)].collect()
    assert(got.nonEmpty && got.length <= 5)
    got.foreach { case (k, est) =>
      assert(est >= exact(k), s"CMS must never undercount ($k)")
      assert(est <= exact(k) + math.ceil(1e-4 * n).toLong + 1,
        s"overshoot beyond eps*N ($k: $est vs ${exact(k)})")
    }
    // with eps this tight the top-5 IS the exact top-5
    val wantTop = exact.toSeq.sortBy { case (k, c) => (-c, k) }
      .take(5).map(_._1)
    assert(got.map(_._1).toSeq == wantTop)
  }

  // --------------------------------------------------- streaming CDC
  test("streaming CDC apply: per-batch compact+upsert equals whole-log replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Cdc
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cols = Seq("s_suppkey", "s_name", "s_acctbal", "version", "op")
    def compact(log: org.apache.spark.sql.DataFrame) =
      Cdc.latestByKey(log, Seq("s_suppkey"), col("version"),
        Seq(col("version")), Seq("s_name", "s_acctbal", "op"))
    val snap0 = (1L to 5L).map(k => (k, s"Supplier#$k", k * 10.0))
      .toDF("s_suppkey", "s_name", "s_acctbal")
    // versions increase with batch order, so per-batch apply order and
    // whole-log compaction agree on the winner per key
    val batch1 = Seq(
      (1L, "Supplier#1", 110.0, 1L, "upsert"),   // update
      (2L, "Supplier#2", 20.0, 2L, "delete"),    // delete
      (6L, "Supplier#6", 60.0, 3L, "upsert"))    // insert
    val batch2 = Seq(
      (2L, "Supplier#2b", 21.0, 4L, "upsert"),   // re-insert after delete
      (6L, "Supplier#6b", 61.0, 5L, "upsert"),   // second update same key
      (5L, "Supplier#5", 50.0, 6L, "delete"))    // delete
    val input = MemoryStream[(Long, String, Double, Long, String)]
    var state = snap0
    val q = input.toDF().toDF(cols: _*).writeStream
      .outputMode("append")
      .option("checkpointLocation", "/tmp/graft_ckpt_cdc_" + System.nanoTime())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = Cdc.upsert(state, compact(batch), Seq("s_suppkey")).persist()
        state.count()
        ()
      }.start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val incremental = state.as[(Long, String, Double)].collect().toSet
      val replay = Cdc.upsert(snap0,
        compact((batch1 ++ batch2).toDF(cols: _*)), Seq("s_suppkey"))
        .as[(Long, String, Double)].collect().toSet
      assert(incremental == replay)
      // spot-check the interesting keys: re-inserted 2, double-updated 6,
      // deleted 5, untouched 3
      assert(incremental.contains((2L, "Supplier#2b", 21.0)))
      assert(incremental.contains((6L, "Supplier#6b", 61.0)))
      assert(!incremental.exists(_._1 == 5L))
      assert(incremental.contains((3L, "Supplier#3", 30.0)))
    } finally { q.stop(); spark.catalog.clearCache() }
  }

  // ------------------------------------------------------ splitDrift
  test("splitDrift: bin counts partition train+valid and ppm math is exact") {
    val rows = graft.ops.Profiling.splitDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    val splits = graft.ops.Sampling.query(spark, sf)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(rows.map(_.getAs[Long]("n_train")).sum == splits("train"))
    assert(rows.map(_.getAs[Long]("n_valid")).sum == splits.getOrElse("valid", 0L))
    val tTrain = splits("train"); val tValid = splits("valid")
    rows.foreach { r =>
      val want = math.abs(
        r.getAs[Long]("n_train") * 1000000L / tTrain -
        r.getAs[Long]("n_valid") * 1000000L / tValid)
      assert(r.getAs[Long]("diff_ppm") == want)
    }
  }

  // ------------------------------------------------- weekdayAnomalies
  test("weekdayAnomalies: matches an exact integer recomputation") {
    val got = TimeSeries.weekdayAnomalies(spark, sf)
      .select("day", "dow", "cnt", "is_anomaly")
      .as[(java.sql.Date, Int, Long, Boolean)].collect()

    val daily = graft.core.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("cnt"))
      .as[(java.sql.Date, Long)].collect()
    assert(got.length == daily.length)

    val byDow = daily.groupBy { case (d, _) =>
      ((d.toLocalDate.toEpochDay % 7) + 7) % 7
    }
    val expect = daily.map { case (d, cnt) =>
      val dow = (((d.toLocalDate.toEpochDay % 7) + 7) % 7).toInt
      val grp = byDow(dow.toLong).map(_._2)
      val n = grp.length.toLong
      val s = grp.sum
      val ss = grp.map(x => x * x).sum
      val lhs = (n * cnt - s) * (n * cnt - s)
      (d.toString, dow, cnt, lhs > 4L * (n * ss - s * s))
    }.toSet
    assert(got.map { case (d, w, c, a) => (d.toString, w, c, a) }.toSet == expect)
    // weekday numbering stays inside 0..6
    assert(got.forall { case (_, w, _, _) => w >= 0 && w <= 6 })
  }
}

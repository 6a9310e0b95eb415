package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.ops.{Exp, Jnr}
import graft.reconcile.Reconcile
import graft.validate.{DuplicateException, Validator}

/** Property-based invariants (SURVEY §5.2): duplicate-gate soundness,
  * reconcile identity, anti/semi-join complementarity, null-patch
  * idempotence — over generated data including nulls and empty strings. */
object GraftProperties extends Properties("graft") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // keep Spark-job counts modest: small collections, few samples
  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(8)

  private val keyGen: Gen[List[Int]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 1000)))

  property("duplicate gate passes iff keys are distinct") =
    forAll(keyGen) { keys =>
      val df = keys.zipWithIndex.toDF("k", "v")
      val hasDups = keys.distinct.size != keys.size
      val rows =
        try Some(Validator.requireUnique(df, Seq("k")))
        catch { case _: DuplicateException => None }
      rows.isEmpty == hasDups && rows.forall(_ == keys.size)
    }

  private val rowGen: Gen[List[(Int, Option[String])]] =
    Gen.chooseNum(1, 10).flatMap { n =>
      Gen.listOfN(n, for {
        k <- Gen.chooseNum(0, 50)
        v <- Gen.option(Gen.oneOf("", "x", "yy", "null"))
      } yield (k, v))
    }.map(_.distinctBy(_._1))

  property("reconcile identity: diff(df, df) is empty") =
    forAll(rowGen) { rows =>
      val df = rows.toDF("id", "v")
      val d = Reconcile.diff(df, df, Seq("id"))
      d.cellMismatches.isEmpty && d.sourceOnly.isEmpty && d.targetOnly.isEmpty
    }

  property("semi ∪ anti partitions the source exactly") =
    forAll(keyGen, keyGen) { (src, tgt) =>
      val s = src.distinct.toDF("k")
      val t = tgt.toDF("k")
      val semi = Jnr.semiByKey(s, t, Seq("k")).as[Int].collect().toSet
      val anti = Jnr.antiByKey(s, t, Seq("k")).as[Int].collect().toSet
      Prop(semi.intersect(anti).isEmpty) :| "disjoint" &&
        Prop(semi.union(anti) == src.distinct.toSet) :| "covering"
    }

  property("patchNulls is idempotent and total") =
    forAll(rowGen) { rows =>
      val df = rows.toDF("id", "v")
      val once = Exp.patchNulls(df, Map("v" -> "dflt"))
      val twice = Exp.patchNulls(once, Map("v" -> "dflt"))
      val a = once.collect().map(r => (r.getInt(0), r.getString(1))).toSet
      val b = twice.collect().map(r => (r.getInt(0), r.getString(1))).toSet
      a == b && a.forall(_._2 != null)
    }

  // z-order interleave: deinterleaving the key recovers both inputs —
  // the key is a bijection on the 16-bit × 16-bit grid (what makes
  // range-clustering on it equivalent to clustering both dims)
  property("zorderKey is invertible on the 16-bit grid") =
    forAll(Gen.listOfN(6, Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)))) { pts =>
      import org.apache.spark.sql.functions.col
      val rows = pts.toDF("x", "y")
        .withColumn("z", graft.ops.Layout.zorderKey(col("x"), col("y")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      rows.forall { case (x, y, z) =>
        val xs = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
        val ys = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
        xs == x && ys == y
      }
    }

  // SCD2: merging any snapshot twice (same asOf) is a no-op — the second
  // merge sees every change already applied
  private val snapGen: Gen[List[(Int, String)]] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0, 20), Gen.oneOf("a", "b", "c"))))
      .map(_.distinctBy(_._1))

  property("scd2 merge is idempotent for any snapshot") =
    forAll(snapGen, snapGen) { (init, snap) =>
      import org.apache.spark.sql.functions.{col, lit}
      val d1 = java.sql.Date.valueOf("2024-06-01")
      val d2 = java.sql.Date.valueOf("2024-06-02")
      val hist = init.toDF("k", "v")
        .withColumn("effective_from", lit(d1))
        .withColumn("effective_to", lit(null).cast("date"))
      val s = snap.toDF("k", "v")
      val once = graft.ops.Scd2.merge(hist, s, Seq("k"), Seq("v"), d2,
        closeMissing = true)
      val twice = graft.ops.Scd2.merge(once, s, Seq("k"), Seq("v"), d2,
        closeMissing = true)
      def set(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getString(1),
          String.valueOf(r.getDate(2)), String.valueOf(r.getDate(3)))).toSet
      set(once) == set(twice)
    }

  // binned range join is exactly the naive inequality join for ANY data
  // whose intervals respect the bin width — including negative domains,
  // empty intervals, bin-aligned boundaries, and duplicate timestamps
  property("rangeJoinBinned ≡ naive inequality join") = {
    import org.apache.spark.sql.functions.col
    val pointsGen = Gen.chooseNum(1, 20)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-100L, 100L)))
    val intervalsGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, for {
        s <- Gen.chooseNum(-100L, 100L)
        len <- Gen.chooseNum(0L, 10L) // binWidth below is 10
      } yield (s, s + len)))
    forAll(pointsGen, intervalsGen) { (pts, ivs) =>
      val left = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("lid", "p")
      val right = ivs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("rid", "s", "e")
      val got = Jnr.rangeJoinBinned(left, right,
          col("p"), col("s"), col("e"), binWidth = 10L)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = left.join(right, col("p") >= col("s") && col("p") < col("e"))
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      got == want
    }
  }

  // distributed exclusive prefix sum ≡ the single-partition window over
  // random data (duplicate sort keys broken by the value column)
  property("globalCumsum equals the global window for any data") = {
    val gen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(0L, 9L))))
    forAll(gen) { rows =>
      import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
      import org.apache.spark.sql.expressions.Window
      // disambiguate ties: order by (k, rid) where rid is unique
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "rid").repartition(5)
      val w = Window.orderBy(col("k"), col("rid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df
        .withColumn("cum", coalesce(sum(col("v")).over(w), lit(0L)))
        .select("rid", "cum").as[(Long, Long)].collect().toMap
      val got = graft.ops.Rnk
        .globalCumsum(df, Seq(col("k"), col("rid")), col("v"), outCol = "cum")
        .select("rid", "cum").as[(Long, Long)].collect().toMap
      spark.catalog.clearCache()
      got == want
    }
  }

  // stratified sampling returns a subset and is insensitive to row order
  property("stratified sample is an order-insensitive subset") =
    forAll(snapGen) { rows =>
      import org.apache.spark.sql.functions.col
      val df = rows.toDF("k", "s")
      val rates = Map("a" -> 0.5, "b" -> 1.0) // "c" dropped entirely
      def keys(d: org.apache.spark.sql.DataFrame) =
        graft.ops.Sampling.stratified(d, col("k"), col("s"), rates)
          .collect().map(r => (r.getInt(0), r.getString(1))).toSet
      val a = keys(df)
      val b = keys(rows.reverse.toDF("k", "s"))
      a == b && a.subsetOf(rows.toSet) && a.forall(_._2 != "c")
    }

  // Misra-Gries nomination guarantee: for ANY data, capacity, and
  // partitioning, every key whose global count exceeds N/m is nominated
  property("MG nomination covers every key with count > N/m, any partitioning") = {
    import org.apache.spark.sql.functions.col
    val gen = for {
      keys <- Gen.chooseNum(5, 60).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0, 15))) // few distinct keys => real heavies
      m <- Gen.chooseNum(2, 12)
      parts <- Gen.chooseNum(1, 7)
    } yield (keys, m, parts)
    forAll(gen) { case (keys, m, parts) =>
      val df = keys.map(k => s"k$k").toDF("k").repartition(parts)
      val cands = graft.ops.Sketches.nominate(df, col("k"), m)
        .collect().map(_.getString(0)).toSet
      val n = keys.size.toDouble
      val counts = keys.groupBy(identity).view.mapValues(_.size).toMap
      counts.forall { case (k, c) => c <= n / m || cands.contains(s"k$k") }
    }
  }

  // media codecs: write->decode round-trips for any parameters, and no
  // decoder ever throws or hangs on corrupt bytes (None/empty instead)
  property("ImageCodec: writePng/writeBmp round-trip any dimensions") = {
    val gen = for {
      w <- Gen.chooseNum(1, 80); h <- Gen.chooseNum(1, 60)
      r <- Gen.chooseNum(-128, 127); g <- Gen.chooseNum(-128, 127)
      b <- Gen.chooseNum(-128, 127)
    } yield (w, h, r.toByte, g.toByte, b.toByte)
    forAll(gen) { case (w, h, r, g, b) =>
      import graft.functions.ImageCodec
      ImageCodec.decode(ImageCodec.writePng(w, h, r, g, b))
        .contains(ImageCodec.ImageMeta("png", w, h, 3)) &&
      ImageCodec.decode(ImageCodec.writeBmp(w, h, r, g, b))
        .contains(ImageCodec.ImageMeta("bmp", w, h, 3))
    }
  }

  property("AudioCodec: writeWav round-trips rate/channels/samples") = {
    val gen = for {
      rate <- Gen.chooseNum(1000, 96000); ch <- Gen.chooseNum(1, 4)
      n <- Gen.chooseNum(0, 200)
    } yield (rate, ch, n)
    forAll(gen) { case (rate, ch, n) =>
      import graft.functions.AudioCodec
      AudioCodec.decode(AudioCodec.writeWav(rate, ch, n, (s, c) => (s + c).toShort))
        .contains(AudioCodec.AudioMeta("wav", rate, ch, 16, n.toLong,
                                       n.toLong * 1000 / rate))
    }
  }

  property("VideoCodec: writeAvi round-trips meta and exact frame bytes") = {
    val gen = for {
      w <- Gen.chooseNum(1, 64); h <- Gen.chooseNum(1, 48)
      us <- Gen.chooseNum(1, 100000)
      fs <- Gen.chooseNum(0, 6).flatMap(k => Gen.listOfN(k,
        Gen.chooseNum(0, 9).flatMap(len =>
          Gen.listOfN(len, Gen.chooseNum(-128, 127).map(_.toByte)))))
    } yield (w, h, us, fs.map(_.toArray))
    forAll(gen) { case (w, h, us, fs) =>
      import graft.functions.VideoCodec
      val bytes = VideoCodec.writeAvi(w, h, us, fs)
      val meta = VideoCodec.decodeMeta(bytes)
      val back = VideoCodec.frames(bytes)
      meta.contains(VideoCodec.VideoMeta("avi", w, h, us, fs.length)) &&
        back.length == fs.length &&
        back.zip(fs).forall { case (a, b) => a.sameElements(b) }
    }
  }

  property("codecs never throw on random or bit-flipped payloads") = {
    import graft.functions.{AudioCodec, ImageCodec, VideoCodec}
    val junk = Gen.chooseNum(0, 120).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))).map(_.toArray)
    // a valid payload with one corrupted byte: the adversarial case the
    // unsigned-cursor hardening exists for
    val flipped = for {
      pick <- Gen.chooseNum(0, 2)
      pos <- Gen.chooseNum(0, 10000)
      v <- Gen.chooseNum(-128, 127)
    } yield {
      val base = pick match {
        case 0 => ImageCodec.writePng(9, 7, 1, 2, 3)
        case 1 => AudioCodec.writeWav(8000, 1, 12, (_, _) => 5)
        case _ => VideoCodec.writeAvi(8, 6, 1000,
          Seq(Array[Byte](1, 2, 3), Array[Byte](4)))
      }
      val b = base.clone(); b(pos % b.length) = v.toByte; b
    }
    forAll(Gen.oneOf(junk, flipped)) { bytes =>
      // success = a value (possibly None/empty) comes back without throwing
      ImageCodec.decode(bytes)
      AudioCodec.decode(bytes)
      VideoCodec.decodeMeta(bytes)
      VideoCodec.frames(bytes)
      true
    }
  }

  // the same never-throw contract for every round-9 parser: GIF frames
  // and animation census, JPEG progressive streams, ISO-BMFF, WebP, PDF
  // census + extraction, tar members, WARC records — fed both random
  // junk and single-byte-corrupted valid payloads of each format
  property("round-9 codecs never throw on random or bit-flipped payloads") = {
    import graft.functions.{FlacCodec, GifCodec, IsoBmff, JpegCodec,
      OggCodec, PdfCodec, Vp8lCodec, WebpCodec}
    val junk = Gen.chooseNum(0, 160).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))).map(_.toArray)
    val flipped = for {
      pick <- Gen.chooseNum(0, 7)
      pos <- Gen.chooseNum(0, 100000)
      v <- Gen.chooseNum(-128, 127)
    } yield {
      val base = pick match {
        case 0 => GifCodec.writeGifAnimated(9, 7, 3, 5, 1,
          (f, x, y) => (f * 30 + x + y) % 256 * 0x010101)
        case 1 => JpegCodec.writeJpegProgressive(10, 9,
          Array.fill(10 * 9 * 3)(55.toByte), 85, restartInterval = 2)
        case 2 => IsoBmff.writeMp4("isom", 600, 1200, 2, mvhdV1 = false)
        case 3 => Vp8lCodec.writeWebpPixels(11, 8, (x, y) =>
          ((x * 31 + y) % 256) * 0x010101,
          Vp8lCodec.Vp8lOptions(subtractGreen = true, cacheBits = 3))
        case 4 => PdfCodec.writePdfWithText("1.5", Seq("a (b) \\c", "d"))
        case 5 => PdfCodec.writePdfWithText("1.5", Seq("a (b) \\c", "d"),
          flate = true)
        case 6 => FlacCodec.writeFlacPcm(44100, 2, 48,
          (s, c) => (s * 601 + c * 77 - 300).toShort,
          FlacCodec.FlacOpts(blockSize = 16, stereoMode = 3, subframe = 4,
            partOrder = 1, rice5 = true))
        case _ => OggCodec.writeOgg("vorbis", 2, 44100, 3, 100L)
      }
      val b = base.clone(); b(pos % b.length) = v.toByte; b
    }
    forAll(Gen.oneOf(junk, flipped)) { bytes =>
      GifCodec.decodePixels(bytes); GifCodec.decodeFrames(bytes)
      GifCodec.animMeta(bytes)
      JpegCodec.decodePixels(bytes); JpegCodec.stripMetadata(bytes)
      JpegCodec.samplingOf(bytes); JpegCodec.segmentTypes(bytes)
      IsoBmff.census(bytes)
      WebpCodec.meta(bytes)
      Vp8lCodec.decodePixels(bytes); Vp8lCodec.decodeArgb(bytes)
      PdfCodec.meta(bytes); PdfCodec.extractText(bytes)
      FlacCodec.meta(bytes); FlacCodec.decodePcm(bytes); OggCodec.meta(bytes)
      graft.functions.TiffCodec.meta(bytes)
      graft.functions.TiffCodec.decodePixels(bytes)
      graft.functions.ExifCodec.fromJpeg(bytes)
      graft.ops.Archives.tarMembersOf(bytes)
      graft.ops.Archives.warcRecordsOf(bytes)
      graft.ops.Archives.sniffCharset("text/html", bytes)
      true
    }
  }

  // salted join is the plain inner join for any data and salt count
  property("saltedJoin ≡ plain inner join, any salts") = {
    val gen = for {
      l <- Gen.chooseNum(0, 40).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 999))))
      r <- Gen.chooseNum(0, 20).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 8), Gen.alphaStr.map(_.take(4)))))
      salts <- Gen.chooseNum(1, 6)
    } yield (l, r, salts)
    forAll(gen) { case (l, r, salts) =>
      val left = l.toDF("k", "lv")
      val right = r.toDF("k", "rv")
      val want = left.join(right, Seq("k"))
        .collect().map(x => (x.getInt(0), x.getInt(1), x.getString(2)))
        .sorted.toSeq
      val got = Jnr.saltedJoin(left, right, Seq("k"), salts)
        .collect().map(x => (x.getInt(0), x.getInt(1), x.getString(2)))
        .sorted.toSeq
      got == want
    }
  }

  // CDC extract/upsert inverse law: for ANY two unique-keyed snapshots,
  // replaying the extracted feed over prev reproduces next exactly
  private val cdcSnapGen: Gen[List[(Int, Option[String], Int)]] =
    Gen.chooseNum(0, 12).flatMap { n =>
      Gen.listOfN(n, for {
        k <- Gen.chooseNum(0, 20)
        s <- Gen.option(Gen.oneOf("", "a", "bb"))
        v <- Gen.chooseNum(0, 5)
      } yield (k, s, v))
    }.map(_.distinctBy(_._1))

  property("Cdc.extract then upsert reproduces the target snapshot") =
    forAll(cdcSnapGen, cdcSnapGen) { (p, nx) =>
      val prev = p.toDF("k", "s", "v")
      val next = nx.toDF("k", "s", "v")
      val feed = graft.ops.Cdc.extract(prev, next, Seq("k"))
      // minimality: no feed row for a key whose row is identical
      val unchanged = p.toSet.intersect(nx.toSet).map(_._1)
      val feedKeys = feed.select("k").collect().map(_.getInt(0)).toSet
      val applied = graft.ops.Cdc.upsert(prev, feed, Seq("k"))
        .collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getInt(2)))
        .toSet
      Prop(applied == nx.toSet) :| "round-trip" &&
        Prop(feedKeys.intersect(unchanged).isEmpty) :| "minimal"
    }

  // bucketDiff: summaries are layout-independent — identical frames
  // diff empty under ANY partitioning, and dropping rows is always seen
  property("bucketDiff is partition-invariant and catches any loss") =
    forAll(Gen.chooseNum(1, 40), Gen.chooseNum(1, 7), Gen.chooseNum(1, 5)) {
      (n, parts, buckets) =>
        val rows = (1 to n).map(k => (k, s"r$k")).toDF("k", "s")
        val same = Reconcile.bucketDiff(rows, rows.repartition(parts),
          Seq("k", "s"), buckets)
        val lossy = Reconcile.bucketDiff(rows,
          rows.filter($"k" =!= 1).repartition(parts), Seq("k", "s"), buckets)
        Prop(same.isEmpty) :| "identical replicas" &&
          Prop(lossy.count() == 1L) :| "one lost row, one bucket"
    }

  // boundedRank: window-free rank equals the serial sort position for
  // any tie-free key set, under any partitioning
  property("boundedRank equals the sort position of its key") =
    forAll(Gen.chooseNum(1, 30), Gen.chooseNum(1, 5)) { (n, parts) =>
      // distinct keys via index-salted values: tie-free total order
      val rows = (1 to n).map(i => (i.toLong, (i * 37 % n).toLong * n + i))
      val df = rows.toDF("id", "key").repartition(parts)
      val got = graft.ops.Rnk.boundedRank(
          df, org.apache.spark.sql.functions.col("key"), "rank")
        .select($"id", $"rank").as[(Long, Long)].collect().toMap
      val want = rows.sortBy(_._2).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
      got == want
    }

  // compactionPlan: next-fit bins partition the manifest exactly under
  // any sizes/target/partitioning — counts and bytes are conserved and
  // file-id ranges are contiguous and disjoint
  property("compactionPlan conserves files and bytes in contiguous bins") =
    forAll(
      Gen.chooseNum(1, 25).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(1L, 50L))),
      Gen.chooseNum(5L, 60L), Gen.chooseNum(1, 5)) { (sizes, target, parts) =>
      val manifest = sizes.zipWithIndex.map { case (b, i) => (i.toLong, b) }
        .toDF("fid", "bytes").repartition(parts)
      val plan = graft.ops.Layout.compactionPlan(manifest,
          $"fid", $"bytes", target)
        .select($"bin", $"n_files", $"total_bytes", $"first_file", $"last_file")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      graft.core.Caches.release(spark)
      val cums = sizes.scanLeft(0L)(_ + _).init
      val want = sizes.indices.groupBy(i => cums(i) / target).toSeq
        .map { case (bin, idx) =>
          (bin, idx.size.toLong, idx.map(sizes).sum,
           idx.min.toLong, idx.max.toLong) }
        .sortBy(_._1)
      Prop(plan.toSeq == want) :| "matches serial next-fit" &&
        Prop(plan.map(_._2).sum == sizes.length.toLong) :| "file conservation" &&
        Prop(plan.map(_._3).sum == sizes.sum) :| "byte conservation"
    }

  // boundedRank tie guard: a frame with any duplicated key RAISES; a
  // tie-free frame never does (complement of the equality law above)
  property("boundedRank raises iff the key has ties") =
    forAll(Gen.chooseNum(1, 12), Gen.chooseNum(1, 3), Gen.oneOf(true, false)) {
      (n, parts, dup) =>
        val base = (1 to n).map(i => (i.toLong, i.toLong * 7))
        val rows = if (dup) base :+ base.head else base
        val df = rows.toDF("id", "key").repartition(parts)
        val threw =
          try {
            graft.ops.Rnk.boundedRank(df,
              org.apache.spark.sql.functions.col("key")).collect(); false
          } catch { case e: Throwable =>
            def m(t: Throwable): Boolean = t != null &&
              (Option(t.getMessage).exists(_.contains("tie-free")) || m(t.getCause))
            m(e)
          }
        graft.core.Caches.release(spark)
        threw == dup
    }

  // segment scrub laws: an empty index is identity (every segment
  // survives); the batch's own index drops everything
  property("segment scrub: empty index keeps all, self index drops all") =
    forAll(Gen.chooseNum(1, 5).flatMap(nd =>
      Gen.listOfN(nd, Gen.chooseNum(1, 70)))) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(w => s"t${i}_$w").mkString(" "))
      }.toDF("doc_id", "text")
      val empty = Seq.empty[String].toDF("seg_md5")
      val keptAll = graft.ops.IncrementalDedup
        .scrubSegments(spark, docs, empty)
        .select($"doc_id", $"n_segments", $"n_kept").as[(Long, Long, Long)]
        .collect()
      val selfIdx = graft.ops.IncrementalDedup.buildSegmentIndex(spark, docs)
      val keptNone = graft.ops.IncrementalDedup
        .scrubSegments(spark, docs, selfIdx)
        .select($"n_kept", $"kept_text").as[(Long, String)].collect()
      Prop(keptAll.forall { case (_, n, k) => n == k && n > 0 }) :| "identity" &&
        Prop(keptNone.forall { case (k, t) => k == 0L && t.isEmpty }) :| "self-drop"
    }

  // atomic staging: after any sequence of publishes, readers see exactly
  // the LAST complete snapshot (never a blend, never a partial)
  property("staging pointer swap: read equals the last publish") =
    forAll(Gen.chooseNum(1, 3).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(1, 8)))) { sizes =>
      val wh = new graft.connect.ParquetWarehouse(
        java.nio.file.Files.createTempDirectory("graft_prop_stg").toString)
      sizes.zipWithIndex.foreach { case (sz, gen) =>
        wh.writeStaging((1 to sz).map(i => (i.toLong, gen)).toDF("id", "gen"),
          "t")
      }
      val got = wh.readStaging(spark, "t")
        .as[(Long, Int)].collect().toSet
      val lastGen = sizes.length - 1
      got == (1 to sizes.last).map(i => (i.toLong, lastGen)).toSet
    }

  // idempotent daily history: per day, the LAST write wins; days never
  // interfere — the union over days of final writes is exactly history
  property("daily history: last write per day wins, days are independent") =
    forAll(Gen.chooseNum(1, 3), Gen.chooseNum(1, 3)) { (days, rewrites) =>
      val wh = new graft.connect.ParquetWarehouse(
        java.nio.file.Files.createTempDirectory("graft_prop_hist").toString)
      val dates = (1 to days).map(d => f"2024-06-$d%02d")
      for (d <- dates; r <- 1 to rewrites) {
        val rows = (1 to r).map(i => (i.toLong, d))
          .toDF("id", "tag")
          .withColumn("day_dt",
            org.apache.spark.sql.functions.lit(java.sql.Date.valueOf(d)))
        wh.appendHistory(rows, "t")
      }
      val got = wh.readHistory(spark, "t")
        .select("id", "tag").as[(Long, String)].collect().toSet
      val want = dates.flatMap(d => (1 to rewrites).map(i => (i.toLong, d))).toSet
      got == want
    }

  // Bloom prefilter is a plan optimization, never an answer change: for
  // any corpus/batch (overlapping token soups, forced-collision filter
  // sizing included), bloomClassify == the plain exact-probe semantics
  private val docGen: Gen[List[(Long, String)]] =
    Gen.chooseNum(1, 10).flatMap { n =>
      Gen.listOfN(n, for {
        id <- Gen.chooseNum(0, 60)
        words <- Gen.chooseNum(1, 4)
        toks <- Gen.listOfN(words, Gen.oneOf("alpha", "beta", "gamma", "delta"))
      } yield (id.toLong, toks.mkString(" ")))
    }.map(_.distinctBy(_._1))

  property("bloomClassify == exact probe for any corpus/batch") =
    forAll(docGen, docGen, Gen.oneOf(1L, 1000000L)) { (corpus, batch, items) =>
      val c = corpus.toDF("doc_id", "text")
      val b = batch.map { case (id, t) => (id + 1000L, t) }.toDF("doc_id", "text")
      val idx = graft.ops.IncrementalDedup.buildIndex(spark, c).fingerprints
      val got = graft.ops.IncrementalDedup.bloomClassify(spark, b, idx, items)
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      // reference semantics recomputed directly on the driver
      val norm = (t: String) => t.trim.toLowerCase.split("\\s+").mkString(" ")
      val minDup = corpus.groupBy(d => norm(d._2))
        .map { case (k, ds) => k -> ds.map(_._1).min }
      val want = batch.map { case (id, t) =>
        minDup.get(norm(t)) match {
          case Some(d) => (id + 1000L, "exact_dup", d)
          case None => (id + 1000L, "new", -1L)
        }
      }.toSet
      got == want
    }

  // pixel-level codec law: writePngPixels/writeBmpPixels → decodePixels
  // reproduces the exact raster for any dims and content
  property("pixel codecs round-trip arbitrary rasters (png + bmp)") =
    forAll(Gen.chooseNum(1, 24), Gen.chooseNum(1, 24), Gen.long) { (w, h, seed) =>
      import graft.functions.ImageCodec
      val rng = new scala.util.Random(seed)
      val px = Array.fill(h, w)(rng.nextInt(1 << 24))
      def f(x: Int, y: Int): Int = px(y)(x)
      def rgbOf(x: Int, y: Int, c: Int): Int = (px(y)(x) >>> (16 - 8 * c)) & 0xff
      Seq(ImageCodec.writePngPixels(w, h, f), ImageCodec.writeBmpPixels(w, h, f))
        .forall { bytes =>
          val d = ImageCodec.decodePixels(bytes).get
          d.width == w && d.height == h &&
            (0 until h * w * 3).forall { i =>
              (d.rgb(i) & 0xff) == rgbOf(i / 3 % w, i / 3 / w, i % 3)
            }
        }
    }

  // baseline JPEG law vs the independent ImageIO implementation: for any
  // raster, (a) our encoder's output is readable by ImageIO, and (b) on
  // ImageIO-encoded bytes our decoder agrees with ImageIO's decoder on
  // the full-resolution LUMA plane within IDCT rounding. (RGB is not
  // lawful across decoders: chroma-upsampling method is unspecified.)
  property("jpeg codec agrees with imageio on luma both directions") =
    forAll(Gen.chooseNum(9, 40), Gen.chooseNum(9, 40), Gen.long) { (w, h, seed) =>
      import graft.functions.{ImageCodec, JpegCodec}
      val rng = new scala.util.Random(seed)
      // smooth-ish content (8px cells): keeps quantization drift small so
      // the law bounds measure decoder agreement, not encoder loss
      val cells = Array.fill(6, 6)(rng.nextInt(256))
      def f(x: Int, y: Int): Int = {
        val g = cells(math.min(y / 8, 5))(math.min(x / 8, 5))
        (g << 16) | (g << 8) | g
      }
      def lum(r: Array[Byte], i: Int): Double =
        0.299 * (r(i * 3) & 0xff) + 0.587 * (r(i * 3 + 1) & 0xff) +
          0.114 * (r(i * 3 + 2) & 0xff)
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val c = f(x, y); val o = (y * w + x) * 3
        rgb(o) = (c >>> 16).toByte; rgb(o + 1) = (c >>> 8).toByte
        rgb(o + 2) = c.toByte
      }
      // (a) our encode -> imageio decode
      val ours = JpegCodec.writeJpeg(w, h, rgb, 95)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
      val aOk = img != null && img.getWidth == w && img.getHeight == h && {
        (0 until w * h).forall { i =>
          val c = img.getRGB(i % w, i / w)
          val il = 0.299 * ((c >> 16) & 0xff) + 0.587 * ((c >> 8) & 0xff) +
            0.114 * (c & 0xff)
          math.abs(il - lum(rgb, i)) <= 10.0
        }
      }
      // (b) imageio encode -> both decoders, luma agreement
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpeg", bos)
      val theirsBytes = bos.toByteArray
      val mine = ImageCodec.decodePixels(theirsBytes).get
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(theirsBytes))
      val bOk = mine.width == w && mine.height == h && {
        (0 until w * h).forall { i =>
          val c = ref.getRGB(i % w, i / w)
          val il = 0.299 * ((c >> 16) & 0xff) + 0.587 * ((c >> 8) & 0xff) +
            0.114 * (c & 0xff)
          math.abs(il - lum(mine.rgb, i)) <= 4.0
        }
      }
      aOk && bOk
    }

  // the same law for PROGRESSIVE (SOF2) streams: (a) our progressive
  // encoder is readable by ImageIO and decodes bit-identical to our
  // baseline twin; (b) on ImageIO's own progressive output (the classic
  // 10-scan libjpeg script: DC Al=1, spectral bands, DC+AC refinements,
  // EOBRUN) our decoder agrees with ImageIO's on luma
  property("progressive jpeg codec agrees with imageio both directions") =
    forAll(Gen.chooseNum(9, 40), Gen.chooseNum(9, 40), Gen.long) { (w, h, seed) =>
      import graft.functions.{ImageCodec, JpegCodec}
      val rng = new scala.util.Random(seed)
      val cells = Array.fill(6, 6)(rng.nextInt(256))
      def f(x: Int, y: Int): Int = {
        val g = cells(math.min(y / 8, 5))(math.min(x / 8, 5))
        (g << 16) | (g << 8) | g
      }
      def lum(r: Array[Byte], i: Int): Double =
        0.299 * (r(i * 3) & 0xff) + 0.587 * (r(i * 3 + 1) & 0xff) +
          0.114 * (r(i * 3 + 2) & 0xff)
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val c = f(x, y); val o = (y * w + x) * 3
        rgb(o) = (c >>> 16).toByte; rgb(o + 1) = (c >>> 8).toByte
        rgb(o + 2) = c.toByte
      }
      // (a) our progressive encode: ImageIO-readable + equals our baseline
      val prog = JpegCodec.writeJpegProgressive(w, h, rgb, 95)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(prog))
      val mineProg = JpegCodec.decodePixels(prog).get
      val baseTwin = JpegCodec.decodePixels(JpegCodec.writeJpeg(w, h, rgb, 95)).get
      val aOk = img != null && img.getWidth == w && img.getHeight == h &&
        mineProg.rgb.sameElements(baseTwin.rgb)
      // (b) ImageIO progressive encode -> both decoders, luma agreement
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, f(x, y))
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      writer.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bos))
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      writer.dispose()
      val theirsBytes = bos.toByteArray
      val mine = ImageCodec.decodePixels(theirsBytes).get
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(theirsBytes))
      val bOk = mine.width == w && mine.height == h && {
        (0 until w * h).forall { i =>
          val c = ref.getRGB(i % w, i / w)
          val il = 0.299 * ((c >> 16) & 0xff) + 0.587 * ((c >> 8) & 0xff) +
            0.114 * (c & 0xff)
          math.abs(il - lum(mine.rgb, i)) <= 4.0
        }
      }
      aOk && bOk
    }

  // centered corrMatrix: exact at magnitudes where the uncentered form
  // overflows DECIMAL(38,0) (huge mean offset, small variance) — r must
  // match an exact BigDecimal replay
  property("centered corrMatrix exact at adversarial magnitudes") =
    forAll(Gen.chooseNum(5, 30), Gen.long) { (n, seed) =>
      val rng = new scala.util.Random(seed)
      val offset = 500000000000000000L // 5e17: n·Σx² ≈ 4e38 uncentered
      val rows = (0 until n).map { i =>
        (offset + i * 7 + rng.nextInt(1000).toLong,
          offset + i * 13 + rng.nextInt(1000).toLong)
      }
      val df = rows.toDF("x", "y")
      val got = graft.ops.Stats
        .corrMatrixOf(df, Seq(("x", "x", 1L), ("y", "y", 1L)))
        .collect()(0).getDouble(2)
      // exact replay with BigInt moments (BigDecimal's default
      // MathContext.DECIMAL128 would round the 36-digit squares)
      val bx = rows.map(r => BigInt(r._1)); val by = rows.map(r => BigInt(r._2))
      val bn = BigInt(n)
      val sx = bx.sum; val sy = by.sum
      val sxx = bx.map(v => v * v).sum; val syy = by.map(v => v * v).sum
      val sxy = bx.zip(by).map { case (a, b) => a * b }.sum
      val num = (bn * sxy - sx * sy).toDouble
      val den = math.sqrt((bn * sxx - sx * sx).toDouble) *
        math.sqrt((bn * syy - sy * sy).toDouble)
      val want = BigDecimal(num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.abs(got - want) <= 1e-6
    }

  // BPE merge-order determinism: the same corpus produces the identical
  // merge sequence whatever the partitioning or input order — ties are
  // broken by (count desc, pair asc), never by arrival
  property("bpe merge sequence is partition- and order-independent") =
    forAll(Gen.chooseNum(4, 16), Gen.long) { (n, seed) =>
      val rng = new scala.util.Random(seed)
      val alphabet = "abcd"
      val words = (0 until n).map { _ =>
        val len = 1 + rng.nextInt(6)
        (Seq.fill(len)(alphabet(rng.nextInt(4))).mkString,
          1L + rng.nextInt(5))
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      def run(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String)] =
        graft.ops.TextPrep.bpeTrain(df, 6).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
          .toSeq.sortBy(_._1)
      val a = run(words.toDF("w", "freq").repartition(1))
      val b = run(rng.shuffle(words).toDF("w", "freq").repartition(5))
      a == b
    }

  // sample-level audio law: writeWav -> decodeSamples reproduces the
  // exact PCM stream, and the normalized energy profile is invariant
  // under exact gain halving and mono->stereo duplication
  property("wav sample decode round-trips; profile gain/layout invariant") =
    forAll(Gen.chooseNum(1, 3), Gen.chooseNum(8, 64), Gen.long) { (ch, n, seed) =>
      import graft.functions.AudioCodec
      val rng = new scala.util.Random(seed)
      // even amplitudes so the half-gain variant divides exactly
      val pcm = Array.fill(n, ch)((rng.nextInt(8192) - 4096) * 2)
      val bytes = AudioCodec.writeWav(8000, ch, n, (s, c) => pcm(s)(c).toShort)
      val got = AudioCodec.decodeSamples(bytes).get
      val roundTrip = got.channels == ch && got.sampleRate == 8000 &&
        got.samples.length == n * ch &&
        (0 until n * ch).forall(i => got.samples(i) == pcm(i / ch)(i % ch))
      val p0 = AudioCodec.normalizeProfile(AudioCodec.energyProfile8(got))
      val half = AudioCodec.decodeSamples(
        AudioCodec.writeWav(8000, ch, n, (s, c) => (pcm(s)(c) / 2).toShort)).get
      val wide = AudioCodec.decodeSamples(
        AudioCodec.writeWav(8000, 2 * ch, n,
          (s, c) => pcm(s)(c % ch).toShort)).get
      val pHalf = AudioCodec.normalizeProfile(AudioCodec.energyProfile8(half))
      val pWide = AudioCodec.normalizeProfile(AudioCodec.energyProfile8(wide))
      roundTrip && p0.sameElements(pHalf) && p0.sameElements(pWide)
    }

  // the preflight estimate is EXACT for equi-joins: est_total equals the
  // real join's output count for any key multisets on either side
  private val keysGen: Gen[List[Int]] =
    Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 8)))

  property("joinPreflight est_total == real equi-join cardinality") =
    forAll(keysGen, keysGen) { (l, r) =>
      val lf = l.toDF("k")
      val rf = r.toDF("k")
      val prof = graft.ops.Skew.joinPreflight(lf, "k", rf, "k", topK = 50)
        .collect()
      graft.core.Caches.release(spark)
      val actual = lf.join(rf.withColumnRenamed("k", "k2"),
        org.apache.spark.sql.functions.col("k") ===
          org.apache.spark.sql.functions.col("k2")).count()
      if (prof.isEmpty) actual == 0L
      else prof.head.getAs[Long]("est_total") == actual
    }

  // the BPE oracle's doubled-delimiter replace device == mergeSyms on ANY
  // symbol string — including XYXY repeats of the merge pair, where the
  // naive single-space replace diverges ('banana' + (a,n): naive gives
  // b/an/a/n/a, mergeSyms gives b/an/an/a)
  private val symGen: Gen[List[String]] =
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "n", "ab", "an", "na")))

  property("BPE SQL replay device == mergeSyms incl. overlapping repeats") =
    forAll(symGen, Gen.oneOf("a", "b", "n", "ab", "an", "na"),
      Gen.oneOf("a", "b", "n", "ab", "an", "na")) { (syms, a, b) =>
      val s = syms.toIndexedSeq
      graft.ops.TextPrep.sqlMergeDevice(s, a, b) ==
        graft.ops.TextPrep.mergeSyms(s, a, b) &&
      graft.ops.TextPrep.sqlMergeDevice("banana".map(_.toString).toIndexedSeq, "a", "n") ==
        IndexedSeq("b", "an", "an", "a")
    }
}

package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Caches
import graft.functions.{GraftFunctions, TextFunctions}
import graft.ops.{Dedup, TextAnalysis}

/** `curation`: one training-data curation pass over a seeded corpus with
  * planted exact copies and near-duplicate pairs, repeated back to back
  * (closed loop). A pass runs `TextAnalysis.quality`, `Dedup.exact`,
  * `Dedup.minhashLsh` and `Dedup.simhash`; it writes nothing to the
  * warehouse. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var corpus: Gen.Corpus = _
  private var dir: String = _
  private var texts: Map[Long, String] = Map.empty
  private var passes = 0
  private var lshPairs = 0L
  private var lshFound = 0L

  def prepare(root: Path): Unit = {
    corpus = Gen.corpus(ctx.seed, Originals, ExactCopies, NearPairs)
    texts = corpus.docs.iterator.map(d => d._1 -> d._2).toMap
    dir = root.resolve("corpus").toString
  }

  /** The corpus as a `documents` parquet table. */
  def seed(): Unit = {
    val rows = corpus.docs.map { case (id, text, src) => Row(id, text, "en", src, text.length.toLong) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema).repartition(4)
      .write.parquet(s"$dir/documents.parquet")
  }

  private def op[T](name: String)(body: => T): Option[T] = {
    ctx.attempted += 1
    try Some(tracer.time("ops", name)(body))
    catch { case e: Exception =>
      ctx.failed += 1
      ctx.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      None
    }
  }

  /** One curation pass with its output checks. */
  private def pass(): Unit = {
    op("ops.quality")(TextAnalysis.quality(spark, dir).write.format("noop").mode("overwrite").save())
    op("ops.exact_dedup") {
      Dedup.exact(spark, dir).filter(col("is_duplicate")).select("doc_id").collect().map(_.getLong(0)).toSet
    }.foreach { dups =>
      ctx.check(dups == corpus.exactCopies,
        s"exact dedup marked ${dups.size} docs, planted ${corpus.exactCopies.size} copies")
    }
    op("ops.minhash_lsh") {
      try Dedup.minhashLsh(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      finally Caches.release(spark)
    }.foreach { pairs =>
      pairs.foreach { case (a, b, j) =>
        val exact = Gen.jaccard(texts(a), texts(b))
        ctx.check(j >= JaccardThreshold && exact >= JaccardThreshold - 1e-6,
          s"minhash pair ($a, $b) reported $j, Jaccard $exact")
      }
      lshPairs += pairs.length
      val got = pairs.iterator.map(p => (p._1, p._2)).toSet
      lshFound += corpus.nearPairs.count(got.contains)
    }
    op("ops.simhash")(Dedup.simhash(spark, dir).write.format("noop").mode("overwrite").save())
    passes += 1
  }

  /** The cold first pass costs about three steady ones and pass times keep
    * falling for several more. */
  def warmup(): Unit = {
    (1 to WarmupPasses).foreach(_ => pass())
    passes = 0; lshPairs = 0; lshFound = 0
  }

  def measure(seconds: Double): Map[String, Double] = {
    passes = 0; lshPairs = 0; lshFound = 0
    val fs0 = CountingFs.snap()
    var busyNs = 0L
    val perPass = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (busyNs < seconds * 1e9) {
      val t0 = System.nanoTime()
      pass()
      val dt = System.nanoTime() - t0
      busyNs += dt
      perPass += dt / 1e6
      System.err.println(f"perfbench: pass $passes%d ${dt / 1e6}%.0f ms")
    }
    val fs = CountingFs.snap() - fs0
    val median = Stats.median(perPass.toSeq)
    Map(
      "throughput_per_s" -> corpus.docs.size / (median / 1e3),
      "latency_ms" -> median,
      "ops_ok_ratio" -> (ctx.attempted - ctx.failed).toDouble / math.max(1L, ctx.attempted),
      "recall" -> lshFound.toDouble / (corpus.nearPairs.size.toLong * passes),
      "bytes_per_input_byte" -> fs.bytesRead.toDouble / (corpus.bytes * passes))
  }

  def finish(): Unit = ()

  /** Nanoseconds per document of one graft function alone: an aggregate
    * over the function on the corpus repeated [[FnReps]] times, less the
    * same scan aggregating only the text length; median of three each. */
  private def nsPerDoc(fn: Column): Double = {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("text")
      .crossJoin(spark.range(FnReps).select(lit(1).as("rep")))
    def time(c: Column) = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      docs.agg(c).collect()
      (System.nanoTime() - t0).toDouble
    })
    (time(fn) - time(sum(length(col("text"))))) / (corpus.docs.size.toLong * FnReps)
  }

  def perLayer(): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    val opsJobs = ctx.layers.all.filter(_.span.startsWith("ops."))
    GraftFunctions.ensureRegistered(spark)
    val fns = Map(
      "functions.tokens_ns_per_doc" -> nsPerDoc(sum(size(TextFunctions.tokens(col("text"))))),
      "functions.shingle_ns_per_doc" -> nsPerDoc(sum(size(
        call_function(GraftFunctions.ShingleName, col("text"), lit(3))))),
      "functions.simhash_ns_per_doc" -> nsPerDoc(bit_xor(
        call_function(GraftFunctions.SimHashName, col("text")))),
      "functions.hash60_ns_per_doc" -> nsPerDoc(bit_xor(TextFunctions.hash60(col("text")))))
    fns ++ Map(
      "ops.quality_s" -> tracer.total("ops.quality") / n,
      "ops.exact_dedup_s" -> tracer.total("ops.exact_dedup") / n,
      "ops.minhash_lsh_s" -> tracer.total("ops.minhash_lsh") / n,
      "ops.simhash_s" -> tracer.total("ops.simhash") / n,
      "ops.shuffle_bytes" -> opsJobs.map(_.shuffleBytes).sum / n,
      "ops.spill_bytes" -> opsJobs.map(_.spillBytes).sum / n,
      "ops.lsh_pairs" -> lshPairs / n,
      "ops.lsh_truth_pairs" -> corpus.nearPairs.size.toDouble,
      "ops.passes" -> passes.toDouble)
  }
}

object Curation {
  val Originals = 5000
  val ExactCopies = 150
  val NearPairs = 200
  val JaccardThreshold = 0.8
  val WarmupPasses = 4
  val FnReps = 20L
  val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}

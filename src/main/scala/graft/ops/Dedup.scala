package graft.ops

import graft.core.Caches.TrackedDataset
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions._

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash variants over the `documents` table.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-aggregate on a 32-byte fingerprint — the cheapest
  *    possible full-corpus dedup; shuffle moves only (fp, doc_id).
  *  - jaccardPairs: exact all-pairs via an inverted shingle index. The
  *    shuffle is bounded by sum over shingles of df² — fine when shingle
  *    doc-frequency is low, quadratic when not; at 100 TB you cap df
  *    (drop stop-shingles) or go through LSH below.
  *  - minhashLsh: the scale path. Signatures are computed per-row with
  *    array HOFs (NO explode, NO shuffle), docs meet only inside small
  *    LSH band buckets, and exact Jaccard verifies each candidate pair.
  *    Shuffle volume = O(#docs × #bands), independent of document length.
  *  - simhash: 60-bit TF-weighted fingerprint per doc (one projection),
  *    near-dup pairs via 4×15-bit band buckets + Hamming verify.
  *
  * All hashing is md5-based so every stage is bit-identical in DuckDB —
  * each operator ships with a full SQL oracle, not a rows-only check.
  *
  * Caching contract: operators that persist an intermediate the returned
  * (lazy) frame still depends on — the inverted index in [[jaccardPairs]],
  * the signature table in [[minhashLsh]], the fingerprint table in
  * [[simhashPairs]] — cannot unpersist it before the caller's action runs.
  * Every such persist is registered in [[graft.core.Caches]]; callers
  * owning long-lived sessions call `Caches.release(spark)` when done with
  * the returned frame (`graft.Bench` and `graft.Verify` both do).
  */
object Dedup {

  private[ops] val NumHashes = 16
  /** Signature-width ceiling: hash constants are pre-derived up to 64
    * components, the lever [[lshRecall]]'s wide-signature sweep rows
    * exercise (BASELINE round-7 note: 16 components under-sample J at
    * the 0.8 boundary — a handful of borderline pairs missed at sf0.1;
    * 64 components at 16×4 banding push boundary-pair collision
    * probability to ~0.9998). */
  private[ops] val MaxHashes = 64
  private[ops] val Bands = 4
  private[ops] val RowsPerBand = NumHashes / Bands
  private[ops] val ShingleN = 3
  private val JaccardThreshold = 0.8

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** Exact fingerprint per doc for an arbitrary (doc_id, text) frame. */
  private[ops] def fingerprints(d: DataFrame): DataFrame =
    d.select(col("doc_id"), md5(concat_ws(" ", toks)).as("exact_fp"))

  /** One row per (doc, distinct hashed shingle) of an arbitrary
    * (doc_id, text) frame. The explode is the ONLY evaluation of the
    * tokenize→shingle→md5 pipeline: everything downstream aggregates its
    * output attributes. (Keeping the shingles as an array column instead
    * lets CollapseProject inline the whole hashing pipeline into every
    * consumer expression — 16 copies of md5 per row in the naive minhash
    * formulation; measured 4× slower.) Hashing to 60-bit longs also makes
    * every exchange and intersection operate on fixed-width longs instead
    * of ~20-byte strings. */
  private[ops] def explodedShinglesOf(spark: SparkSession, d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // no Spread here (round-14 opt, measured and REJECTED): round-robin
    // repartitioning the raw text before the kernel cost +0.3-0.4 s on
    // every signature consumer at sf0.1 (minhash_lsh 1.03 → 1.41,
    // skeleton_minhash 1.08 → 1.42 isolated min-of-5) — the downstream
    // groupBy already re-parallelizes everything after the kernel, and
    // the kernel's single-task window at fixture scale is smaller than
    // the exchange + extra planning pass Spread adds
    d.select(
      col("doc_id"),
      explode(call_function(graft.functions.GraftFunctions.ShingleName,
        col("text"), lit(ShingleN))).as("h"))
  }

  /** (doc_id, sgl, mh_0..mh_{width-1}) signatures for an arbitrary
    * frame; `width` is the signature-precision lever (default 16, up to
    * [[MaxHashes]]) — wider signatures sample J more tightly at linear
    * extra aggregate cost, no extra shuffle rows. */
  private[ops] def signatures(spark: SparkSession, d: DataFrame,
                              width: Int = NumHashes): DataFrame = {
    require(width >= 1 && width <= MaxHashes, s"bad signature width $width")
    val minAggs = (0 until width).map(i =>
      min((col("h").bitwiseAND(lit(M30)) * lit(HashA(i)) + lit(HashB(i))) % lit(MinHashP))
        .as(s"mh_$i"))
    explodedShinglesOf(spark, d)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("sgl"), minAggs: _*)
  }

  /** (doc_id, band, key) LSH band keys from a signature frame, for any
    * (bands × rowsPerBand) split of the [[NumHashes]] signature — the
    * banding config is the recall/candidate-volume dial ([[lshRecall]]'s
    * sweep measures it; collision prob at similarity J is
    * `1 − (1 − J^rows)^bands`). */
  private[ops] def bandKeysOf(sig: DataFrame, bands: Int = Bands,
                              rowsPerBand: Int = RowsPerBand): DataFrame = {
    val avail = sig.columns.count(_.startsWith("mh_"))
    require(bands * rowsPerBand <= avail,
      s"banding $bands x $rowsPerBand needs more than the $avail-component signature")
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("key")).as(s"bk_$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        explode(array((0 until bands).map(b => col(s"bk_$b")): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  private val toks: Column = tokens(col("text"))

  // ---------------------------------------------------------------- exact
  /** Exact dedup on the normalized token stream: every doc labeled with its
    * canonical (minimum) doc_id per fingerprint group. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val fp = fingerprints(docs(spark, dir))
    val canon = fp.groupBy(col("exact_fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("group_size"))
    fp.join(canon, Seq("exact_fp"))
      .select(col("doc_id"), col("exact_fp"), col("canonical_id"),
              col("group_size"),
              (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))
  }

  val exactOracle: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |         md5(array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')) AS exact_fp
      |  FROM documents),
      |canon AS (
      |  SELECT exact_fp, min(doc_id) AS canonical_id,
      |         CAST(count(*) AS BIGINT) AS group_size
      |  FROM fp GROUP BY 1)
      |SELECT f.doc_id, f.exact_fp, c.canonical_id, c.group_size,
      |       f.doc_id <> c.canonical_id AS is_duplicate
      |FROM fp f JOIN canon c USING (exact_fp)
      |""".stripMargin

  // ------------------------------------------------- exact n-gram Jaccard
  /** Universal-hash constants for the 16 minhash permutations, derived
    * driver-side from md5 (30-bit odd multipliers / 30-bit offsets) and
    * interpolated verbatim into the SQL oracle — one md5 per SHINGLE
    * instead of one per (shingle × permutation). */
  private[graft] val M30 = (1L << 30) - 1
  /** Modulus for the permutation hashes: Mersenne prime 2^31-1. WITHOUT
    * the reduction, h -> h30*A_i + B_i approximately preserves the
    * MAGNITUDE ordering of h30 for every i at once — a shingle whose
    * 30-bit hash happens to be tiny wins the min of ALL permutations
    * simultaneously, so one non-shared shingle can decorrelate two
    * nearly-identical documents' entire signatures (measured at sf0.1:
    * 5 containment-style pairs at J 0.92-0.98 missed by EVERY banding
    * config — not sampling noise, structural correlation). The modulo
    * wraps the products, restoring per-permutation independence. */
  private[graft] val MinHashP = 2147483647L
  private def const60(tag: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tag.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
  private[graft] val HashA: IndexedSeq[Long] =
    (0 until MaxHashes).map(i => (const60(s"A:$i") & M30) | 1L)
  private[graft] val HashB: IndexedSeq[Long] =
    (0 until MaxHashes).map(i => const60(s"B:$i") & M30)

  /** Per-doc shingle set (as an aggregated attribute) and its size. */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShinglesOf(spark, docs(spark, dir))

  /** Same, over an arbitrary (doc_id, text) frame: the exploded shingles
    * regrouped per doc — `sgl` is the collected set, `n` its size. Docs
    * with no shingle (fewer than [[ShingleN]] tokens) produce no row. */
  private def docShinglesOf(spark: SparkSession, d: DataFrame): DataFrame =
    explodedShinglesOf(spark, d)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("sgl"), count(lit(1)).as("n"))
  // NOTE (round-14 opt, measured and REJECTED): a map-only spelling
  // (ShingleHash already emits the distinct set, so sgl/n are one
  // projection) removes this groupBy exchange — but measured SLOWER at
  // sf0.1 (q_dedup_jaccard isolated min-of-5: 0.87 → 1.04 s even with
  // the kernel spread and single-evaluated): the regrouped aggregate is
  // what spreads the cached inverted index across cores here, and the
  // replacement round-robin exchange + extra planning pass cost more
  // than the collect_set it saves. Details in OPTIMIZATION_r14.md.

  /** All-pairs exact n-gram Jaccard ≥ 0.8 via inverted shingle index:
    * docs sharing a shingle meet once per shared shingle; the group count
    * IS the intersection size (shingle sets are distinct). */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsFromSets(docShingles(spark, dir))

  /** (doc_id, n, s) inverted-index rows of a (doc_id, sgl) set frame.
    * CONTRACT: `sgl` must be an aggregate/cache ATTRIBUTE, not an alias
    * over the shingle kernel — InferFiltersFromGenerate inserts
    * `size(sgl) > 0 AND isnotnull(sgl)` below the Generate, and with an
    * aliased kernel expression predicate pushdown substitutes the kernel
    * into that filter, tripling its cost (measured at sf0.1:
    * q_dedup_jaccard 0.81 → 1.90 s in a rejected map-only spelling —
    * see OPTIMIZATION_r14.md). Every current caller passes a
    * collect_set output, where the inferred filter is a cheap
    * attribute test. */
  private def invertedShingles(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("sgl")).cast("long").as("n"),
        explode(col("sgl")).as("s"))

  /** [[jaccardPairs]] core over any (doc_id, sgl) shingle-set frame —
    * callers that already hold a materialized set table (e.g.
    * [[lshRecall]]'s signature frame) feed it directly instead of
    * re-scanning and re-shingling the corpus (round-14 opt). */
  private[ops] def jaccardPairsFromSets(sets: DataFrame): DataFrame = {
    // both sides of the self-join consume the inverted index; Spark does
    // not reuse the exchange across the aliased sides (verified in the
    // physical plan: 2 scans, 0 ReusedExchange), so persist the index —
    // it is the operator's natural materialized artifact
    val inv = invertedShingles(sets)
      .trackPersist()
    val a = inv.select(col("s"), col("doc_id").as("doc_a"), col("n").as("na"))
    val b = inv.select(col("s"), col("doc_id").as("doc_b"), col("n").as("nb"))
    a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[jaccardPairsCapped]] result: verified pairs plus the explicit
    * dropped-posting audit frame (1 row: shingles_dropped,
    * postings_dropped, postings_total). No silent caps — callers that
    * bound the df² shuffle see exactly how much index mass the bound
    * removed. */
  final case class CappedPairs(pairs: DataFrame, droppedMass: DataFrame)

  /** [[jaccardPairs]] with the stop-shingle cap the 100 TB docstring
    * promises, as an EXPLICIT parameter: shingles whose doc-frequency
    * exceeds `maxDf` are removed from the inverted index, bounding the
    * per-shingle join fan-out at maxDf² rows. Intersection counts for
    * pairs that shared a dropped shingle shrink, so capped Jaccard is an
    * UNDERESTIMATE: the capped result is always a SUBSET of the exact
    * pairs (lost recall, never a false positive — spec-asserted in
    * TextDedupSpec). The dropped mass is reported, not swallowed:
    * `droppedMass` counts the removed shingles and postings against the
    * index total. */
  def jaccardPairsCapped(spark: SparkSession, d: DataFrame,
                         maxDf: Int): CappedPairs = {
    require(maxDf >= 2, s"maxDf must be >= 2 (a df-1 shingle joins nothing), got $maxDf")
    val inv = invertedShingles(docShinglesOf(spark, d))
      .trackPersist()
    val dfCounts = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .trackPersist()
    val droppedMass = dfCounts.agg(
      sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("shingles_dropped"),
      sum(when(col("df") > maxDf, col("df")).otherwise(0L)).as("postings_dropped"),
      sum(col("df")).as("postings_total"))
    val kept = inv.join(dfCounts.filter(col("df") > maxDf).select("s"),
                        Seq("s"), "left_anti")
    val a = kept.select(col("s"), col("doc_id").as("doc_a"), col("n").as("na"))
    val b = kept.select(col("s"), col("doc_id").as("doc_b"), col("n").as("nb"))
    val pairs = a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    CappedPairs(pairs, droppedMass)
  }

  private[ops] val shingleCte: String =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(
      |           CASE WHEN len(tk) >= 3 THEN list_distinct(
      |             list_transform(generate_series(1, len(tk) - 2),
      |                            i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
      |                ELSE [] END,
      |           s -> CAST(CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT))) AS sgl
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |        FROM documents))""".stripMargin

  val jaccardPairsOracle: String =
    s"""WITH $shingleCte,
       |inv AS (SELECT doc_id, len(sgl) AS n, unnest(sgl) AS s FROM sh)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       round(count(*) * 1.0 / (a.n + b.n - count(*)), 6) AS jaccard
       |FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |GROUP BY 1, 2, a.n, b.n
       |HAVING round(count(*) * 1.0 / (a.n + b.n - count(*)), 6) >= $JaccardThreshold
       |""".stripMargin

  // ------------------------------------------------ asymmetric containment
  /** Shingle-set containment threshold for [[containmentPairs]]. */
  private val ContainmentThreshold = 0.9

  /** Directed near-CONTAINMENT pairs: `|A∩B| / min(|A|,|B|)` ≥ 0.9 —
    * the asymmetric companion to [[jaccardPairs]]. Jaccard misses the
    * "small doc quoted inside a large one" case (the union term swamps
    * the intersection); containment catches exactly that, which for a
    * training corpus means boilerplate-wrapped reposts and partial
    * mirrors. Same inverted-index shuffle shape as [[jaccardPairs]]
    * (docs sharing a shingle meet once per shared shingle; the group
    * count IS the intersection), same df²-bounded fan-out (the capped /
    * LSH variants are the stated scale path there and apply unchanged).
    * Output is DIRECTED: `doc_inner` is the (near-)contained smaller
    * shingle set, `doc_outer` the container; equal sizes break toward
    * the smaller doc_id. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsOf(spark, docs(spark, dir))

  private[graft] def containmentPairsOf(spark: SparkSession, d: DataFrame): DataFrame = {
    val inv = invertedShingles(docShinglesOf(spark, d))
      .trackPersist()
    val a = inv.select(col("s"), col("doc_id").as("doc_a"), col("n").as("na"))
    val b = inv.select(col("s"), col("doc_id").as("doc_b"), col("n").as("nb"))
    a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= ContainmentThreshold)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("doc_inner"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("doc_outer"),
        col("containment"))
  }

  val containmentPairsOracle: String =
    s"""WITH $shingleCte,
       |inv AS (SELECT doc_id, len(sgl) AS n, unnest(sgl) AS s FROM sh),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
       |         count(*) AS inter
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_inner,
       |       CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_outer,
       |       round(inter * 1.0 / least(na, nb), 6) AS containment
       |FROM p
       |WHERE round(inter * 1.0 / least(na, nb), 6) >= $ContainmentThreshold
       |""".stripMargin

  // ------------------------------------------------ cross-source dup matrix
  /** Corpus-governance view of duplication: for every ordered source
    * pair, how many NEAR-DUPLICATE doc pairs and how many dup groups
    * span it — the table that answers "which feeds are re-crawling each
    * other" before any dedup policy is set. Groups are the connected
    * components of the exact-Jaccard pair graph ([[clusters]], itself
    * oracle-gated); pair counts come from per-(cluster, source) tallies
    * — `n_a·n_b` across two sources, `C(n,2)` within one — so nothing
    * bigger than the tally table (≤ one row per clustered doc) is
    * joined, and the join fan-out per cluster is
    * (sources-per-cluster)², never docs². */
  def crossSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val tallies = clusters(spark, dir)
      .join(docs(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("cluster_id"), col("source")).agg(count(lit(1)).as("n"))
      .trackPersist()
    val a = tallies.select(col("cluster_id"), col("source").as("source_a"),
                           col("n").as("na"))
    val b = tallies.select(col("cluster_id"), col("source").as("source_b"),
                           col("n").as("nb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("source_a") <= col("source_b"))
      .withColumn("pairs",
        when(col("source_a") === col("source_b"), expr("na * (na - 1) DIV 2"))
          .otherwise(col("na") * col("nb")))
      .filter(col("pairs") > 0)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("dup_pairs"),
           count(lit(1)).as("dup_groups"))
      .orderBy(col("source_a"), col("source_b"))
  }

  lazy val crossSourceMatrixOracle: String =
    s"""WITH cl AS ($clustersOracle),
       |t AS (SELECT cluster_id, source, count(*) AS n
       |      FROM cl JOIN documents USING (doc_id) GROUP BY 1, 2),
       |p AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
       |              ELSE a.n * b.n END AS pairs
       |  FROM t a JOIN t b ON a.cluster_id = b.cluster_id AND a.source <= b.source)
       |SELECT source_a, source_b, CAST(sum(pairs) AS BIGINT) AS dup_pairs,
       |       CAST(count(*) AS BIGINT) AS dup_groups
       |FROM p WHERE pairs > 0 GROUP BY 1, 2
       |""".stripMargin

  // ----------------------------------------------------------- MinHash+LSH
  /** MinHash+LSH near-dup pairs: 16-component signatures → 4 bands of 4 →
    * candidates collide on any band key → exact-Jaccard verify ≥ 0.8.
    * Output shape matches [[jaccardPairs]]; LSH may miss pairs (recall
    * <1 by design) but never emits a false positive thanks to the verify.
    *
    * Signature component i = min over shingle hashes of the i-th
    * universal-hash permutation (A_i·h30 + B_i; 30-bit operands, no
    * overflow). All 16 mins + the shingle set come out of ONE hash
    * aggregation over the exploded shingles — the md5 pipeline runs once,
    * and shuffle volume is O(docs × shingles) longs. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // sig feeds the band explode (self-joined) and both verification
    // joins — 4 consumers, no exchange reuse across aliases: persist the
    // signature table (the artifact an LSH pipeline materializes anyway)
    val sig = signatures(spark, docs(spark, dir))
      .trackPersist()
    minhashLshFrom(sig, Bands, RowsPerBand)
  }

  /** Candidate generation + exact-Jaccard verify for one banding config
    * over a built signature table ([[lshRecall]]'s sweep shares the
    * persisted table across configs, the [[Similarity.annRecall]]
    * pattern). */
  private def minhashLshFrom(sig: DataFrame, bands: Int,
                             rowsPerBand: Int): DataFrame = {
    val banded = bandKeysOf(sig, bands, rowsPerBand)

    val cand = banded.as("x").join(banded.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    val sets = sig.select(col("doc_id"), col("sgl"))
    val withSets = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sgl").as("sgl_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sgl").as("sgl_b")), Seq("doc_b"))
    withSets
      .withColumn("inter", size(array_intersect(col("sgl_a"), col("sgl_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
              (size(col("sgl_a")) + size(col("sgl_b")) - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private def minhashLshOracleAt(bands: Int, rowsPerBand: Int): String = {
    // the oracle's signature width is exactly the components the banding
    // tiles (sweep configs always use a full tiling)
    val mh = (0 until bands * rowsPerBand).map(i =>
      s"list_min(list_transform(sgl, h -> ((h & $M30) * ${HashA(i)} + ${HashB(i)}) % $MinHashP)) AS mh_$i")
      .mkString(",\n         ")
    val bandSelects = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => s"mh_${b * rowsPerBand + r}")
      s"SELECT doc_id, $b AS band, md5(${parts.mkString(" || '|' || ")}) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shingleCte,
       |sig AS (
       |  SELECT doc_id, sgl,
       |         $mh
       |  FROM sh WHERE len(sgl) > 0),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |         round(len(list_intersect(a.sgl, b.sgl)) * 1.0 /
       |               (len(a.sgl) + len(b.sgl) - len(list_intersect(a.sgl, b.sgl))), 6) AS jaccard
       |  FROM cand JOIN sh a ON cand.doc_a = a.doc_id
       |            JOIN sh b ON cand.doc_b = b.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM verified
       |WHERE jaccard >= $JaccardThreshold
       |""".stripMargin
  }

  val minhashLshOracle: String = minhashLshOracleAt(Bands, RowsPerBand)

  /** Dedup survivorship: the corpus AFTER near-duplicate removal — every
    * document either untouched by the pair graph (`unique`) or the
    * canonical representative of its cluster (`canonical`, the smallest
    * doc_id); other cluster members drop. This is the composition that
    * turns cluster labels into the actual kept training corpus, and the
    * frame a pipeline writes as its deduped snapshot. One left join of
    * the corpus against the (small) cluster table. */
  def survivors(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusters(spark, dir), Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"),
        when(col("cluster_id").isNull, "unique").otherwise("canonical")
          .as("status"))

  lazy val survivorsOracle: String =
    s"""WITH cl AS ($clustersOracle)
       |SELECT d.doc_id,
       |       CASE WHEN cl.cluster_id IS NULL THEN 'unique' ELSE 'canonical' END AS status
       |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
       |WHERE cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id
       |""".stripMargin

  /** Banding configs the recall sweep measures: 16 signature components
    * split as (bands × rowsPerBand). More bands = higher collision
    * probability at the same similarity (`1 − (1 − J^rows)^bands`) =
    * higher recall at more candidate volume; the 4×4 default is the
    * config [[minhashLsh]] serves. */
  private[ops] val BandSweep: Seq[(String, Int, Int)] = Seq(
    ("minhash_8x2", 8, 2), ("minhash_lsh", Bands, RowsPerBand),
    ("minhash_2x8", 2, 8),
    // signature-WIDTH lever rows: same 4-row bands at 2x and 4x the
    // components — the (1-(1-J^4)^bands) curve at b=8 and b=16; w64
    // closes the borderline-pair misses the 16-component default leaves
    ("minhash_w32_8x4", 8, 4), ("minhash_w64_16x4", 16, 4))

  /** Recall of banded MinHash-LSH against the exact inverted-index
    * Jaccard truth, as a gated query — one row per BANDING CONFIG
    * ([[BandSweep]]: 8×2 / 4×4 default / 2×8), so the banding
    * parameters' recall/candidate-volume trade-off is a checked curve,
    * the dedup twin of [[Similarity.annRecall]]'s probe-budget sweep.
    * Both sides verify candidates exactly, so LSH output ⊆ truth and
    * recall is the one free variable; all configs share ONE persisted
    * signature table (the 16 components are computed once — a config is
    * just a different grouping of them). At corpus scale the truth side
    * runs on a document sample; the measurement plumbing is unchanged. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE signature table at the 64-component ceiling serves every
    // config: a narrower config just tiles a prefix of the components
    val sig = signatures(spark, docs(spark, dir), MaxHashes)
      .trackPersist()
    // the exact-Jaccard truth re-uses the signature table's shingle sets
    // (round-14 opt: the old spelling re-scanned the corpus and re-ran
    // the shingle kernel for a set column `sig` already carries). Only
    // its COUNT is consumed now (see below) — no persist needed.
    val truth = jaccardPairsFromSets(sig.select(col("doc_id"), col("sgl")))
      .select(col("doc_a"), col("doc_b"))
    // matched_pairs WITHOUT the per-arm truth join (round-15 opt): every
    // verified LSH pair is in the truth set BY CONSTRUCTION — both sides
    // compute the identical round(inter/(na+nb−inter), 6) ≥ threshold
    // from the SAME persisted shingle sets (array_intersect here, the
    // inverted-index group count there — equal intersection of the same
    // distinct sets), and a pair at jaccard ≥ 0.8 > 0 necessarily shares
    // a shingle, so it meets in the truth index too. Hence
    // |truth ⟕ approx| ≡ |approx|, and the five truth left-joins were
    // identities: the arms are tagged, unioned, and counted in ONE
    // aggregate; truth contributes one count. The oracle keeps the
    // per-arm join spelling — an independent derivation of the same five
    // rows gates the claim.
    val methods = BandSweep.map(_._1).toDF("method")
    val matched = BandSweep.map { case (label, bands, rpb) =>
      minhashLshFrom(sig, bands, rpb)
        .select(lit(label).as("method"), col("doc_a"), col("doc_b"))
    }.reduce(_ unionByName _)
      .groupBy(col("method")).agg(count(lit(1)).as("m"))
    methods
      .join(broadcast(matched), Seq("method"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("truth_pairs"))))
      .select(col("method"), col("truth_pairs"),
              coalesce(col("m"), lit(0L)).as("matched_pairs"),
              round(coalesce(col("m"), lit(0L)).cast("double") /
                    col("truth_pairs"), 6).as("recall"))
  }

  val lshRecallOracle: String = {
    val approxCtes = BandSweep.map { case (label, bands, rpb) =>
      s"a_$label AS (SELECT doc_a, doc_b FROM (${minhashLshOracleAt(bands, rpb)}))"
    }.mkString(",\n")
    val rows = BandSweep.map { case (label, _, _) =>
      s"""SELECT '$label' AS method,
         |       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS truth_pairs,
         |       (SELECT CAST(count(*) AS BIGINT)
         |        FROM truth JOIN a_$label USING (doc_a, doc_b)) AS matched_pairs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH truth AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
       |$approxCtes,
       |st AS (
       |$rows)
       |SELECT method, truth_pairs, matched_pairs,
       |       round(CAST(matched_pairs AS DOUBLE) / truth_pairs, 6) AS recall
       |FROM st
       |""".stripMargin
  }

  // ------------------------------------------------- segment-grain dedup
  private val SegTokens = 30
  // doc-local segment index packed with doc_id into ONE portable long for
  // the first-occurrence min; bound asserted nowhere near: docs are ~1e2
  // tokens, the pack allows 1e5 segments (3e6 tokens) per doc
  private val SegPack = 100000L

  /** SEGMENT-grain exact dedup with document reassembly — the
    * paragraph/line dedup every CCNet-style pipeline runs INSIDE
    * documents, at the whitespace corpus's natural grain: disjoint
    * [[SegTokens]]-token segments. Every segment whose text already
    * occurred earlier in the corpus (first occurrence = minimum
    * (doc_id, segment_id), packed into one integer so the min is a
    * plain long aggregate on both engines) is DROPPED; the document is
    * reassembled from its kept segments in order. Output per doc:
    * segment counts, kept token count, dropped ppm, and the md5 of the
    * reassembled text (narrow gated stand-in for the text itself, the
    * [[TextPrep.chunks]] convention).
    *
    * This is a different operator from [[exact]] (whole-doc) and
    * [[jaccardPairs]] (near-dup pairs): it removes boilerplate repeated
    * ACROSS distinct documents while keeping their unique remainder —
    * at 100 TB the segment-hash groupBy is one corpus-linear shuffle of
    * 8-byte-hash-keyed rows (same shape as [[fingerprints]]), and
    * reassembly is a per-doc sorted fold, never cross-document. */
  /** (doc_id, seg_id, n_tok, seg_md5, seg_text) disjoint
    * [[SegTokens]]-token segments of an arbitrary (doc_id, text) frame —
    * the shared grain of [[segmentDedup]] and the incremental scrub
    * ([[graft.ops.IncrementalDedup.scrubSegments]]). */
  private[ops] def segmentsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .select(col("doc_id"), col("tk"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(SegTokens.toLong)))
          .as(Seq("seg_id", "s")))
      .select(col("doc_id"), col("seg_id").cast("long").as("seg_id"),
        least(col("n") - col("s"), lit(SegTokens.toLong)).as("n_tok"),
        md5(concat_ws(" ",
          slice(col("tk"), (col("s") + 1).cast("int"), lit(SegTokens))))
          .as("seg_md5"),
        concat_ws(" ",
          slice(col("tk"), (col("s") + 1).cast("int"), lit(SegTokens)))
          .as("seg_text"))

  def segmentDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val seg = segmentsOf(docs(spark, dir))
      .trackPersist() // two consumers: first-occurrence table + reassembly
    val firsts = seg.groupBy(col("seg_md5"))
      .agg(min(col("doc_id") * SegPack + col("seg_id")).as("first_key"))
    seg.join(firsts, Seq("seg_md5"))
      .withColumn("kept",
        col("doc_id") * SegPack + col("seg_id") === col("first_key"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tokens"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("seg_id"), col("seg_text"))))),
            s => s.getField("seg_text")))).as("kept_md5"))
      // integer ppm (div, not /): both engines floor on the same grid
      .withColumn("dropped_ppm",
        expr("(n_segments - n_kept) * 1000000 div n_segments"))
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
              col("kept_tokens"), col("dropped_ppm"), col("kept_md5"))
  }

  val segmentDedupOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
       |  FROM documents),
       |n AS (SELECT doc_id, tk, len(tk) AS n FROM d),
       |seg AS (
       |  SELECT doc_id, s // $SegTokens AS seg_id,
       |         least(n - s, $SegTokens) AS n_tok,
       |         md5(array_to_string(list_slice(tk, s + 1, least(s + $SegTokens, n)), ' ')) AS seg_md5,
       |         array_to_string(list_slice(tk, s + 1, least(s + $SegTokens, n)), ' ') AS seg_text
       |  FROM (SELECT doc_id, tk, n, unnest(generate_series(0, n - 1, $SegTokens)) AS s
       |        FROM n)),
       |firsts AS (
       |  SELECT seg_md5, min(doc_id * $SegPack + seg_id) AS first_key
       |  FROM seg GROUP BY 1),
       |k AS (
       |  SELECT seg.*, (doc_id * $SegPack + seg_id = first_key) AS kept
       |  FROM seg JOIN firsts USING (seg_md5))
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_segments,
       |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
       |       CAST((count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END)) * 1000000
       |            // count(*) AS BIGINT) AS dropped_ppm,
       |       md5(coalesce(array_to_string(
       |         list(seg_text ORDER BY seg_id) FILTER (WHERE kept), ' '), ''))
       |         AS kept_md5
       |FROM k GROUP BY 1
       |""".stripMargin

  // ---------------------------------------------------------- split leakage
  private val LeakTrainPct = 0.8
  private val LeakValidPct = 0.2

  /** Cross-split LEAKAGE audit: near-duplicate pairs that straddle the
    * deterministic train/valid hash split — validation documents whose
    * content also sits (near-verbatim) in the training cut. Exact-dedup
    * pipelines run WITHIN splits; this is the between-splits check that
    * catches evaluation contamination (the benchmark-decontamination
    * problem applied to the corpus's own held-out set).
    *
    * Composition of two already-gated parts: [[jaccardPairs]] (exact
    * inverted-index near-dups) and [[Sampling.split]] (hash split — the
    * same derivation the sampling oracle pins). Pairs are few relative to
    * the corpus, so the two assignment joins are linear; at 100 TB the
    * pair side comes from the LSH path instead ([[minhashLsh]] has the
    * same output shape — swap-in, one line). */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val assign = docs(spark, dir).select(col("doc_id"),
      Sampling.split(col("doc_id"), LeakTrainPct, LeakValidPct).as("split"))
    jaccardPairs(spark, dir)
      .join(assign.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(assign.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(col("sa.split") =!= col("sb.split"))
      .select(
        when(col("sa.split") === "valid", col("doc_a"))
          .otherwise(col("doc_b")).as("valid_doc"),
        when(col("sa.split") === "valid", col("doc_b"))
          .otherwise(col("doc_a")).as("train_doc"),
        col("jaccard"))
  }

  val splitLeakageOracle: String =
    s"""WITH pairs AS ($jaccardPairsOracle),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN CAST(CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 10000
       |                   < ${(LeakTrainPct * 10000).toLong} THEN 'train' ELSE 'valid' END AS split
       |  FROM documents)
       |SELECT CASE WHEN sa.split = 'valid' THEN p.doc_a ELSE p.doc_b END AS valid_doc,
       |       CASE WHEN sa.split = 'valid' THEN p.doc_b ELSE p.doc_a END AS train_doc,
       |       p.jaccard
       |FROM pairs p
       |JOIN s sa ON p.doc_a = sa.doc_id
       |JOIN s sb ON p.doc_b = sb.doc_id
       |WHERE sa.split <> sb.split
       |""".stripMargin

  // ------------------------------------------------------------- clustering
  /** Near-duplicate CLUSTERS from the pair graph: connected components by
    * iterative min-label propagation, `cluster_id` = smallest doc_id in
    * the component (the canonical survivor).
    *
    * Pairs only say "a ~ b"; dedup needs equivalence classes (a~b, b~c ⇒
    * one cluster). The loop is driver-controlled label propagation —
    * each round joins labels to the (symmetrized) edge list and takes the
    * min neighbor label; it converges in O(component diameter) rounds,
    * and near-dup components are tiny (pairs/chains), so 2–3 rounds at
    * any corpus size. Each round is one shuffle join + one aggregation;
    * `maxIters` bounds pathological chains — if the loop exits without
    * converging (component diameter > maxIters) a warning is logged and
    * the labels are only partially propagated.
    *
    * The returned frame is a lazily local-checkpointed leaf (materialized
    * by the final convergence check): consumers plan over a LogicalRDD,
    * never over the loop's per-round join lineage. Checkpoint storage is
    * reclaimed by the ContextCleaner once the frame is unreferenced. */
  def components(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .trackPersist()
    // seed with round 1 fused into the init aggregation: label(x) =
    // min(x, min direct neighbor) — the first propagation round always
    // changes every non-minimum node, so running it as a plain groupBy
    // (no join, no convergence check) saves a full loop iteration.
    // Per-round LAZY localCheckpoint instead of persist (round-15 opt):
    // a persisted round still carries its full LOGICAL lineage, so round
    // k's plan embedded every earlier round's join and Catalyst
    // re-optimized a tree that grew a join per round — and the final
    // labels frame handed to consumers dragged the whole loop's lineage
    // into THEIR plans (q_dedup_clusters: 3245-line / 252-Exchange
    // composed plan, q_entity_resolution_incremental: 18k lines / 2064
    // scans once survivorship multiplied it out). The checkpoint cuts
    // the plan to a leaf each round — constant plan size, same
    // MEMORY_AND_DISK caching. The convergence isEmpty still triggers
    // materialization; partitions it short-circuits past are computed by
    // the checkpoint's own fill-in job (LocalRDDCheckpointData recomputes
    // missing partitions before truncating lineage) — the same full-scan
    // work the next round's join forced anyway, just moved one action
    // earlier. Checkpointed rounds are reclaimed by the ContextCleaner
    // once unreferenced (the bench forces a per-query driver GC).
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(least(col("src"), min(col("dst"))).as("cluster_id"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
                    .withColumnRenamed("cluster_id", "nbr_label"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      // carry the previous label through the join so convergence checking
      // is a filter over the checkpointed frame, not another join per round
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
                least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
                  .as("cluster_id"),
                col("cluster_id").as("prev"))
        .localCheckpoint(false)
      converged = next.filter(col("cluster_id") =!= col("prev")).isEmpty
      labels = next.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] WARN Dedup.components exited at maxIters=$maxIters without " +
          "convergence — cluster labels are only partially propagated " +
          "(pair-graph component diameter exceeds maxIters); raise maxIters " +
          "or pre-collapse long chains")
    // The convergence check (plus the checkpoint's missing-partition
    // fill-in job) fully materialized the final round on EITHER exit, and
    // the checkpoint leaf never recomputes from lineage — the edge list
    // can always go.
    edges.unpersist(); graft.core.Caches.untrack(edges)
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR — the
    * provably O(log n)-round algorithm for 100 TB pair graphs, where
    * [[components]]' min-label propagation (O(diameter) rounds, lineage
    * growing per round) stops being the right tool. Public algorithm:
    * Kiveris et al., "Connected Components in MapReduce and Beyond"
    * (SoCC 2014).
    *
    * Each round rewrites the edge set:
    *   large-star(u): m = min(Γ(u) ∪ {u}); link every LARGER neighbor
    *     v > u directly to m — flattens tall chains from both ends;
    *   small-star(u): on larger→smaller oriented edges, m = min of u's
    *     smaller neighbors; link u and its other smaller neighbors to m.
    * At the fixpoint every component is a star rooted at its minimum
    * node, so labels read straight off the edges. Both steps are one
    * hash-aggregate (min over neighbors) plus one shuffle join keyed by
    * node — no window, no driver-sized state.
    *
    * Per-round `localCheckpoint` truncates lineage, so plan size is
    * CONSTANT in the round count (spec-guarded) instead of growing a
    * join per round; the fixpoint test is a (count, hash-sum) edge-set
    * fingerprint — two scalar aggregates, not an except(). Output is
    * identical to [[components]] (equality spec on fixtures + the same
    * oracle gates both). */
  def componentsTwoPhase(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    // orient larger -> smaller, dedupe; localCheckpoint cuts whatever
    // plan produced the pairs. LAZY (round-15, the BPE-merge-loop
    // pattern): the fingerprint aggregate below reads every partition
    // anyway and materializes the checkpoint inside its own job — an
    // eager checkpoint ran a dedicated materialization job first, so
    // every round paid two driver round-trips instead of one.
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
              least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    def fingerprint(df: DataFrame): (Long, String) = {
      // DECIMAL(38,0) accumulator: 60-bit hash values summed over any
      // edge count without ANSI long overflow
      val r = df.agg(count(lit(1)),
        coalesce(sum(conv(substring(md5(concat_ws(":", col("u"), col("v"))),
          1, 15), 16, 10).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      nbrs.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val relink = e.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      relink.union(self).filter(col("u") =!= col("v")).distinct()
    }
    var fp = fingerprint(edges)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // lazy: the round's fingerprint materializes it in the same job
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      edges = next
      round += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] WARN componentsTwoPhase exited at maxRounds=$maxRounds " +
          "without an edge-set fixpoint — labels may be incomplete")
    // fixpoint edge set is a star forest: u -> root on every edge
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id"))
        .distinct())
      .distinct()
  }

  /** Oracle-checked query: components of the exact-Jaccard pair graph. */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    components(jaccardPairs(spark, dir))

  /** The same clusters through the two-phase algorithm — gated by the
    * identical oracle, proving output equality on the real pair graph. */
  def clustersTwoPhase(spark: SparkSession, dir: String): DataFrame =
    componentsTwoPhase(jaccardPairs(spark, dir))

  val clustersOracle: String =
    s"""WITH RECURSIVE pairs AS ($jaccardPairsOracle),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r
       |  FROM edges e JOIN reach ON e.dst = reach.src)
       |SELECT src AS doc_id, min(r) AS cluster_id
       |FROM reach GROUP BY 1
       |""".stripMargin

  // ---------------------------------------------------------------- SimHash
  private val SimBits = 60
  private val SimBands = 4
  private val SimBandBits = SimBits / SimBands
  private val MaxHamming = 8

  /** 60-bit TF-weighted SimHash per document via the native
    * [[graft.functions.SimHash60]] kernel (one pass over the tokens, no
    * explode/shuffle). Votes are per token OCCURRENCE — distinct-token
    * SimHash degenerates when the vocabulary is small relative to
    * document length. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs(spark, dir).select(
      col("doc_id"),
      call_function(graft.functions.GraftFunctions.SimHashName, col("text"))
        .as("simhash"))
  }

  val simhashOracle: String = {
    val votes = (0 until SimBits).map(j =>
      s"list_sum(list_transform(hs, h -> ((h >> $j) & 1) * 2 - 1)) AS bs_$j")
      .mkString(",\n         ")
    val sim = (0 until SimBits).map(j =>
      s"CASE WHEN bs_$j >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_transform(string_split_regex(trim(lower(text)), '\\s+'),
       |           t -> CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS UBIGINT) AS BIGINT)) AS hs
       |  FROM documents),
       |v AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM t)
       |SELECT doc_id, $sim AS simhash FROM v
       |""".stripMargin
  }

  /** SimHash near-dup pairs: docs collide when any of the 4 15-bit bands
    * matches (guarantees recall for Hamming ≤ 3; probabilistic above),
    * then the full Hamming distance verifies ≤ [[MaxHamming]]. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sim = simhash(spark, dir)
      .trackPersist()
    val bandCols = (0 until SimBands).map(b =>
      struct(lit(b).as("band"),
             shiftright(col("simhash"), b * SimBandBits)
               .bitwiseAND(lit((1L << SimBandBits) - 1)).as("key")).as(s"b_$b"))
    val banded = sim.select(col("doc_id") +: col("simhash") +: bandCols: _*)
      .select(col("doc_id"), col("simhash"),
              explode(array((0 until SimBands).map(b => col(s"b_$b")): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
              col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("x").join(banded.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
              bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
  }

  // ------------------------------------------------------------- consensus
  /** Cross-variant consensus: each candidate pair with the set of dedup
    * methods that found it (exact n-gram Jaccard, MinHash+LSH, SimHash).
    * Production near-dup removal keys off agreement — a pair two
    * independent signals found is a far safer drop than a single-method
    * hit. Each branch is the existing operator; the merge is one
    * aggregation over the tiny pair lists. */
  def consensus(spark: SparkSession, dir: String): DataFrame = {
    def tag(df: DataFrame, m: String) =
      df.select(col("doc_a"), col("doc_b"), lit(m).as("method"))
    // ONE signature build serves both shingle-based methods (round-14
    // opt): the exact-Jaccard arm reads the persisted table's shingle
    // sets instead of re-scanning + re-shingling the corpus, and the
    // MinHash arm bands the same table — simhash is a different kernel
    // and keeps its own scan
    val sig = signatures(spark, docs(spark, dir)).trackPersist()
    tag(jaccardPairsFromSets(sig.select(col("doc_id"), col("sgl"))), "jaccard")
      .unionByName(tag(minhashLshFrom(sig, Bands, RowsPerBand), "minhash_lsh"))
      .unionByName(tag(simhashPairs(spark, dir), "simhash"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_methods"),
           array_join(sort_array(collect_set(col("method"))), ",").as("methods"))
  }

  lazy val consensusOracle: String =
    s"""WITH j AS ($jaccardPairsOracle),
       |m AS ($minhashLshOracle),
       |s AS ($simhashPairsOracle),
       |u AS (
       |  SELECT doc_a, doc_b, 'jaccard' AS method FROM j
       |  UNION ALL SELECT doc_a, doc_b, 'minhash_lsh' FROM m
       |  UNION ALL SELECT doc_a, doc_b, 'simhash' FROM s)
       |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_methods,
       |       string_agg(DISTINCT method, ',' ORDER BY method) AS methods
       |FROM u GROUP BY 1, 2
       |""".stripMargin

  val simhashPairsOracle: String = {
    val bandSelects = (0 until SimBands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * SimBandBits}) & ${(1L << SimBandBits) - 1} AS key FROM s"
    }.mkString("\n  UNION ALL ")
    s"""WITH s AS (${simhashOracle.stripSuffix("\n")}),
       |banded AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= $MaxHamming
       |""".stripMargin
  }

  // --------------------------------------------- homoglyph-evasion dedup

  /** Confusable-skeleton dedup — catches the evasion twins byte/NFC
    * hashing misses: documents rewritten with Cyrillic/Greek
    * lookalikes, fullwidth forms, and zero-width salt collide once
    * [[graft.functions.ConfusableSkeleton.skeleton]] folds them. The
    * fixture plants one evasion twin per `id % 4 == 0` document
    * (Latin a/e/o swapped to Cyrillic, a zero-width space prepended;
    * base texts are uniquified with an id suffix so corpus-native
    * clones don't enter the gate), and the oracle predicts exactly
    * those pairs. One skeleton projection + one 16-byte-digest
    * shuffle — the exact-dedup shape, corpus-linear at 100 TB. */
  def skeletonDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val T = 1000000000L
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"), lit(" uid"),
        col("doc_id").cast("string")).as("t"))
    val twins = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + T).as("doc_id"),
        concat(lit("\u200b"),
          translate(col("t"), "aeo", "\u0430\u0435\u043e")).as("t"))
    val sk = base.unionByName(twins)
      .select(col("doc_id"),
        md5(graft.functions.ConfusableSkeleton.skeleton(col("t"))).as("k"))
    val shared = sk.groupBy(col("k"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
      .select(col("k"))
    val hits = sk.join(shared, "k")
    hits.as("x").join(hits.as("y"),
        col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  val skeletonDedupOracle: String =
    """SELECT doc_id AS doc_a, doc_id + 1000000000 AS doc_b
      |FROM documents WHERE doc_id % 4 = 0
      |""".stripMargin

  /** Skeleton-MinHash NEAR-dup — the composition that defeats
    * homoglyph evasion at near-duplicate (not just exact) level:
    * [[skeletonDedupQuery]] catches byte-identical-after-fold twins,
    * but an evader who ALSO drops a couple of tokens slips past exact
    * skeleton hashing and past raw-text MinHash (every shingle
    * containing a swapped letter changes). Folding FIRST and running
    * the standard MinHash+LSH+verify chain on the skeleton recovers
    * them. TRUE dual implementation: the oracle replays fixture
    * construction, skeleton fold (DuckDB translate), shingling,
    * signatures, banding, and the Jaccard verify in SQL — corpus
    * near-clone pairs and planted evasion twins both flow through the
    * same replay. */
  def skeletonMinhashQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Caches.TrackedDataset
    val T = 1000000000L
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"), lit(" uid"),
        col("doc_id").cast("string")).as("t"))
    val tk = tokens(col("t"))
    val dropped = array_join(
      slice(tk, lit(1), greatest(size(tk) - 2, lit(1))), " ")
    val twins = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + T).as("doc_id"),
        concat(lit("\u200b"),
          translate(dropped, "aeo", "\u0430\u0435\u043e")).as("t"))
    val sk = base.unionByName(twins)
      .select(col("doc_id"),
        graft.functions.ConfusableSkeleton.skeleton(col("t")).as("text"))
    val sig = signatures(spark, sk).trackPersist()
    minhashLshFrom(sig, Bands, RowsPerBand)
  }

  val skeletonMinhashOracle: String = {
    val mh = (0 until NumHashes).map(i =>
      s"list_min(list_transform(sgl, h -> ((h & $M30) * ${HashA(i)} + ${HashB(i)}) % $MinHashP)) AS mh_$i")
      .mkString(",\n         ")
    val bandSelects = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"mh_${b * RowsPerBand + r}")
      s"SELECT doc_id, $b AS band, md5(${parts.mkString(" || '|' || ")}) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH d0 AS (
       |  SELECT doc_id, text || ' uid' || CAST(doc_id AS VARCHAR) AS t
       |  FROM documents),
       |tw AS (
       |  SELECT doc_id + 1000000000 AS doc_id,
       |         chr(8203) || translate(
       |           array_to_string(list_slice(tk, 1, greatest(len(tk) - 2, 1)), ' '),
       |           'aeo', 'аео') AS t
       |  FROM (SELECT doc_id,
       |               string_split_regex(trim(lower(t)), '\\s+') AS tk
       |        FROM d0)
       |  WHERE doc_id % 4 = 0),
       |src AS (SELECT doc_id, t FROM d0 UNION ALL SELECT doc_id, t FROM tw),
       |skel AS (
       |  SELECT doc_id,
       |         translate(lower(t), 'аео' || chr(8203), 'aeo') AS text
       |  FROM src),
       |sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           CASE WHEN len(tk) >= 3 THEN list_distinct(
       |             list_transform(generate_series(1, len(tk) - 2),
       |                            i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
       |                ELSE [] END,
       |           s -> CAST(CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT))) AS sgl
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
       |        FROM skel)),
       |sig AS (
       |  SELECT doc_id, sgl,
       |         $mh
       |  FROM sh WHERE len(sgl) > 0),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |         round(len(list_intersect(a.sgl, b.sgl)) * 1.0 /
       |               (len(a.sgl) + len(b.sgl) - len(list_intersect(a.sgl, b.sgl))), 6) AS jaccard
       |  FROM cand JOIN sh a ON cand.doc_a = a.doc_id
       |            JOIN sh b ON cand.doc_b = b.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM verified
       |WHERE jaccard >= $JaccardThreshold
       |""".stripMargin
  }
}

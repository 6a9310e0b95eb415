package graft.validate

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Runtime data-quality gates — first-class operators in the reference
  * (SURVEY §2.11). A publish runs one gate pass: [[Validator.requireUnique]]
  * checks the keys and returns the row count taken on the way, and
  * [[Validator.requireNonEmpty]] checks that count.
  */
final class DuplicateException(msg: String) extends RuntimeException(msg)

object Validator {

  /** Keys having more than one row, with their counts. Distributed: one
    * partial+final hash aggregation, no data to the driver beyond the
    * violating keys (reference check: utils.py:136-139 counted on the
    * driver). */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Abort (throw) if any key group has >1 row — the reference's gate run
    * before every write (reference: utils.py:108-142; call sites
    * ingestion_task.py:56,117,172,234). One grouped pass: the first five
    * violators by key come back in one job (none means pass, some are the
    * message; an unordered `limit` would re-scan in rounds when there are
    * none), and the frame's row count is observed on the map side of the
    * same aggregate, so the caller needs no `count()` of its own. Returns
    * that row count. */
  def requireUnique(df: DataFrame, keys: Seq[String]): Long = {
    val rows = Observation()
    val dups = duplicateKeys(df.observe(rows, count(lit(1)).as("rows")), keys)
      .orderBy(keys.map(col): _*).limit(5).collect()
    if (dups.nonEmpty)
      throw new DuplicateException(
        s"duplicate keys on (${keys.mkString(", ")}): " + dups.mkString("; "))
    // AQE replaces a stage over an empty input, and the observation then
    // comes back without the metric: count the frame, never assume 0
    rows.get.get("rows").fold(df.count())(_.asInstanceOf[Long])
  }

  /** Reject empty inputs (reference: ingestion_task.py:32-33,91-93,151-153),
    * given the row count a gate pass already took — no Spark job. */
  def requireNonEmpty(rows: Long, what: String): Unit =
    if (rows == 0) throw new IllegalStateException(s"empty input: $what")

  /** Referential-integrity audit across the warehouse's FK relations:
    * child row count, orphan rows (child rows whose FK value has no
    * parent), and distinct missing keys, one row per relation — the
    * V-family gate that catches a truncated dimension load before a
    * fact join silently drops rows (or explodes them under a stale
    * SCD). Scale shape per relation: the child side aggregates to
    * DISTINCT key tallies first, so the anti-join probes key
    * cardinality, never fact rows; parents broadcast when small. A
    * clean warehouse reports zero orphans — the audit proving it is
    * the product. */
  /** One relation's audit row — child aggregates to distinct-key
    * tallies before the anti-join (probe is key cardinality, never fact
    * rows). Exposed for specs to plant orphans against. */
  private[graft] def auditRelation(rel: String, child: DataFrame, fk: String,
                                   parent: DataFrame, pk: String): DataFrame = {
    // ONE child scan per relation (round-14, the fkDiscovery rewrite
    // pattern): the distinct-key tallies already carry every number the
    // audit needs — child_rows is Σn over ALL tallies, the orphan pair
    // is Σn / count over tallies with no parent — so a LEFT join
    // against the parent key set feeds a single aggregation, replacing
    // the anti-join + separate count(*) re-scan + crossJoin (12 child
    // scans → 6 across the six relations; lineitem 6 → 3)
    val tallies = child.select(col(fk).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val flagged = tallies.join(
      parent.select(col(pk).as("k")).distinct()
        .withColumn("present", lit(1)), Seq("k"), "left")
    flagged.agg(
        coalesce(sum(col("n")), lit(0L)).as("child_rows"),
        coalesce(sum(when(col("present").isNull, col("n"))), lit(0L))
          .as("orphan_rows"),
        count(when(col("present").isNull, lit(1))).as("missing_keys"))
      .select(lit(rel).as("relation"), col("child_rows"),
              col("orphan_rows"), col("missing_keys"))
  }

  def fkOrphans(spark: org.apache.spark.sql.SparkSession,
                dir: String): DataFrame = {
    import graft.core.Tables
    def audit(rel: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String): DataFrame =
      auditRelation(rel, child, fk, parent, pk)
    val li = Tables.lineitem(spark, dir)
    Seq(
      audit("lineitem->orders", li, "l_orderkey",
            Tables.orders(spark, dir), "o_orderkey"),
      audit("lineitem->part", li, "l_partkey",
            Tables.part(spark, dir), "p_partkey"),
      audit("lineitem->supplier", li, "l_suppkey",
            Tables.supplier(spark, dir), "s_suppkey"),
      audit("orders->customer", Tables.orders(spark, dir), "o_custkey",
            Tables.customer(spark, dir), "c_custkey"),
      audit("customer->nation", Tables.customer(spark, dir), "c_nationkey",
            Tables.nation(spark, dir), "n_nationkey"),
      audit("supplier->nation", Tables.supplier(spark, dir), "s_nationkey",
            Tables.nation(spark, dir), "n_nationkey")
    ).reduce(_ unionByName _)
  }

  val fkOrphansOracle: String = {
    def one(rel: String, child: String, fk: String,
            parent: String, pk: String): String =
      s"""SELECT '$rel' AS relation,
         |       (SELECT CAST(count(*) AS BIGINT) FROM $child) AS child_rows,
         |       CAST(coalesce(sum(n), 0) AS BIGINT) AS orphan_rows,
         |       CAST(count(*) AS BIGINT) AS missing_keys
         |FROM (SELECT $fk AS k, count(*) AS n FROM $child GROUP BY 1) t
         |WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = t.k)""".stripMargin
    Seq(
      one("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      one("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      one("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      one("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      one("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      one("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey")
    ).mkString("", "\nUNION ALL\n", "\n")
  }

  // --------------------------------------------------- table checksums

  /** Key columns per warehouse table feeding [[tableChecksums]]:
    * integer / string / date-typed columns only — float columns render
    * differently across engines, so they stay out of the canonical row
    * string by design (the checksum is a KEY-AND-DISCRETE-ATTRIBUTE
    * fingerprint, the usual anti-entropy shape). */
  private val ChecksumCols: Seq[(String, Seq[String])] = Seq(
    "region"    -> Seq("r_regionkey", "r_name"),
    "nation"    -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"  -> Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
    "supplier"  -> Seq("s_suppkey", "s_name", "s_nationkey"),
    "part"      -> Seq("p_partkey", "p_brand", "p_type", "p_size"),
    "orders"    -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
    "lineitem"  -> Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
    "events"    -> Seq("event_id", "user_id", "event_type"),
    "documents" -> Seq("doc_id", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "label"))

  /** Order-independent content checksum per table — the anti-entropy
    * primitive for "do two replicas / two engines hold the same rows"
    * without moving data: each row canonicalizes to a pipe-joined string
    * of its key and discrete attributes, hashes through the portable
    * 60-bit md5 prefix, and folds with XOR — commutative and
    * associative, so the result is identical under ANY partitioning and
    * any row order, and two sites compare one row per table. One
    * map-side-combined aggregate per table; output is table-count-sized. */
  def tableChecksums(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    import graft.core.Tables
    import graft.functions.TextFunctions.hash60
    ChecksumCols.map { case (name, cols) =>
      Tables.load(spark, dir, name)
        .select(hash60(concat_ws("|", cols.map(c => col(c).cast("string")): _*))
          .as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    }.reduce(_ unionByName _)
  }

  val tableChecksumsOracle: String = {
    def one(name: String, cols: Seq[String]): String = {
      // concat_ws skips NULLs on both engines (|| would null the row)
      val s = "concat_ws('|', " +
        cols.map(c => s"CAST($c AS VARCHAR)").mkString(", ") + ")"
      s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(bit_xor(CAST(CAST(('0x' || substr(md5($s), 1, 15)) AS UBIGINT) AS BIGINT)) AS BIGINT) AS checksum
         |FROM $name""".stripMargin
    }
    ChecksumCols.map { case (n, cs) => one(n, cs) }
      .mkString("", "\nUNION ALL\n", "\n")
  }

  // ------------------------------------------------- FK discovery

  /** Candidate edges for containment-based FK inference: the five true
    * warehouse edges plus one deliberately-false pair (order keys are
    * NOT customer keys) so the query demonstrates discrimination, not
    * just confirmation. */
  private val FkCandidates: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"))

  /** FK DISCOVERY (metadata inference, not audit): for each candidate
    * column pair, the containment of the child's distinct values in the
    * parent's — `|child ∩ parent| / |child|` on distinct sets — as an
    * exact integer micro-ratio (`hits·10⁶ DIV n`, no float division to
    * flap between engines). Containment 1.0 means every child value
    * resolves (an FK candidate); the planted false edge scores low.
    * This is how catalogs propose join edges over undocumented data
    * lakes; [[fkOrphans]] is the enforcement pass once an edge is
    * declared.
    *
    * Scale shape: each side first collapses to its DISTINCT key set
    * (map-side combined, key-cardinality rows — never fact-sized); ONE
    * left OUTER join between the two distinct sets feeds a single
    * aggregation producing both the denominator and the hit count —
    * each table is scanned once per edge (round 13: previously the
    * denominator and the semi-join probe each rescanned the child, the
    * registry's scan-heaviest plan). Output is candidate-count-sized.
    * Nothing here is quadratic in columns: the candidate list is
    * declared, not all column pairs. */
  def fkDiscovery(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    import graft.core.Tables
    FkCandidates.map { case (ct, cc, pt, pc) =>
      val child = Tables.load(spark, dir, ct).select(col(cc).as("v"))
        .na.drop().distinct()
      val parent = Tables.load(spark, dir, pt).select(col(pc).as("v"))
        .na.drop().distinct().withColumn("hit", lit(1))
      child.join(parent, Seq("v"), "left_outer")
        .agg(count(lit(1)).as("n_child_distinct"),
          count(col("hit")).as("n_hits"))
        .select(
          lit(s"$ct.$cc->$pt.$pc").as("edge"),
          col("n_child_distinct"), col("n_hits"),
          expr("n_hits * 1000000 DIV n_child_distinct")
            .as("containment_micro"))
    }.reduce(_ unionByName _)
  }

  val fkDiscoveryOracle: String =
    FkCandidates.map { case (ct, cc, pt, pc) =>
      s"""SELECT '$ct.$cc->$pt.$pc' AS edge,
         |  (SELECT CAST(count(DISTINCT $cc) AS BIGINT) FROM $ct WHERE $cc IS NOT NULL) AS n_child_distinct,
         |  (SELECT CAST(count(*) AS BIGINT) FROM
         |     (SELECT DISTINCT $cc AS v FROM $ct WHERE $cc IS NOT NULL) c
         |     WHERE EXISTS (SELECT 1 FROM $pt p WHERE p.$pc = c.v)) AS n_hits,
         |  (SELECT CAST(count(*) AS BIGINT) FROM
         |     (SELECT DISTINCT $cc AS v FROM $ct WHERE $cc IS NOT NULL) c
         |     WHERE EXISTS (SELECT 1 FROM $pt p WHERE p.$pc = c.v)) * 1000000
         |    // (SELECT count(DISTINCT $cc) FROM $ct WHERE $cc IS NOT NULL) AS containment_micro""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\n")
}

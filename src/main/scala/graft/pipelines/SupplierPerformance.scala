package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Exp, Jnr, Rnk}

/** Supplier-performance mart (reference: m_supplier_performance_task.py:11-239),
  * re-expressed over the corpus star schema: sales→lineitem(+orders for
  * status), products→part, suppliers→supplier (FIXTURES.md §B mapping).
  *
  * Node flow (names follow the reference's Informatica-style taxonomy):
  *   SQ sales/products/suppliers → FIL not-cancelled → JNR ⋈part ⋈supplier
  *   → EXP revenue → AGG product level → { AGG supplier level ;
  *   RNK top-1 product } → JNR left supplier⋈aggs → EXP null patches.
  *
  * Scale notes: the only shuffles are the two aggregations (partial+final
  * hash agg) and the rank window, all keyed by suppkey; part and supplier
  * are broadcast so the fact table never shuffles for the joins. The
  * orders⋈lineitem join is the one real shuffle join at 100 TB — both sides
  * co-partition on orderkey, which is what a sort-merge join wants; with
  * bucketed storage on orderkey it becomes shuffle-free.
  */
object SupplierPerformance {

  /** The "not cancelled" status filter (reference: F1,
    * m_supplier_performance_task.py:74-77). 'F' (finalized→"cancelled" role)
    * plays the excluded status in the corpus mapping. */
  val ExcludedStatus = "F"

  def salesWithStatus(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
              "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"), "inner")
      .filter(col("o_orderstatus") =!= ExcludedStatus)
  }

  /** Product-level rollup per supplier (reference: A1,
    * m_supplier_performance_task.py:121-129). */
  def productLevel(spark: SparkSession, dir: String): DataFrame = {
    val sales = salesWithStatus(spark, dir)
    val part = Tables.part(spark, dir).select("p_partkey", "p_name")
    // aggregate BELOW the dimension join: the fact rolls up to one row per
    // (supplier, part) first, and the broadcast part join probes only the
    // rollup — p_name is functionally dependent on p_partkey, so the
    // result is identical to joining first and grouping by name too,
    // while the join input shrinks from per-lineitem to per-(supp, part)
    Jnr.factDim(
        sales
          .withColumn("revenue", Exp.revenue(col("l_extendedprice"), col("l_discount")))
          .groupBy(col("l_suppkey"), col("l_partkey").as("p_partkey"))
          .agg(count(lit(1)).as("sale_cnt"),
               sum(col("revenue")).as("product_revenue"),
               sum(col("l_quantity")).as("qty")),
        part, Seq("p_partkey"))
      .select(col("l_suppkey"), col("p_partkey"), col("p_name"),
              col("sale_cnt"), col("product_revenue"), col("qty"))
  }

  def build(spark: SparkSession, dir: String): DataFrame = {
    // the product rollup feeds BOTH the supplier re-rollup and the top-1
    // ranking branch. It is NOT persisted here: nothing would ever release
    // the cache, and the CacheManager matches a cached plan by its input
    // paths, so a later build over the same paths in the same session would
    // be served this build's rollup even after the files changed. Callers
    // that reuse the mart persist its output (Marts.materialize does).
    val prod = productLevel(spark, dir)

    // AGG supplier level — re-rollup of the product rollup (reference: A2,
    // m_supplier_performance_task.py:133-141).
    val supAgg = prod.groupBy(col("l_suppkey"))
      .agg(Exp.asMoney(sum(col("product_revenue"))).as("total_revenue"),
           sum(col("sale_cnt")).as("total_products_sold"),
           sum(col("qty")).cast("double").as("total_stock_sold"))

    // RNK top-selling product per supplier, deterministic tiebreak on
    // partkey (reference: W1, m_supplier_performance_task.py:145-155 — the
    // reference has no tiebreak; SURVEY §7.4.1).
    val top = Rnk.topKPerGroup(prod, Seq("l_suppkey"), col("product_revenue"),
                               Seq(col("p_partkey")))
      .select(col("l_suppkey"), col("p_name").as("top_selling_product"))

    // JNR left joins keep zero-sales suppliers; EXP patches nulls
    // (reference: J6/J7 + null patches, m_supplier_performance_task.py:159-209).
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    val joined = sup
      .join(supAgg, sup("s_suppkey") === supAgg("l_suppkey"), "left")
      .drop("l_suppkey")
      .join(top, sup("s_suppkey") === top("l_suppkey"), "left")
      .drop("l_suppkey")

    Exp.patchNulls(joined, Map(
        "total_revenue" -> 0.0,
        "total_products_sold" -> 0L,
        "total_stock_sold" -> 0.0,
        "top_selling_product" -> "No Sales"))
      .select(col("s_suppkey").as("supplier_id"),
              col("s_name").as("supplier_name"),
              col("total_revenue"),
              col("total_products_sold"),
              col("total_stock_sold"),
              col("top_selling_product"))
  }

  /** DuckDB-executable oracle for `build` — same math: exact DECIMAL(18,6)
    * per-row revenue so SUM is order-independent on both engines. */
  val oracle: String =
    """WITH sales AS (
      |  SELECT l_suppkey, l_partkey, l_quantity,
      |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS revenue
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus <> 'F'
      |), prod AS (
      |  SELECT l_suppkey, l_partkey, p_name,
      |         count(*) AS sale_cnt,
      |         sum(revenue) AS product_revenue,
      |         sum(l_quantity) AS qty
      |  FROM sales JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2, 3
      |), sup_agg AS (
      |  SELECT l_suppkey,
      |         CAST(round(sum(product_revenue), 2) AS DOUBLE) AS total_revenue,
      |         CAST(sum(sale_cnt) AS BIGINT) AS total_products_sold,
      |         CAST(sum(qty) AS DOUBLE) AS total_stock_sold
      |  FROM prod GROUP BY 1
      |), top AS (
      |  SELECT l_suppkey, p_name AS top_selling_product FROM (
      |    SELECT l_suppkey, p_name,
      |           row_number() OVER (PARTITION BY l_suppkey
      |                              ORDER BY product_revenue DESC, l_partkey) AS rn
      |    FROM prod) WHERE rn = 1
      |)
      |SELECT s_suppkey AS supplier_id,
      |       s_name AS supplier_name,
      |       coalesce(a.total_revenue, 0.0) AS total_revenue,
      |       coalesce(a.total_products_sold, 0) AS total_products_sold,
      |       coalesce(a.total_stock_sold, 0.0) AS total_stock_sold,
      |       coalesce(t.top_selling_product, 'No Sales') AS top_selling_product
      |FROM supplier s
      |LEFT JOIN sup_agg a ON s.s_suppkey = a.l_suppkey
      |LEFT JOIN top t ON s.s_suppkey = t.l_suppkey
      |""".stripMargin
}

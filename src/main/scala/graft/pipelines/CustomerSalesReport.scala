package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{RunDate, Tables}
import graft.ops.{Exp, Jnr}

/** Customer-sales-report mart
  * (reference: m_customer_sales_report_task.py:11-291), over the corpus
  * mapping sales→lineitem+orders, customers→customer(+nation for city),
  * products→part.
  *
  * Reference semantics preserved: not-cancelled filter; LEFT join to
  * products; INNER join to customers; derived SALE_MONTH/SALE_YEAR/PRICE/
  * SALE_AMOUNT; per-customer aggregate; {0.5, 0.8}-quantile loyalty tiers
  * with the exact boundary rule (== gold → SILVER); tier re-joined onto
  * detail rows; TOP_PERFORMER string-"true"/"false" flag join against the
  * top-selling products.
  *
  * Two deliberate departures (SURVEY §3.3, §7.4):
  *  - the reference computes quantiles with a mid-pipeline driver action
  *    (`approxQuantile`, relErr 0.01) and inlines the results as literals,
  *    recomputing the upstream plan per action. Here the thresholds are an
  *    exact `percentile` aggregation cross-joined (broadcast, 1 row) into
  *    the same plan: deterministic, one job, upstream computed once.
  *  - tier re-join is expressed as a join on the customer aggregate, which
  *    Spark plans as a broadcast join of the (small) per-customer tier table
  *    onto the detail stream — no second shuffle of the fact.
  */
object CustomerSalesReport {

  /** Locale-independent English month name (the reference's
    * date_format('MMMM') depends on the JVM default locale — SURVEY §7.4.1). */
  def monthName(d: Column): Column = {
    val names = array(Seq("January", "February", "March", "April", "May",
      "June", "July", "August", "September", "October", "November",
      "December").map(lit): _*)
    element_at(names, month(d))
  }

  def build(spark: SparkSession, dir: String): DataFrame =
    build(spark, dir, RunDate.default)

  def build(spark: SparkSession, dir: String, runDate: RunDate): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
              "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
      .filter(col("o_orderstatus") =!= SupplierPerformance.ExcludedStatus)

    // sale_id synthesized from (orderkey, linenumber); linenumber is 1-7 in
    // the corpus so *10 is collision-free.
    val sales = li.join(ord, li("l_orderkey") === ord("o_orderkey"), "inner")
      .withColumn("sale_id", col("l_orderkey") * 10 + col("l_linenumber"))
      .withColumn("sale_date",
        coalesce(col("o_orderdate").cast("date"),
                 lit(runDate.minusDays(1).sqlDate)))
      .withColumn("price",
        round(Exp.money(col("l_extendedprice") / col("l_quantity")
                * (lit(1.0) - col("l_discount"))), 2).cast("double"))
      .withColumn("sale_amount",
        round(Exp.revenue(col("l_extendedprice"), col("l_discount")), 2)
          .cast("double"))

    val part = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name").as("product_name"),
              col("p_type").as("category"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name").as("customer_name"), col("c_nationkey"))
    val nation = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name").as("city"))

    val detail = sales
      .join(broadcast(part), sales("l_partkey") === part("p_partkey"), "left")
      .join(broadcast(cust), sales("o_custkey") === cust("c_custkey"), "inner")
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"), "inner")
      .select(col("sale_id"), col("c_custkey").as("customer_id"),
              col("customer_name"), col("city"), col("product_name"),
              col("category"), col("sale_date"), col("l_quantity").as("quantity"),
              col("price"), col("sale_amount"))

    // Per-customer aggregate from the NARROW pre-join sales frame, not
    // from detail: tiers need only (custkey, sale_amount), so the second
    // pass over the fact is a 2-column pruned scan instead of either
    // recomputing the dimension joins or caching the wide detail frame
    // (at 100 TB a pruned re-scan beats persisting detail). sale_amount
    // is already rounded to cents — accumulate as DECIMAL(18,2), exact on
    // both engines.
    val agg = sales.groupBy(col("o_custkey").as("customer_id"))
      .agg(sum(col("sale_amount").cast("decimal(18,2)")).cast("double")
        .as("agg_sales_amount"))
    // not persisted, for the same reason as SupplierPerformance's product
    // rollup: an unreleased cache would serve a later same-path build this
    // build's rollup after the input files changed

    // Exact quantile thresholds as a percentile AGGREGATE over the (small)
    // customer-level rollup, broadcast-cross-joined back — one
    // row, no driver round-trip (the reference's approxQuantile action
    // split the query into 3 jobs — SURVEY §3.3). A `percentile ... OVER ()`
    // empty-frame window would compute the same values but forces ALL rows
    // into a single WindowExec partition — fine at sf0.1, a straggler at
    // 100M customers; the aggregate path keeps map-side partials
    // distributed and only the merge runs on one reducer.
    val thresholds = agg.agg(
      expr("percentile(agg_sales_amount, 0.5)").as("silver_tier"),
      expr("percentile(agg_sales_amount, 0.8)").as("gold_tier"))
    val tiers = agg.crossJoin(broadcast(thresholds))
      .select(col("customer_id"),
              when(col("agg_sales_amount") > col("gold_tier"), "GOLD")
                .when(col("agg_sales_amount").between(col("silver_tier"), col("gold_tier")), "SILVER")
                .otherwise("BRONZE").as("loyalty_tier"))

    // Top-selling product names (one per supplier) → TOP_PERFORMER flag.
    // Only the product-level rollup + rank is needed — NOT the full
    // supplier mart (its supplier-table joins and null patches are
    // irrelevant here and the oracle's `top` CTE never had them).
    val top = graft.ops.Rnk.topKPerGroup(
        SupplierPerformance.productLevel(spark, dir),
        Seq("l_suppkey"), col("product_revenue"), Seq(col("p_partkey")))
      .select(col("p_name").as("top_selling_product"))

    val withTier = detail.join(broadcast(tiers), Seq("customer_id"), "left")
    val flagged = Jnr.flagJoin(withTier, top, "product_name",
                               "top_selling_product", "top_performer")

    flagged
      .withColumn("day_dt", lit(runDate.sqlDate))
      .withColumn("sale_month", monthName(col("sale_date")))
      .withColumn("sale_year", year(col("sale_date")))
      .select(col("day_dt"), col("customer_id"), col("customer_name"),
              col("sale_id"), col("city"), col("product_name"), col("category"),
              col("sale_date"), col("sale_month"), col("sale_year"),
              col("quantity"), col("price"), col("sale_amount"),
              col("loyalty_tier"), col("top_performer"))
  }

  val oracle: String =
    """WITH sales AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS sale_id,
      |         o_custkey, l_partkey, l_quantity AS quantity,
      |         CAST(o_orderdate AS DATE) AS sale_date,
      |         CAST(round(CAST(l_extendedprice / l_quantity * (1 - l_discount)
      |                         AS DECIMAL(18,6)), 2) AS DOUBLE) AS price,
      |         CAST(round(CAST(l_extendedprice * (1 - l_discount)
      |                         AS DECIMAL(18,6)), 2) AS DOUBLE) AS sale_amount
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus <> 'F'
      |), detail AS (
      |  SELECT s.sale_id, c.c_custkey AS customer_id, c.c_name AS customer_name,
      |         n.n_name AS city, p.p_name AS product_name, p.p_type AS category,
      |         s.sale_date, s.quantity, s.price, s.sale_amount
      |  FROM sales s
      |  LEFT JOIN part p ON s.l_partkey = p.p_partkey
      |  JOIN customer c ON s.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |), agg AS (
      |  SELECT o_custkey AS customer_id,
      |         CAST(sum(CAST(sale_amount AS DECIMAL(18,2))) AS DOUBLE) AS agg_sales_amount
      |  FROM sales GROUP BY 1
      |), q AS (
      |  SELECT quantile_cont(agg_sales_amount, 0.5) AS silver_tier,
      |         quantile_cont(agg_sales_amount, 0.8) AS gold_tier
      |  FROM agg
      |), tiers AS (
      |  SELECT customer_id,
      |         CASE WHEN agg_sales_amount > gold_tier THEN 'GOLD'
      |              WHEN agg_sales_amount BETWEEN silver_tier AND gold_tier THEN 'SILVER'
      |              ELSE 'BRONZE' END AS loyalty_tier
      |  FROM agg, q
      |), prod AS (
      |  SELECT l_suppkey, l_partkey, p_name,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS product_revenue
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE o_orderstatus <> 'F'
      |  GROUP BY 1, 2, 3
      |), top AS (
      |  SELECT DISTINCT p_name FROM (
      |    SELECT l_suppkey, p_name,
      |           row_number() OVER (PARTITION BY l_suppkey
      |                              ORDER BY product_revenue DESC, l_partkey) AS rn
      |    FROM prod) WHERE rn = 1
      |)
      |SELECT DATE '2024-06-01' AS day_dt, d.customer_id, d.customer_name,
      |       d.sale_id, d.city, d.product_name, d.category, d.sale_date,
      |       monthname(d.sale_date) AS sale_month,
      |       CAST(year(d.sale_date) AS INT) AS sale_year,
      |       d.quantity, d.price, d.sale_amount, t.loyalty_tier,
      |       CASE WHEN tp.p_name IS NOT NULL THEN 'true' ELSE 'false' END AS top_performer
      |FROM detail d
      |JOIN tiers t ON d.customer_id = t.customer_id
      |LEFT JOIN top tp ON d.product_name = tp.p_name
      |""".stripMargin
}

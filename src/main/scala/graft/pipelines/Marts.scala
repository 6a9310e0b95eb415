package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.connect.Warehouse
import graft.core.RunDate
import graft.ops.Exp
import graft.validate.Validator

/** Mart materialization: run a mart query, stamp the snapshot date, gate
  * on the mart's primary key, append to the warehouse history — the
  * reference's per-mart tail (validate → `write.jdbc(append)`,
  * m_supplier_performance_task.py:226-230 and peers), once, generically.
  */
object Marts {

  final case class Mart(name: String, keys: Seq[String],
                        build: (SparkSession, String) => DataFrame)

  val all: Seq[Mart] = Seq(
    Mart("supplier_performance", Seq("supplier_id"),
      (s, d) => SupplierPerformance.build(s, d)),
    Mart("product_performance", Seq("product_id"),
      (s, d) => ProductPerformance.build(s, d)),
    // the corpus deliberately plants duplicate (orderkey, linenumber)
    // pairs — sale_id alone is NOT unique (the reference's SALE_ID gate
    // would abort, which MartsSpec asserts); the mart's snapshot key is
    // the detail row identity
    Mart("customer_sales_report",
      Seq("sale_id", "product_name", "quantity", "price", "sale_amount"),
      (s, d) => CustomerSalesReport.build(s, d)))

  /** Materialize one mart snapshot. The duplicate gate runs on
    * (keys, day_dt) BEFORE the append, exactly like every reference call
    * site. Returns the snapshot row count, taken by that gate pass. */
  def materialize(spark: SparkSession, dir: String, mart: Mart,
                  runDate: RunDate, warehouse: Warehouse): Long = {
    val df = mart.build(spark, dir)
    val stamped =
      if (df.columns.contains("day_dt")) df
      else Exp.stampDayDt(df, runDate)
    val snapshot = stamped.persist()
    try {
      val rows = Validator.requireUnique(snapshot, mart.keys :+ "day_dt")
      warehouse.appendHistory(snapshot, mart.name)
      rows
    } finally snapshot.unpersist()
  }

  /** Run all marts for one load date (the reference DAG's mart segment:
    * supplier_perf >> product_perf >> csr, metamorph_etl_dag.py:49). */
  def runAll(spark: SparkSession, dir: String, runDate: RunDate,
             warehouse: Warehouse): Map[String, Long] =
    all.map(m => m.name -> materialize(spark, dir, m, runDate, warehouse)).toMap
}

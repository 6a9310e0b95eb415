package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.connect.{Rest, Warehouse}
import graft.core.RunDate
import graft.validate.Validator

/** The reference's standalone population ETL
  * (reference: usa_population_etl.py:17-56): REST JSON source → column
  * renames → row-count guard → overwrite.
  *
  * Fixes folded in: the reference's `selectExpr("ID Nation as id_nation")`
  * lacks backticks and cannot parse (SURVEY §2.3 P2) — here the mapping is
  * a contract, applied by name; and the count guard runs before the write.
  */
object Population {

  /** Source payload schema: `{"data": [{"ID Nation": ..., ...}]}`. */
  val sourceContract: StructType = StructType(Seq(
    StructField("ID Nation", StringType),
    StructField("Nation", StringType),
    StructField("ID Year", LongType),
    StructField("Year", StringType),
    StructField("Population", LongType),
    StructField("Slug Nation", StringType)))

  val targetContract: StructType = StructType(Seq(
    StructField("id_nation", StringType),
    StructField("nation", StringType),
    StructField("id_year", LongType),
    StructField("year", StringType),
    StructField("population", LongType),
    StructField("slug_nation", StringType)))

  def run(spark: SparkSession, url: String, http: Rest.Http,
          runDate: RunDate, warehouse: Warehouse): Long = {
    val raw = Rest.readData(spark, url, sourceContract, http)
    val renamed = graft.schema.SchemaOps.conformByName(raw, targetContract)
    val stamped = graft.ops.Exp.stampDayDt(renamed, runDate)
      .persist()
    try {
      val rows = stamped.count()
      Validator.requireNonEmpty(rows, "population")
      warehouse.writeStaging(stamped, "population")
      rows
    } finally stamped.unpersist()
  }
}

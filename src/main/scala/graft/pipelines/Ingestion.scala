package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.connect.Warehouse
import graft.core.RunDate
import graft.ops.Exp
import graft.schema.{DriftReport, SchemaOps}
import graft.validate.Validator

/** Result of one entity load. */
final case class IngestResult(entity: String, rows: Long, drift: DriftReport)

/** The reference's ingestion flow (ingestion_task.py:188-246) as one
  * composable function: source frame → drift report → contract
  * conformance → load-date stamp → one gate pass (duplicate keys and the
  * row count in one grouped aggregate; an empty load aborts on that
  * count) → staging overwrite + history append.
  *
  * Differences from the reference, by design (SURVEY §1.4, §7.4):
  *  - the load date is an injected [[RunDate]], not `current_date()` —
  *    runs are reproducible and backfillable without forking files
  *  - schema is conformed against a declared contract by normalized NAME
  *    (the reference renamed positionally and broke on header drift);
  *    drift is *reported*, never a crash
  *  - the duplicate gate runs BEFORE any write, like every reference call
  *    site (utils.py call sites at ingestion_task.py:56,117,172,234)
  */
object Ingestion {

  def ingest(source: DataFrame, entity: String, contract: StructType,
             keys: Seq[String], runDate: RunDate,
             warehouse: Warehouse): IngestResult = {
    val drift = SchemaOps.drift(source, contract)
    val conformed = Exp.stampDayDt(SchemaOps.conformByName(source, contract), runDate)
      .persist() // consumed by the gate and two writes — read the source once
    try {
      val rows = Validator.requireUnique(conformed, keys :+ "day_dt")
      Validator.requireNonEmpty(rows, entity)
      warehouse.writeStaging(conformed, entity)
      warehouse.appendHistory(conformed, entity)
      IngestResult(entity, rows, drift)
    } finally conformed.unpersist()
  }
}

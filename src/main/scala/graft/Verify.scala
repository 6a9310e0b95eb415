package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Sessions.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // default single-file output (the driver's layout); =0 keeps the
    // query's own partitioning so compute stays parallel — the knob
    // that makes a full-registry sf1 verify a half-hour instead of
    // hours (coalesce(1) pulls the whole plan into ONE task)
    val coalesce1 = sys.env.get("SPARK_GRAFT_VERIFY_COALESCE").forall(_ != "0")
    Mains.selected.foreach { e =>
      try {
        val df = e.build(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/${e.name}")
      }
      catch { case err: Throwable =>
        System.err.println(s"[verify] ${e.name} failed: ${err.getMessage}")
      }
      finally {
        // operators persist intermediates — drain the graft-tracked ones
        // (the library contract) plus anything else, between queries
        graft.core.Caches.release(spark)
        spark.catalog.clearCache()
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Mains.jsonString(k)}: ${Mains.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

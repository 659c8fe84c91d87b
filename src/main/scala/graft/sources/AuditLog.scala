package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.core.Parquet

/** Job audit trail: INITIATED / COMPLETED rows appended to a parquet log.
  *
  * Re-expresses the reference's `audit_job_info`
  * (`stage_1_hcp_channel_all_hardcode.py:1227-1258`): a small driver-side DataFrame
  * of per-table row counts and job status, appended to an audit table at job start
  * (status=INITIATED, counts unknown) and end (status=COMPLETED, real counts).
  * Schema mirrors FIXTURES.md A.17.
  */
object AuditLog {
  final case class AuditRow(
      table_name: String,
      rows_updated: Long,
      log_id_status: String,
      script_exe_start_time: String,
      script_exe_end_time: Option[Timestamp],
      etl_script: String,
      etl_layer: String,
      batch_id: String)

  /** S1:1250-1258 — single INITIATED marker row, null end-time / -1 count. */
  def initiated(spark: SparkSession, path: String, script: String, layer: String,
      batchId: String, startTime: String): Unit =
    append(spark, path,
      Seq(AuditRow("ALL", -1L, "INITIATED", startTime, None, script, layer, batchId)))

  /** S1:1240-1247 — one COMPLETED row per written table with its row count. */
  def completed(spark: SparkSession, path: String, counts: Seq[(String, Long)],
      script: String, layer: String, batchId: String, startTime: String): Unit = {
    val now = new Timestamp(System.currentTimeMillis())
    append(spark, path, counts.map { case (t, n) =>
      AuditRow(t, n, "COMPLETED", startTime, Some(now), script, layer, batchId)
    })
  }

  private def append(spark: SparkSession, path: String, rows: Seq[AuditRow]): Unit = {
    import spark.implicits._
    rows.toDF().coalesce(1).write.mode(SaveMode.Append).parquet(path)
  }

  def read(spark: SparkSession, path: String) = Parquet.read(spark, path)
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.core.Parquet

/** CSV → Parquet ingestion (the reference's `Python_Scripts/csv_to_parquet.py`).
  *
  * The reference is a one-shot pandas `read_csv → to_parquet` (C2P:7-8) with
  * try/log-error handling (C2P:6-11); as shipped it is buggy (misnamed function,
  * extensionless paths). This is the corrected distributed equivalent: a directory
  * of header-bearing CSVs → a parquet dataset, schema inferred — but unlike pandas
  * it streams per-partition and scales to any input size.
  */
object CsvToParquet {
  def read(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(csvPath)

  /** Convert; returns Some(rowCount) on success, None on failure (C2P's
    * try/print-error contract, surfaced as a value instead of stdout). */
  def convert(spark: SparkSession, csvPath: String, parquetPath: String): Option[Long] =
    try {
      val df = read(spark, csvPath)
      df.write.mode(SaveMode.Overwrite).parquet(parquetPath)
      Some(Parquet.read(spark, parquetPath).count())
    } catch {
      case e: Exception =>
        System.err.println(s"[csv_to_parquet] $csvPath failed: ${e.getMessage}")
        None
    }
}

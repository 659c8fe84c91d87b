package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only versioned snapshots, partitioned by an auto-incremented `version`.
  *
  * Re-expresses the reference's hand-rolled historical-table mechanism
  * (`stage_1_hcp_channel_all_hardcode.py:208-222,1110-1125`): read current
  * `max(version)` from the existing table, stamp `version = max+1` on the new
  * snapshot, append with `partitionBy("version")`. Not concurrent-write safe —
  * faithful to the reference by design (SURVEY §7.3.5); a production deployment
  * would swap the path for a transactional table format without changing callers.
  *
  * Scale notes: `version` is a partition column, so `latestVersion` is one
  * listing of the table directory, not a scan: no Spark job, no file footers,
  * one directory entry per stored version. Readers of one snapshot never
  * touch earlier ones. `coalesce(8)` mirrors the reference's output-file
  * sizing (S1:222) — at 100 TB you'd raise `outputFiles` to keep files
  * ~128MB-1GB.
  */
final class VersionedTable(spark: SparkSession, path: String, outputFiles: Int = 8) {

  /** True once at least one snapshot is stored. */
  def exists: Boolean = latestVersion.isDefined

  /** Current max version, or None if the table doesn't exist yet (S1:209-211):
    * the reference's `max(version)`, read off the `version=<n>` directory
    * names. A missing path or a directory with no such child gives None.
    * Non-numeric suffixes are ignored, as the scan's `cast("long")` nulled
    * them and `max` skipped the nulls; `_SUCCESS`, `_temporary` and
    * dot-files never match. Any other listing error propagates. */
  def latestVersion: Option[Long] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children = try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }
    children.filter(_.isDirectory).flatMap(_.getPath.getName match {
      case s"version=$v" => v.toLongOption
      case _ => None
    }).maxOption
  }

  /** Stamp version = max+1 and append (S1:212-222). Returns the written version. */
  def snapshot(df: DataFrame): Long = {
    val v = latestVersion.map(_ + 1).getOrElse(1L)
    df.withColumn("version", lit(v))
      .coalesce(outputFiles)
      .write.partitionBy("version").mode(SaveMode.Append).parquet(path)
    v
  }

  /** Read one snapshot (partition-pruned scan). */
  def at(version: Long): DataFrame =
    spark.read.parquet(path).where(col("version") === version)

  def latest: DataFrame =
    latestVersion.map(at).getOrElse(spark.emptyDataFrame)
}

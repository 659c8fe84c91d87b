package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Parquet

/** Append-only versioned snapshots, one `version=<n>` directory per snapshot.
  *
  * Re-expresses the reference's hand-rolled historical-table mechanism
  * (`stage_1_hcp_channel_all_hardcode.py:208-222,1110-1125`): read current
  * `max(version)` from the existing table, stamp `version = max+1` on the new
  * snapshot, append it as the `version=<max+1>` partition. The reference
  * appends with `partitionBy("version")`; here the frame is written whole
  * and published as `version=<v>` through [[Commit.add]] (its crash
  * contract is stated there), which is the same on-disk layout (the
  * `version` value lives in the directory name, not in the files), and an
  * empty frame still stores a schema-only file. Not concurrent-write safe —
  * faithful to the reference by design (SURVEY §7.3.5); a production
  * deployment would swap the path for a transactional table format without
  * changing callers.
  *
  * Scale notes: `version` is a partition column, so `latestVersion` is one
  * listing of the table directory, not a scan: no Spark job, no file footers,
  * one directory entry per stored version. Readers of one snapshot never
  * touch earlier ones. `coalesce(8)` mirrors the reference's output-file
  * sizing (S1:222) — at 100 TB you'd raise `outputFiles` to keep files
  * ~128MB-1GB. When the snapshot is the frame's only action (as in
  * `ChannelJobs.materialize`), the coalesce also bounds the task count of
  * the plan's last stage.
  */
final class VersionedTable(spark: SparkSession, path: String, outputFiles: Int = 8) {

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True once at least one snapshot is stored. */
  def exists: Boolean = latestVersion.isDefined

  /** The directory that holds snapshot `version`. */
  def dirOf(version: Long): Path = new Path(path, s"version=$version")

  /** Current max version, or None if the table doesn't exist yet (S1:209-211):
    * the reference's `max(version)`, read off the `version=<n>` directory
    * names. A missing path or a directory with no such child gives None.
    * Non-numeric suffixes are ignored, as the scan's `cast("long")` nulled
    * them and `max` skipped the nulls; `_SUCCESS`, `_temporary`, pending
    * snapshots and dot-files never match. Any other listing error
    * propagates. */
  def latestVersion: Option[Long] = {
    val children = try fs.listStatus(new Path(path)).toSeq
      catch { case _: FileNotFoundException => Nil }
    children.filter(_.isDirectory).flatMap(_.getPath.getName match {
      case s"version=$v" => v.toLongOption
      case _ => None
    }).maxOption
  }

  /** Stamp version = max+1 and append (S1:212-222): one write of `df`,
    * published as `version=<v>` by [[Commit.add]]. Returns the written
    * version. */
  def snapshot(df: DataFrame): Long = {
    val v = latestVersion.map(_ + 1).getOrElse(1L)
    Commit.add(fs, new Path(path, s"_pending_version_$v")) { pending =>
      df.coalesce(outputFiles).write.parquet(pending.toString)
      pending
    }(_ => dirOf(v))
    v
  }

  /** Read one snapshot (partition-pruned scan). The schema is one footer's,
    * read on the driver by [[graft.core.Parquet.read]]; `version` comes from
    * the directory names, so the read starts no Spark job. */
  def at(version: Long): DataFrame =
    Parquet.read(spark, path).where(col("version") === version)

  def latest: DataFrame =
    latestVersion.map(at).getOrElse(spark.emptyDataFrame)
}

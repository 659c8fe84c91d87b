package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Parquet

/** Append-only versioned snapshots, one `version=<n>` directory per snapshot.
  *
  * Re-expresses the reference's hand-rolled historical-table mechanism
  * (`stage_1_hcp_channel_all_hardcode.py:208-222,1110-1125`): read current
  * `max(version)` from the existing table, stamp `version = max+1` on the new
  * snapshot, append it as the `version=<max+1>` partition. The reference
  * appends with `partitionBy("version")`; here the frame is written whole
  * into a hidden pending directory and renamed to `version=<v>`, which is
  * the same on-disk layout (the `version` value lives in the directory name,
  * not in the files), so a version appears whole or not at all, and an
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

  /** Stamp version = max+1 and append (S1:212-222): one write of `df` into
    * a pending directory, then one rename publishes it. A failed write
    * removes the pending directory and leaves no version behind. Returns
    * the written version. */
  def snapshot(df: DataFrame): Long = {
    val v = latestVersion.map(_ + 1).getOrElse(1L)
    // no '=' in the name: Spark's file listing skips '_'-prefixed names
    // only when they do not look like a partition directory
    val pending = new Path(path, s"_pending_version_$v")
    val target = dirOf(v)
    try df.coalesce(outputFiles).write.mode(SaveMode.Overwrite).parquet(pending.toString)
    catch { case e: Throwable => fs.delete(pending, true); throw e }
    if (fs.exists(target) || !fs.rename(pending, target))
      throw new IllegalStateException(s"snapshot $v of $path was not published: " +
        s"renaming $pending to $target failed")
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

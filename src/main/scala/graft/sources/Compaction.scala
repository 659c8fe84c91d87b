package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction planning for a parquet table directory: micro-batch
  * appends and per-version snapshots accumulate file counts that degrade
  * every later scan (driver file-listing time, task-per-file scheduling,
  * row-group fragmentation). [[planBins]] sizes the rewrite jobs from
  * measured file bytes; the catalog's bin-packing query runs it.
  *
  * Greenfield machinery (the reference's nearest analog is its fixed
  * `coalesce(8)` before every write, S1:191/222 — a file-COUNT knob that
  * ignores data size).
  */
object Compaction {

  /** Distributed compaction PLANNER over file metadata. At 100 TB
    * "rewrite the whole table" is off the table and OPTIMIZE means: per
    * partition, group the small files into target-size rewrite jobs and
    * leave the rest alone (the Iceberg/Delta OPTIMIZE shape).
    *
    * Policy — next-fit by running offset, fully windowed: within each
    * partition, files >= `targetBytes` become singleton bins (negative
    * bin ids, already well-sized — rewriting them is wasted IO); the
    * remaining small files, in `fileCol` order, land in bin
    * `floor(start_offset / targetBytes)` where start_offset is the
    * running byte sum before the file. Each bin's bytes are therefore
    * < targetBytes + one small file < 2×targetBytes — the bounded-waste
    * price of a plan that is ONE window pass over file metadata instead
    * of a driver-side first-fit loop. At 100 TB the plan itself must be
    * distributed: this shuffles a few metadata rows per file keyed by
    * partition, never data bytes, so planning cost scales with file
    * count regardless of table size.
    *
    * Input: one row per file with (`partCol`, `fileCol`, `bytesCol`).
    * Returns the executable assignment grain (part, file_id, bytes,
    * bin_id): rewrite each non-negative bin with >= 2 files as one job. */
  def planBins(files: DataFrame, targetBytes: Long,
      partCol: String = "part_key", fileCol: String = "file_id",
      bytesCol: String = "bytes"): DataFrame = {
    require(targetBytes > 0, "targetBytes > 0")
    val small = files.where(col(bytesCol) < targetBytes)
    val big = files.where(col(bytesCol) >= targetBytes)
    val run = Window.partitionBy(col(partCol)).orderBy(col(fileCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byFile = Window.partitionBy(col(partCol)).orderBy(col(fileCol))
    val packed = small
      .withColumn("bin_id", floor(
        (sum(col(bytesCol)).over(run) - col(bytesCol)) / lit(targetBytes)))
    val singles = big
      .withColumn("bin_id", -row_number().over(byFile).cast("long"))
    packed.unionByName(singles)
      .select(col(partCol), col(fileCol), col(bytesCol), col("bin_id"))
  }
}

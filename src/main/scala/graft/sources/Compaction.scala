package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Parquet

/** Small-file compaction for a parquet table directory — the operational
  * counterpart of the streaming sinks: micro-batch appends and per-version
  * snapshots accumulate file counts that degrade every later scan (driver
  * file-listing time, task-per-file scheduling, row-group fragmentation).
  * Compaction rewrites the table at a target bytes-per-file with a
  * rename-based directory swap.
  *
  * Greenfield machinery (the reference's nearest analog is its fixed
  * `coalesce(8)` before every write, S1:191/222 — a file-COUNT knob that
  * ignores data size; this sizes from measured bytes).
  *
  * Scale notes: target partition count = ceil(on-disk bytes / targetBytes),
  * applied with `repartition` (even output files from a full shuffle —
  * `coalesce` would merge uneven neighbors and keep stragglers). All
  * listing and renaming goes through the Hadoop FileSystem resolved from
  * the path, so file:, hdfs:// and s3a:// table roots are measured and
  * swapped through the same API the scans use (object stores without
  * atomic rename pay a copy inside FileSystem.rename; correctness is
  * unchanged). The swap is single-writer and NOT atomic for readers:
  * between moving the old directory aside and renaming the rewrite into
  * place there is a brief window where `path` does not exist — concurrent
  * readers should treat FileNotFound during a compaction window as
  * retryable. Crash windows leave either the original directory (possibly
  * at `path__old` plus `path__compact` debris) or the finished table,
  * never a half-rewritten mix of old and new files under `path`. A table
  * format with a commit protocol drops in without changing callers.
  */
object Compaction {

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** On-disk parquet bytes under `path` (driver-side listing — the same
    * metadata walk every scan's planning already performs). */
  def tableBytes(spark: SparkSession, path: String): Long = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) return 0L
    val it = fs.listFiles(root, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    total
  }

  def parquetFileCount(spark: SparkSession, path: String): Int = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) return 0
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Distributed compaction PLANNER over file metadata — the piece
    * [[compact]] can't be at 100 TB, where "rewrite the whole table" is
    * off the table and OPTIMIZE means: per partition, group the small
    * files into target-size rewrite jobs and leave the rest alone
    * (the Iceberg/Delta OPTIMIZE shape).
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

  /** Rewrite `path` at `targetBytes` per output file. Returns
    * (filesBefore, filesAfter). The rewrite lands in `path__compact`, the
    * old directory moves to `path__old`, the new one renames into place,
    * and the old data is deleted last. See the object doc for the reader
    * visibility window and crash-recovery states. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "targetBytes > 0")
    val before = parquetFileCount(spark, path)
    val bytes = tableBytes(spark, path)
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = path + "__compact"
    val old = path + "__old"
    Parquet.read(spark, path).repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val (fs, dir) = fsFor(spark, path)
    val oldDir = new Path(old)
    val tmpDir = new Path(tmp)
    if (fs.exists(oldDir)) fs.delete(oldDir, true)
    require(fs.rename(dir, oldDir), s"swap failed: $path -> $old")
    require(fs.rename(tmpDir, dir), s"swap failed: $tmp -> $path")
    fs.delete(oldDir, true)
    (before, parquetFileCount(spark, path))
  }
}

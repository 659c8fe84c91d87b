package graft.jobs

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.core.TableRegistry
import graft.sources.{AuditLog, Commit, VersionedTable}

/** Job driver sequencing — the reference's `__main__` lifecycle
  * (`S1:1261-1304` = `/root/reference/PySpark_Scripts/
  * stage_1_hcp_channel_all_hardcode.py`):
  *
  *   audit INITIATED → {nvs_tam ∥ nvs_digital} → catalog refresh → audit COMPLETED
  *
  * The reference runs the two jobs one after the other; they read disjoint
  * staging views and write disjoint paths, so here they run concurrently
  * (see [[par]]). Each job materializes ONE DataFrame: the six digital views
  * are lazy plan aliases that Catalyst inlines and optimizes as a whole —
  * only the final union is ever executed (SURVEY §3). The reference runs
  * that frame as persist → count → staging overwrite → versioned append
  * (S1:185-222,1086-1125); here it runs as ONE Spark action, the versioned
  * append, which also observes the row count, and the staging table is
  * published as a file copy of the new version. The outputs are the same:
  * the staging rows, columns and column order, the new version, the count.
  *
  * Scale notes: `coalesce(8)` mirrors the reference's output-file sizing —
  * at real scale pass `outputFiles` sized to ~128MB-1GB per file. With no
  * persist in front of the write, the coalesce also bounds the task count
  * of the plan's last stage. The versioned append touches only the new
  * `version=` directory; the staging copy moves bytes on the driver, not in
  * Spark tasks, so it costs one read and one write of the output files.
  * Both publish through [[graft.sources.Commit]], whose crash contract
  * covers them; a rerun after a crash publishes the next version.
  * Running the jobs side by side fills the cores one job alone leaves idle
  * on plan building and small stages.
  */
object ChannelJobs {

  final case class JobConfig(
      outDir: String,
      script: String = "stage_1_channel_all",
      layer: String = "normalized",
      batchId: String = "b1",
      outputFiles: Int = 8)

  final case class TableWrite(table: String, rows: Long, version: Long)

  /** Runs `a` on a fresh thread and `b` on the calling one, and returns once
    * both have finished. If either throws, the other is still joined; then
    * `a`'s error (else `b`'s) is rethrown, with the other attached by
    * `addSuppressed`. The forked thread never outlives the call. Each side
    * owns its [[graft.core.CacheScope]], which is per thread. */
  private def par[A, B](a: => A, b: => B): (A, B) = {
    var ra: Either[Throwable, A] = null
    val t = new Thread(() => ra = try Right(a) catch { case e: Throwable => Left(e) },
      "ChannelJobs.par")
    t.start()
    val rb = try Right(b) catch { case e: Throwable => Left(e) }
    var interrupted = false
    while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(ea), Left(eb)) => ea.addSuppressed(eb); throw ea
      case (Left(e), _) => throw e
      case (_, Left(e)) => throw e
    }
  }

  /** One action per output (S1:185-222 for tam, S1:1086-1125 for
    * digital): the versioned append writes `df` once and counts its rows
    * as it goes, then `<table>_staging` is replaced by a copy of the new
    * version's files. `df` is built inside the drain, so the persists a
    * build registers are released even when the build itself throws. */
  def materialize(s: SparkSession, df: => DataFrame, table: String,
      cfg: JobConfig): TableWrite = {
    try {
      val rows = new Observation()
      val hist = new VersionedTable(s, s"${cfg.outDir}/${table}_historical",
        cfg.outputFiles)
      // max(version)+1 append (S1:208-222); read the count only once the
      // write has returned, as a failed write never completes the observation
      val v = hist.snapshot(df.observe(rows, count(lit(1)).as("rows")))
      val n = rows.get("rows").asInstanceOf[Long] // the count of S1:188
      val staging = new Path(s"${cfg.outDir}/${table}_staging") // S1:191
      val conf = s.sparkContext.hadoopConfiguration
      val fs = staging.getFileSystem(conf)
      Commit.replace(fs, staging) { tmp =>
        if (!FileUtil.copy(fs, hist.dirOf(v), fs, tmp, false, conf))
          throw new IllegalStateException(s"could not copy version $v to $tmp")
      }
      TableWrite(table, n, v)
    } finally {
      // materialize runs the job's terminal actions, so it is the session
      // owner in the CacheScope contract: release operator-internal persists
      // (NvsPipeline's allHcp union) here, or a rerun re-persisting the
      // identical plan trips CacheManager's "already cached" plan-match
      graft.core.CacheScope.drain()
    }
  }

  /** `nvs_tam` (S1:93-225). */
  def runTam(s: SparkSession, cfg: JobConfig): TableWrite =
    materialize(s, NvsPipeline.tamCe(s), "tam_nvs", cfg)

  /** `nvs_digital` (S1:227-1128): six lazy views, one materialized union. */
  def runDigital(s: SparkSession, cfg: JobConfig): TableWrite =
    materialize(s, NvsPipeline.combined(s), "digital_nvs", cfg)

  /** Full driver sequence (S1:1279-1304), with the two jobs run concurrently.
    * COMPLETED is written only when both jobs succeed. `registry.refresh`
    * stands in for the Glue crawler (M-6): re-reads written parquet footers
    * so downstream consumers see the new tables through the catalog. */
  def run(s: SparkSession, cfg: JobConfig,
      registry: Option[TableRegistry] = None): Seq[TableWrite] = {
    val auditPath = s"${cfg.outDir}/audit_log"
    val start = new java.sql.Timestamp(System.currentTimeMillis()).toString
    AuditLog.initiated(s, auditPath, cfg.script, cfg.layer, cfg.batchId, start)

    val (tam, digital) = par(runTam(s, cfg), runDigital(s, cfg))
    val writes = Seq(tam, digital)

    registry.foreach { r =>
      r.register("tam_nvs_staging", s"${cfg.outDir}/tam_nvs_staging")
      r.register("digital_nvs_staging", s"${cfg.outDir}/digital_nvs_staging")
    }
    AuditLog.completed(s, auditPath, writes.map(w => w.table -> w.rows),
      cfg.script, cfg.layer, cfg.batchId, start)
    writes
  }
}

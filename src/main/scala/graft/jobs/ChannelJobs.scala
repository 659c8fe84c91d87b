package graft.jobs

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.core.{CacheScope, TableRegistry}
import graft.operators.Components
import graft.sources.{AuditLog, Commit, VersionedTable}

/** Job driver sequencing — the reference's `__main__` lifecycle
  * (`S1:1261-1304` = `/root/reference/PySpark_Scripts/
  * stage_1_hcp_channel_all_hardcode.py`):
  *
  *   audit INITIATED → {nvs_tam ∥ nvs_digital} → catalog refresh → audit COMPLETED
  *
  * The reference runs the two jobs one after the other; they read disjoint
  * staging views and write disjoint paths, so here they run concurrently.
  * `nvs_tam` materializes one lazy DataFrame. The six digital views are
  * independent too, yet one query over their union ran in about the sum of
  * their separate times; so `nvs_digital` builds each view on its own
  * thread and seals it there: one Spark job per view computes its rows into
  * a persisted RDD ([[graft.operators.Components.checkpointedCounted]]), and
  * the view becomes a frame over that RDD. The digital write is then the union of
  * the six seals, a plan of six RDD scans, and a run waits for its longest
  * view. Its rows, columns and column order are those of the lazy
  * [[NvsPipeline.combined]].
  *
  * Threads: every thread [[run]] and [[runDigital]] start is joined before
  * they return, also when a job or view fails; the first error is rethrown
  * in a fixed order (tam, digital; the views in union order), with the
  * others attached as suppressed. A view's thread drains its own
  * [[graft.core.CacheScope]] once its seal is done; the seals themselves
  * are released by the digital job's thread after its write, or after the
  * failure of any view.
  *
  * The reference runs each output as persist → count → staging overwrite
  * → versioned append (S1:185-222,1086-1125); here the versioned append is
  * the one action over the output, and it also observes the row count; the
  * staging table is published as a file copy of the new version. The
  * outputs are the same: the staging rows, columns and column order, the
  * new version, the count.
  *
  * Scale notes: `coalesce(8)` mirrors the reference's output-file sizing —
  * at real scale pass `outputFiles` sized to ~128MB-1GB per file. A version
  * holds at most `outputFiles` files: `tam_nvs` one per task of its last
  * stage, up to that bound, and `digital_nvs` one per partition of its
  * seals, up to that bound (each seal is one partition at small scale, so
  * six files). The versioned append touches only the new `version=`
  * directory; the staging copy moves bytes on the driver, not in Spark
  * tasks, so it costs one read and one write of the output files. Both
  * publish through [[graft.sources.Commit]], whose crash contract covers
  * them; a rerun after a crash publishes the next version.
  */
object ChannelJobs {

  final case class JobConfig(
      outDir: String,
      script: String = "stage_1_channel_all",
      layer: String = "normalized",
      batchId: String = "b1",
      outputFiles: Int = 8)

  final case class TableWrite(table: String, rows: Long, version: Long)

  /** Runs each task on its own thread, named `ChannelJobs.<name>`, and
    * returns their results in task order once every thread has finished.
    * If any task throws, the others are still joined; then the first error
    * in task order is rethrown, with the later ones attached by
    * `addSuppressed`. No thread outlives the call. Each task owns its
    * [[graft.core.CacheScope]], which is per thread. */
  private def forkJoin[A](tasks: Seq[(String, () => A)]): Seq[A] = {
    val out = new Array[Either[Throwable, A]](tasks.size)
    val threads = tasks.zipWithIndex.map { case ((name, task), i) =>
      new Thread(() => out(i) = try Right(task()) catch { case e: Throwable => Left(e) },
        s"ChannelJobs.$name")
    }
    threads.zipWithIndex.foreach { case (t, i) =>
      try t.start() catch { case e: Throwable => out(i) = Left(e) }
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    out.collect { case Left(e) => e }.toList match {
      case Nil => out.toSeq.map(_.toOption.get)
      case first :: rest => rest.foreach(first.addSuppressed); throw first
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
      // owner in the CacheScope contract: release the persists its build
      // registered (tam's, or digital's DMA dim and seals) here, or a rerun
      // re-persisting the identical plan trips CacheManager's "already
      // cached" plan-match
      CacheScope.drain()
    }
  }

  /** `nvs_tam` (S1:93-225). */
  def runTam(s: SparkSession, cfg: JobConfig): TableWrite =
    materialize(s, NvsPipeline.tamCe(s), "tam_nvs", cfg)

  /** `nvs_digital` (S1:227-1128): the six views, each built and sealed on
    * its own thread, written as one union of the seals. */
  def runDigital(s: SparkSession, cfg: JobConfig): TableWrite =
    materialize(s, sealedViews(s), "digital_nvs", cfg)

  /** The union of [[NvsPipeline.digitalViews]], in their order, each view
    * built and sealed on its own thread over one shared DMA dim, which is
    * persisted on the calling thread. A view's thread drains its own
    * CacheScope once its seal is done. Each seal's release is registered
    * with the calling thread's CacheScope, so [[materialize]]'s drain frees
    * it after the write; that holds too for the seals that were made when
    * another view failed. */
  private def sealedViews(s: SparkSession): DataFrame = {
    val dmas = NvsPipeline.sharedDmas(s)
    val releases = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    try forkJoin(NvsPipeline.digitalViews.map { case (name, view) =>
      name -> { () =>
        try {
          val (sv, ids, _) = Components.checkpointedCounted(view(s, dmas))
          releases.add(() => Components.release(sv, ids))
          sv
        } finally CacheScope.drain()
      }
    }).reduce(_ union _)
    finally releases.forEach(r => CacheScope.onDrain(r))
  }

  /** Full driver sequence (S1:1279-1304), with the two jobs run concurrently.
    * If a job fails, the other still publishes, and the first error in the
    * order tam, digital is rethrown (see [[forkJoin]]); a failing digital
    * job's error is the first failing view's, in union order. COMPLETED is
    * written only when both jobs succeed. `registry.refresh`
    * stands in for the Glue crawler (M-6): re-reads written parquet footers
    * so downstream consumers see the new tables through the catalog. */
  def run(s: SparkSession, cfg: JobConfig,
      registry: Option[TableRegistry] = None): Seq[TableWrite] = {
    val auditPath = s"${cfg.outDir}/audit_log"
    val start = new java.sql.Timestamp(System.currentTimeMillis()).toString
    AuditLog.initiated(s, auditPath, cfg.script, cfg.layer, cfg.batchId, start)

    val writes = forkJoin(Seq("tam" -> (() => runTam(s, cfg)),
      "digital" -> (() => runDigital(s, cfg))))

    registry.foreach { r =>
      r.register("tam_nvs_staging", s"${cfg.outDir}/tam_nvs_staging")
      r.register("digital_nvs_staging", s"${cfg.outDir}/digital_nvs_staging")
    }
    AuditLog.completed(s, auditPath, writes.map(w => w.table -> w.rows),
      cfg.script, cfg.layer, cfg.batchId, start)
    writes
  }
}

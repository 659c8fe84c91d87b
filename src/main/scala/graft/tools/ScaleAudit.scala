package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool: the second-decade scale audit (BASELINE.md "100× spot check",
  * widened per round-11 verdict item 2). For each named catalog query and
  * each data directory, runs one discarded warmup then `reps` timed passes
  * and prints a `SCALEAUDIT <query> <dir> <median_s> <rows>` line; the
  * 10×→100× ratio of those medians is the second-decade factor BASELINE.md
  * records. One JVM per DIRECTORY (not per query) keeps session startup out
  * of the numbers, and [[graft.core.Timing.warmThenTime]] drains the
  * CacheScope after every pass, outside the timed region, as Bench does.
  *
  * When `SPARK_GRAFT_SCALE_OUT` is set, every measurement also appends one
  * JSON line `{"query":…,"dir":…,"median_s":…,"rows":…,"all_s":[…],…}` to
  * that path — `scripts/scale_json.py` pivots the lines into the per-round
  * `SCALE_rN.json` (query → tier → median) so the driver can regress scale
  * factors round-over-round like it does correctness.
  *
  * Usage: `ScaleAudit q01_group_sum,q17_week_to_month <dir> [reps]` */
object ScaleAudit {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val out = sys.env.get("SPARK_GRAFT_SCALE_OUT")
    names.foreach { name =>
      val q = graft.QueryCatalog.all.find(_.name == name)
        .getOrElse(sys.error(s"no such query: $name"))
      measure(spark, name, dir, reps, out)(_ => q.run(spark, dir).count())
    }
    spark.stop()
  }

  // Memory/spill audit (guide §5, round-17 verdict item 6): accumulate
  // stage-level task metrics across each measurement's TIMED passes so the
  // per-tier lines carry spill growth next to wall growth. spill_* are
  // sums over stages (well-defined totals); peak_exec_mb is the MAX over
  // stages of the stage's task-summed peak execution memory — an upper
  // bound on the query's concurrent execution-memory footprint, the
  // right shape for "does memory grow faster than data". jobs counts the
  // Spark jobs the timed passes started.
  private final class MemCounters extends SparkListener {
    val spillMem, spillDisk, peakExec, jobs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        peakExec.getAndUpdate(p => math.max(p, m.peakExecutionMemory)): Unit
      }
    }
    def reset(): Unit = {
      spillMem.set(0); spillDisk.set(0); peakExec.set(0); jobs.set(0)
    }
  }

  /** Measure one op (`op(rep)` returns its row count): a discarded warmup,
    * `reps` timed passes, then one `SCALEAUDIT` line (median, all passes,
    * spill and peak memory, codegen compilations and Spark jobs of the
    * timed passes) and, when `out` is set, the same figures appended to
    * that path as one JSON line. */
  def measure(spark: SparkSession, tag: String, dir: String, reps: Int,
      out: Option[String])(op: String => Long): Unit = {
    val sc = spark.sparkContext
    // listener events are posted async; drain the bus after the warmup so
    // its stages don't leak into the timed counters
    def drainListeners(): Unit = org.apache.spark.sql.graftshim.Bridge
      .drainListeners(sc, timeoutMs = 60000L)
    val c = new MemCounters
    // Janino compilations are counted JVM-wide: a nonzero figure means the
    // timed passes paid codegen that the warmup did not leave cached
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var compiles0 = 0L
    sc.addSparkListener(c)
    val (times, rows) = try {
      val r = graft.core.Timing.warmThenTime[Long](reps,
        after = (rep, _, _) => if (rep == "warm") {
          drainListeners(); c.reset(); compiles0 = compiles()
        })(op)
      drainListeners() // every timed stage has reached the counters
      r
    } finally sc.removeSparkListener(c)
    val codegen = compiles() - compiles0
    val mb = 1024.0 * 1024.0
    val spillM = c.spillMem.get / mb
    val spillD = c.spillDisk.get / mb
    val peakM = c.peakExec.get / mb
    val jobs = c.jobs.get
    val median = times(times.size / 2)
    val all = times.map(t => f"$t%.2f").mkString(",")
    println(f"SCALEAUDIT $tag $dir $median%.2f s ($rows rows) all=$all " +
      f"spill_mem_mb=$spillM%.1f spill_disk_mb=$spillD%.1f " +
      f"peak_exec_mb=$peakM%.1f codegen_compiles=$codegen jobs=$jobs")
    out.foreach { path =>
      // Jsons.str escapes, so a quote/backslash in a data dir path can't
      // produce a line scripts/scale_json.py fails to parse.
      val js = graft.core.Jsons.str _
      val line = f"""{"query":${js(tag)},"dir":${js(dir)},"median_s":$median%.3f,""" +
        s""""rows":$rows,"all_s":[$all],""" +
        f""""spill_mem_mb":$spillM%.1f,"spill_disk_mb":$spillD%.1f,""" +
        f""""peak_exec_mb":$peakM%.1f,"codegen_compiles":$codegen,""" +
        s""""jobs":$jobs}""" + "\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND): Unit
    }
  }
}

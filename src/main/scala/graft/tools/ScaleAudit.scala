package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: the second-decade scale audit (BASELINE.md "100× spot check",
  * widened per round-11 verdict item 2). For each named catalog query and
  * each data directory, runs one discarded warmup then `reps` timed passes
  * and prints a `SCALEAUDIT <query> <dir> <median_s> <rows>` line; the
  * 10×→100× ratio of those medians is the second-decade factor BASELINE.md
  * records. One JVM per DIRECTORY (not per query) keeps session startup out
  * of the numbers while `CacheScope.drain()` between queries keeps every
  * timed pass cold, matching Bench methodology — like Bench, the drain runs
  * OUTSIDE the timed region (cache release is session hygiene, not query
  * compute, and a blocking unpersist of a large cached set would inflate
  * exactly the large-tier medians the decade ratios divide by).
  *
  * When `SPARK_GRAFT_SCALE_OUT` is set, every measurement also appends one
  * JSON line `{"query":…,"dir":…,"median_s":…,"rows":…,"all_s":[…]}` to
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
    val spark = graft.core.Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def drainListeners(): Unit = org.apache.spark.sql.graftshim.Bridge
      .drainListeners(spark.sparkContext, timeoutMs = 60000L)
    // Memory/spill audit (guide §5, round-17 verdict item 6): accumulate
    // stage-level task metrics across each query's TIMED passes so the
    // per-tier lines carry spill growth next to wall growth. spill_* are
    // sums over stages (well-defined totals); peak_exec_mb is the MAX over
    // stages of the stage's task-summed peak execution memory — an upper
    // bound on the query's concurrent execution-memory footprint, the
    // right shape for "does memory grow faster than data".
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val peakExec = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
            peakExec.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
            ()
          }
        }
      })
    names.foreach { name =>
      val q = graft.QueryCatalog.all.find(_.name == name)
        .getOrElse(sys.error(s"no such query: $name"))
      var rows = 0L
      rows = q.run(spark, dir).count() // discarded warmup
      graft.core.CacheScope.drain()
      // listener events are posted async; drain the bus so warmup stages
      // don't leak into the timed counters
      drainListeners()
      spillMem.set(0); spillDisk.set(0); peakExec.set(0)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rows = q.run(spark, dir).count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.core.CacheScope.drain() // outside the timed region, as Bench
        t
      }.sorted
      drainListeners() // every timed stage has reached the counters
      val mb = 1024.0 * 1024.0
      val spillM = spillMem.get / mb
      val spillD = spillDisk.get / mb
      val peakM = peakExec.get / mb
      val median = times(times.size / 2)
      val all = times.map(t => f"$t%.2f").mkString(",")
      println(f"SCALEAUDIT $name $dir $median%.2f s ($rows rows) all=$all " +
        f"spill_mem_mb=$spillM%.1f spill_disk_mb=$spillD%.1f " +
        f"peak_exec_mb=$peakM%.1f")
      sys.env.get("SPARK_GRAFT_SCALE_OUT").foreach { path =>
        // Jsons.str escapes, so a quote/backslash in a data dir path can't
        // produce a line scripts/scale_json.py fails to parse.
        val js = graft.core.Jsons.str _
        val line = f"""{"query":${js(name)},"dir":${js(dir)},"median_s":$median%.3f,""" +
          s""""rows":$rows,"all_s":[$all],""" +
          f""""spill_mem_mb":$spillM%.1f,"spill_disk_mb":$spillD%.1f,""" +
          f""""peak_exec_mb":$peakM%.1f}""" + "\n"
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND): Unit
      }
    }
    spark.stop()
  }
}

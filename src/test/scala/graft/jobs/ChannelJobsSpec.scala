package graft.jobs

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.graftshim.Bridge
import graft.SparkSpec
import graft.core.{Sessions, TableRegistry}
import graft.sources.AuditLog

/** End-to-end driver sequence over the fixtures: staging overwrite, versioned
  * historical append with monotone versions, audit INITIATED/COMPLETED rows
  * (S1:1261-1304 lifecycle), the concurrent jobs' failure semantics, and
  * one Spark execution per materialized output. */
class ChannelJobsSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Runs `body` with `views` dropped, and registers the fixtures again after. */
  private def withoutViews[T](views: String*)(body: => T): T = {
    NvsFixtures.registerAll(spark)
    views.foreach(spark.catalog.dropTempView)
    try body finally NvsFixtures.registerAll(spark)
  }

  test("EnvConfig: two-env INI selects by argument; missing section raises " +
      "the reference's error") {
    val ini = Files.createTempFile("graft_cfg", ".ini")
    Files.writeString(ini, """
      |# per-environment job configuration (S1:23-40,50-91 shape)
      |[dev]
      |out_dir = /tmp/graft_dev_out
      |batch_id = dev1
      |folder_names = {"normalized": "normalized_dev", "landing": "landing_dev"}
      |
      |[prod]
      |out_dir = /data/graft_prod_out
      |batch_id = prod1
      |output_files: 64
      |athena_database = {"normalized": "norm_db", "landing": "land_db"}
      |""".stripMargin)
    val cfg = EnvConfig.readConfigFile(ini.toString)
    // env is a runtime argument (getResolvedOptions shape), not compile-time
    val dev = EnvConfig.fromArgs(
      Array("--config", ini.toString, "--environment", "dev"))
    val prod = EnvConfig.fromArgs(
      Array("--config", ini.toString, "--environment", "prod"))
    assert(dev.outDir == "/tmp/graft_dev_out" && dev.batchId == "dev1")
    assert(dev.outputFiles == 8) // case-class default when the key is absent
    assert(prod.outDir == "/data/graft_prod_out" && prod.outputFiles == 64)
    // JSON-valued options sub-key-indexed like json.loads(...)['normalized']
    assert(cfg.getJson("dev", "folder_names", "normalized") == "normalized_dev")
    assert(cfg.getJson("prod", "athena_database", "landing") == "land_db")
    // check_config_section: message verbatim from S1:39-40
    val err = intercept[IllegalArgumentException] {
      EnvConfig.jobConfig(cfg, "staging")
    }
    assert(err.getMessage ==
      "Environment details doesn't exist in configuration file")
  }

  test("EnvConfig feeds a real run: the INI-selected env drives the job") {
    NvsFixtures.registerAll(spark)
    val dir = Files.createTempDirectory("graft_cfg_run").toString
    val ini = Files.createTempFile("graft_cfg_run", ".ini")
    Files.writeString(ini,
      s"[test]\nout_dir = $dir\nbatch_id = cfgrun\noutput_files = 2\n")
    val cfg = EnvConfig.fromArgs(
      Array("--config", ini.toString, "--environment", "test"))
    val writes = ChannelJobs.run(spark, cfg, None)
    assert(writes.map(_.table) == Seq("tam_nvs", "digital_nvs"))
    assert(writes.forall(_.rows > 0))
    assert(new java.io.File(s"$dir/tam_nvs_staging").exists())
  }

  test("full run: staging + historical + audit; reruns bump the version") {
    NvsFixtures.registerAll(spark)
    val dir = Files.createTempDirectory("graft_jobs").toString
    val cfg = ChannelJobs.JobConfig(outDir = dir, batchId = "t1")
    val registry = new TableRegistry(spark)

    val w1 = ChannelJobs.run(spark, cfg, Some(registry))
    assert(w1.map(_.table) == Seq("tam_nvs", "digital_nvs"))
    assert(w1.forall(_.version == 1L))
    assert(w1.forall(_.rows > 0))

    // staging readable through the refreshed registry, counts match
    assert(registry.table("tam_nvs_staging").count() == w1.head.rows)
    assert(registry.table("digital_nvs_staging").count() == w1(1).rows)
    assert(registry.tablesMatching("staging").size == 2)

    // second run: staging overwritten (same count), historical appends v2
    val w2 = ChannelJobs.run(spark, cfg.copy(batchId = "t2"), None)
    assert(w2.forall(_.version == 2L))
    val hist = spark.read.parquet(s"$dir/digital_nvs_historical")
    assert(hist.select("version").distinct().count() == 2)
    // each snapshot is the full table (append-only snapshots, not deltas)
    assert(hist.where(col("version") === 1).count() == w1(1).rows)
    assert(hist.where(col("version") === 2).count() == w2(1).rows)

    // audit trail: one INITIATED marker + one COMPLETED row per table, per run
    val audit = AuditLog.read(spark, s"$dir/audit_log")
    assert(audit.where(col("log_id_status") === "INITIATED").count() == 2)
    val completed = audit.where(col("log_id_status") === "COMPLETED")
    assert(completed.count() == 4)
    val counts = completed.where(col("batch_id") === "t1")
      .select("table_name", "rows_updated").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == w1.map(w => w.table -> w.rows).toMap)
  }

  test("a warm run reuses its generated classes: the codegen cache holds " +
      "the job's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    NvsFixtures.registerAll(spark)
    val dir = Files.createTempDirectory("graft_codegen").toString
    val cfg = ChannelJobs.JobConfig(outDir = dir, batchId = "c1")
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ChannelJobs.run(spark, cfg)
    val c0 = compiles()
    ChannelJobs.run(spark, cfg.copy(batchId = "c2"))
    // at Spark's default 100 entries this warm run compiled 230 classes,
    // since the ~250-class cycle evicts each one before its next use; with
    // the working set cached it compiled 16. The bound is a tenth of 230.
    val warm = compiles() - c0
    assert(warm <= 23, s"$warm classes compiled by a warm run")
  }

  private def columns(df: DataFrame) = df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  private def channelJobsThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith("ChannelJobs."))

  /** The digital staging table under `dir` has the columns, types, order
    * and exact rows of the lazy union over the registered inputs, and holds
    * every DTC view's channel and both HCP views' rows. */
  private def assertDigitalIsLazyUnion(dir: String, label: String): Unit = {
    val written = spark.read.parquet(s"$dir/digital_nvs_staging")
    val lazyUnion = NvsPipeline.combined(spark)
    try {
      assert(columns(written) == columns(lazyUnion), label)
      assert(sameRows(written, lazyUnion), label)
    } finally graft.core.CacheScope.drain()
    val reached = written.select("audience", "channel").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(Set("Display", "Paid Search", "Point of Care", "Paid Social")
      .map("DTC" -> _).subsetOf(reached), s"$label: $reached")
    // HCP paid search, and a channel only hcp_all_channels yields
    assert(Set("HCP" -> "Paid Search", "HCP" -> "Display").subsetOf(reached),
      s"$label: $reached")
  }

  test("concurrent run equals the two jobs run one after the other") {
    NvsFixtures.registerAll(spark)
    val dir = Files.createTempDirectory("graft_par").toString
    val seqDir = Files.createTempDirectory("graft_seq").toString
    val cfg = ChannelJobs.JobConfig(outDir = dir, batchId = "p1", outputFiles = 2)
    val seqCfg = cfg.copy(outDir = seqDir)
    val w = ChannelJobs.run(spark, cfg)
    val ws = Seq(ChannelJobs.runTam(spark, seqCfg), ChannelJobs.runDigital(spark, seqCfg))
    assert(w == ws)
    for (t <- Seq("tam_nvs", "digital_nvs"))
      assert(sameRows(spark.read.parquet(s"$dir/${t}_staging"),
        spark.read.parquet(s"$seqDir/${t}_staging")), t)
    assertDigitalIsLazyUnion(dir, "fixtures")

    val w2 = ChannelJobs.run(spark, cfg.copy(batchId = "p2"))
    assert(w2.map(_.version) == Seq(2L, 2L))
    for (t <- Seq("tam_nvs", "digital_nvs")) {
      val hist = spark.read.parquet(s"$dir/${t}_historical")
      assert(hist.select("version").distinct().collect().map(_.getInt(0)).toSet ==
        Set(1, 2), t)
      assert(sameRows(hist.where(col("version") === 2).drop("version"),
        spark.read.parquet(s"$dir/${t}_staging")), t)
    }

    // generated inputs: StressGen's shapes with seeded values, small factor
    try for (seed <- Seq(7L, 23L)) {
      StressGen.registerAll(spark, factor = 0.002, seed = seed)
      val genDir = Files.createTempDirectory(s"graft_par_gen$seed").toString
      val gw = ChannelJobs.run(spark, cfg.copy(outDir = genDir))
      assert(gw.forall(_.rows > 0), s"seed $seed: $gw")
      assertDigitalIsLazyUnion(genDir, s"StressGen seed $seed")
    } finally {
      Seq("hcp_search_v2_base", "hcp_search_v3_base").foreach(spark.catalog.dropTempView)
      NvsFixtures.registerAll(spark)
    }
  }

  test("a failing build releases the persists it registered") {
    NvsFixtures.registerAll(spark)
    val sc = spark.sparkContext
    def held() = (Bridge.cachedEntries(spark), sc.getPersistentRDDs.size)
    val before = held()
    ChannelJobs.run(spark, ChannelJobs.JobConfig(
      outDir = Files.createTempDirectory("graft_leak_ok").toString, outputFiles = 2))
    assert(held() == before, "(cache entries, persistent RDDs) after a successful run")

    // one digital view's input missing: the other five are sealed, then released
    val dir = Files.createTempDirectory("graft_leak").toString
    val err = withoutViews("hcp_all_weekly") {
      intercept[AnalysisException](ChannelJobs.run(spark,
        ChannelJobs.JobConfig(outDir = dir, batchId = "l1", outputFiles = 2)))
    }
    assert(err.getMessage.contains("hcp_all_weekly"), err.getMessage)
    assert(channelJobsThreads.isEmpty, channelJobsThreads)
    assert(graft.core.CacheScope.pending == 0)
    assert(held() == before, "(cache entries, persistent RDDs) after a failed run")
    assert(spark.read.parquet(s"$dir/tam_nvs_historical")
      .select("version").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(new java.io.File(s"$dir/tam_nvs_staging").isDirectory)
    val digital = new java.io.File(s"$dir/digital_nvs_historical")
    assert(Option(digital.list()).forall(!_.exists(_.startsWith("version="))))
    assert(!new java.io.File(s"$dir/digital_nvs_staging").exists())
    val audit = AuditLog.read(spark, s"$dir/audit_log")
    assert(audit.where(col("log_id_status") === "COMPLETED").isEmpty)
  }

  test("one job failing: the other completes, no COMPLETED row, no thread left") {
    val dir = Files.createTempDirectory("graft_fail").toString
    val cfg = ChannelJobs.JobConfig(outDir = dir, batchId = "f1", outputFiles = 2)
    withoutViews("costs_wide") {
      intercept[AnalysisException](ChannelJobs.run(spark, cfg))
    }
    assert(channelJobsThreads.isEmpty, channelJobsThreads)
    val tam = NvsPipeline.tamCe(spark)
    assert(sameRows(spark.read.parquet(s"$dir/tam_nvs_staging"), tam))
    val hist = spark.read.parquet(s"$dir/tam_nvs_historical")
    assert(hist.select("version").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(sameRows(hist.drop("version"), tam))
    val audit = AuditLog.read(spark, s"$dir/audit_log").where(col("batch_id") === "f1")
    assert(audit.where(col("log_id_status") === "INITIATED").count() == 1)
    assert(audit.where(col("log_id_status") === "COMPLETED").isEmpty)

    // both failing: tam's error is thrown, digital's rides along suppressed
    val both = withoutViews("nvs_calls_v1", "costs_wide") {
      intercept[AnalysisException](ChannelJobs.run(spark, cfg.copy(batchId = "f2")))
    }
    assert(both.getMessage.contains("nvs_calls_v1"))
    assert(both.getSuppressed.exists(_.getMessage.contains("costs_wide")))
  }

  /** `body`'s result, and the SQL executions that finish while it runs
    * and whose plan mentions `marker`. */
  private def executionsReading[T](marker: String)(body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) seen.add(f): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (qe.analyzed.toString.contains(marker)) seen.add(s"$f (failed)"): Unit
    }
    val sc = spark.sparkContext
    Bridge.drainListeners(sc, 10000)
    spark.listenerManager.register(listener)
    val result = try { val r = body; Bridge.drainListeners(sc, 10000); r }
      finally spark.listenerManager.unregister(listener)
    (result, seen.asScala.toSeq)
  }

  private def partFiles(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("materialize runs one execution per output: the versioned write, " +
      "which also counts; staging is a byte copy of that version") {
    val dir = Files.createTempDirectory("graft_one_exec").toString
    val cfg = ChannelJobs.JobConfig(outDir = dir, outputFiles = 2)
    val frame = spark.range(0, 1000, 1, 4)
      .select(col("id").as("one_exec_marker"), (col("id") % 7).as("k"))
    val (w, execs) = executionsReading("one_exec_marker") {
      ChannelJobs.materialize(spark, frame, "probe_t", cfg)
    }
    assert(execs.size == 1, s"executions reading the frame: $execs")
    assert(w == ChannelJobs.TableWrite("probe_t", 1000L, 1L))
    val staging = spark.read.parquet(s"$dir/probe_t_staging")
    val version = spark.read.parquet(s"$dir/probe_t_historical")
      .where(col("version") === 1).drop("version")
    assert(staging.count() == w.rows && version.count() == w.rows)
    assert(staging.columns.toSeq == Seq("one_exec_marker", "k"))
    assert(sameRows(staging, frame))
    val parts = partFiles(s"$dir/probe_t_staging")
    assert(parts.nonEmpty && parts == partFiles(s"$dir/probe_t_historical/version=1"))

    // a second run replaces staging whole and appends version 2
    val w2 = ChannelJobs.materialize(spark, frame.where(col("k") === 0), "probe_t", cfg)
    assert(w2 == ChannelJobs.TableWrite("probe_t", 143L, 2L))
    assert(spark.read.parquet(s"$dir/probe_t_staging").count() == 143L)
    assert(partFiles(s"$dir/probe_t_staging") ==
      partFiles(s"$dir/probe_t_historical/version=2"))
  }

  test("an output with 0 rows publishes a schema-only staging table and " +
      "its own version") {
    NvsFixtures.registerAll(spark)
    val dir = Files.createTempDirectory("graft_empty_out").toString
    val cfg = ChannelJobs.JobConfig(outDir = dir, outputFiles = 2)
    val tam = NvsPipeline.tamCe(spark)
    val w = ChannelJobs.materialize(spark, tam.where(lit(false)), "tam_nvs", cfg)
    assert(w == ChannelJobs.TableWrite("tam_nvs", 0L, 1L))
    val staging = spark.read.parquet(s"$dir/tam_nvs_staging")
    assert(staging.isEmpty && columns(staging) == columns(tam))
    val w2 = ChannelJobs.materialize(spark, tam, "tam_nvs", cfg)
    assert(w2.version == 2L && w2.rows > 0)
    val hist = spark.read.parquet(s"$dir/tam_nvs_historical")
    assert(hist.where(col("version") === 1).isEmpty)
    assert(hist.where(col("version") === 2).count() == w2.rows)
  }

  test("staging left at _old by a publish that died between its renames: " +
      "recover restores it, and the next run publishes whole") {
    NvsFixtures.registerAll(spark)
    val dir = Files.createTempDirectory("graft_staging_old").toString
    val cfg = ChannelJobs.JobConfig(outDir = dir, batchId = "r1", outputFiles = 2)
    ChannelJobs.run(spark, cfg)
    val staging = s"$dir/tam_nvs_staging"
    val backup = new java.io.File(s"${staging}_old")
    // the state a crash between Commit.replace's two renames leaves
    assert(new java.io.File(staging).renameTo(backup))
    graft.sources.Commit.recover(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(staging))
    assert(!backup.exists())
    assert(partFiles(staging) == partFiles(s"$dir/tam_nvs_historical/version=1"))
    assert(sameRows(spark.read.parquet(staging), NvsPipeline.tamCe(spark)))

    val w2 = ChannelJobs.run(spark, cfg.copy(batchId = "r2"))
    assert(w2.map(_.version) == Seq(2L, 2L))
    assert(partFiles(staging) == partFiles(s"$dir/tam_nvs_historical/version=2"))
    assert(new java.io.File(dir).list().sorted.toSeq == Seq("audit_log",
      "digital_nvs_historical", "digital_nvs_staging", "tam_nvs_historical",
      "tam_nvs_staging"))
  }
}

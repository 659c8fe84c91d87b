package graft.core

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the engine.
  *
  * Re-expresses the reference's Glue session bootstrap
  * (`PySpark_Scripts/stage_1_hcp_channel_all_hardcode.py:1273-1277`) as a plain
  * SparkSession factory with the configuration the ported semantics depend on:
  *
  *   - `spark.sql.ansi.enabled=false` — the reference runs on Glue Spark where ANSI
  *     mode is off; its SQL relies on lenient casts (string money with thousands
  *     separators cast to double after replace, int columns fed to substring,
  *     bad casts yielding NULL instead of errors; see S1:255,287,828). Spark 4.x
  *     defaults ANSI to true, so we pin it off.
  *   - UTC session timezone — deterministic date/timestamp formatting vs the oracle.
  *   - AQE on — runtime broadcast-join conversion + skew-join handling stand in for
  *     the tuning the reference left entirely to the engine (SURVEY §4).
  *   - shuffle partitions sized to the local core count, not the 200 default; on a
  *     real cluster this would be set per-job from input size.
  *   - Spark's generated-class cache holds [[CodegenCacheEntries]] classes, not the
  *     default 100. The cache is an LRU shared by the whole JVM, and a warm
  *     `ChannelJobs.run` cycles through about 250 generated classes. Under a cyclic
  *     working set larger than an LRU, every access evicts the entry the next op
  *     needs, so at 100 entries every warm run recompiled all ~250 classes (about
  *     2 s of a 7 s op). `spark.sql.codegen.cache.maxEntries` is a static conf: it
  *     is read once, when `CodeGenerator` first loads, so only a session built here
  *     before the JVM's first query can size it.
  *   - `spark.sql.artifact.isolation.enabled=false`: every session shares one
  *     executor class loader, so every session shares one codegen cache. The
  *     cache is keyed by (class loader, generated source). With isolation on
  *     (Spark's default) each session UUID gets its own executor loader, and
  *     every `writeStream.start()` runs on a clone of its session with a new
  *     UUID. Every ingest tick and every slice of a streaming gate would then
  *     recompile classes whose source is byte-identical to ones already
  *     compiled, and each dead query's classes would stay pinned in the cache
  *     and in Metaspace until LRU eviction. Isolation keeps one session's
  *     added jars, files and archives from the others. This program adds
  *     none: its UDFs and [[GraftExtensions]] are on the application class
  *     path. The conf is read once, when a session is created, so it is set
  *     here, on the builder.
  */
object Sessions {
  /** Generated classes Spark keeps compiled, JVM-wide. Working sets, counted
    * as compilations under an uncapped cache: a `ChannelJobs.run` 251; five
    * indexed ingest ticks 134 (83 on the cold tick, then 38 and 13, and none
    * on a warm plain tick); the largest single catalog query 207. A whole
    * `graft.Verify` pass at sf0.01 compiles about 3,600, so a catalog pass
    * does not fit (see `Bench`'s warmup); caching all of it would add about
    * 12 MB of Metaspace for classes that one pass never reuses. */
  val CodegenCacheEntries = 2000

  /** Apply engine configs to an existing builder (callers own master/appName). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.core.GraftExtensions")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // skewed shuffle partitions split at runtime (AQE default, pinned
      // explicitly: the dedup band joins and event sessionization are the
      // skew-prone paths; salting in ScaleOps handles the agg side)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // input split sizing (explicit default): 128 MiB splits keep one task's
      // scan + partial agg comfortably in executor memory at any corpus size;
      // raise only for column-pruned scans of huge row groups, lower for
      // compute-heavy per-row work (cf. the explicit-count repartition in
      // Dedup.editDistancePairs for when compute, not bytes, is the axis)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type — read
      // as long and convert with integer division (see QueryCatalog q28).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // propagate bucketed tables' sortBy order to the scan. Guarded by
      // Spark behind a legacy flag because it is only sound when every
      // bucket is a single file — which ScaleOps.writeBucketed guarantees
      // by construction (repartition on the bucket key before the write);
      // Spark still checks the per-bucket file count at plan time and
      // silently drops the ordering when the precondition fails, so a
      // foreign multi-file bucketed table stays correct. Without this the
      // band-key self-join (q219) re-sorts corpus-sized partitions the
      // layout already sorted at write time.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // bucketed-table writes need a warehouse; keep it out of the repo tree
      // AND unique per JVM — the default metastore is in-memory, so a reused
      // on-disk location would orphan table directories across runs
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("graft.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

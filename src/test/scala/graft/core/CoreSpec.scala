package graft.core

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import graft.SparkSpec
import graft.sources.VersionedTable

/** Direct specs for the core/io layer (the jobs exercise these indirectly;
  * these pin the contracts). */
class TableRegistrySpec extends SparkSpec {

  test("register/table/refresh/listing contract") {
    val reg = TableRegistry.forDir(spark, sfDir)
    assert(TableRegistry.testTables.forall(reg.contains))
    assert(reg.table("nation").count() > 0)
    // listing probe (the Athena list_table_metadata stand-in)
    assert(reg.tablesMatching("ation") == Seq("nation"))
    // refresh re-reads the footer and re-registers the same data
    val before = reg.table("region").count()
    assert(reg.refresh("region").count() == before)
    intercept[RuntimeException](reg.refresh("no_such_table"))
  }

  test("register of a written table starts 0 Spark jobs") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_reg_jobs").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(path)
    val reg = new TableRegistry(spark)
    val jobs = SparkJobs.during(spark)(reg.register("t", path))
    assert(jobs == 0, s"register started $jobs Spark job(s)")
    assert(reg.table("t").count() == 2)
  }
}

/** Spark jobs started while `f` runs, counted by a listener. */
object SparkJobs {
  def during(spark: org.apache.spark.sql.SparkSession)(f: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    Bridge.drainListeners(sc, 10000)
    sc.addSparkListener(counter)
    try {
      f
      Bridge.drainListeners(sc, 10000)
    } finally sc.removeSparkListener(counter)
    jobs.get
  }
}

/** `Parquet.read` must type a path exactly as Spark's own inference does,
  * over every layout the program reads. */
class ParquetSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  private def assertParity(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    val footer = Parquet.read(spark, path)
    assert(footer.schema == inferred.schema, path)
    assert(footer.count() == inferred.count(), path)
  }

  /** Writes `df` as one parquet file and moves it to `target`. */
  private def writeFile(df: DataFrame, target: String): Unit = {
    val staged = tmp("graft_pq_file") + "/t"
    df.coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(target)): Unit
  }

  test("a StressGen-shaped channel table") {
    graft.jobs.StressGen.registerAll(spark, factor = 0.001)
    Seq("nvs_calls_v1", "hcp_org_map", "dtc_display_v1").foreach { t =>
      val path = s"${tmp("graft_pq_stress")}/$t"
      spark.table(t).write.parquet(path)
      assertParity(path)
    }
  }

  test("the events table in both ts encodings") {
    // testdata: TIMESTAMP(MICROS), no Spark schema in the footer
    assertParity(s"$sfDir/events.parquet")
    // Spark-written: the Spark schema rides in the footer
    val rewritten = s"${tmp("graft_pq_ev")}/events"
    spark.read.parquet(s"$sfDir/events.parquet").write.parquet(rewritten)
    assertParity(rewritten)
    // TIMESTAMP(NANOS), which nanosAsLong reads as a long
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = s"${tmp("graft_pq_nanos")}/events"
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$nanos/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    assertParity(nanos)
    assert(EventTs.toNanos(Parquet.read(spark, nanos)).collect()
      .map(_.getLong(1)).toSeq == Seq(1700000000123456789L))
  }

  test("a versioned table: version keeps its type and position, pending is hidden") {
    import spark.implicits._
    val path = s"${tmp("graft_pq_vt")}/t"
    val vt = new VersionedTable(spark, path, outputFiles = 1)
    vt.snapshot(Seq((1L, "a")).toDF("id", "v"))
    vt.snapshot(Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    // a crashed third snapshot, whose file would sort first if it were listed
    Seq((9L, "z", 0.5)).toDF("id", "v", "junk").write.parquet(s"$path/_pending_version_3")
    assertParity(path)
    assert(Parquet.read(spark, path).schema.fields.last.toString ==
      "StructField(version,IntegerType,true)")
    assert(vt.at(2).count() == 2)
  }

  test("an ingest corpus root: generations, an empty tick, marker and pending dir") {
    import spark.implicits._
    val root = s"${tmp("graft_pq_corpus")}/corpus"
    new java.io.File(root).mkdirs()
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    writeFile(docs.limit(0), s"$root/part-b1-00000-empty.c000.snappy.parquet")
    writeFile(docs, s"$root/part-b2-00000-docs.c000.snappy.parquet")
    Files.writeString(java.nio.file.Paths.get(s"$root/_last_batch"), "2")
    docs.withColumn("junk", lit(1)).write.parquet(s"$root/_pending_b3")
    assertParity(root)
  }

  test("a path with nothing to read fails as Spark's own read does") {
    val hidden = tmp("graft_pq_hidden")
    Files.createFile(java.nio.file.Paths.get(s"$hidden/_SUCCESS"))
    spark.range(3).write.parquet(s"$hidden/_pending_b1")
    Seq(hidden, s"$hidden/missing").foreach { p =>
      def condition(e: Throwable) =
        (e.getClass, e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition)
      val inferred = intercept[Exception](spark.read.parquet(p))
      val footer = intercept[Exception](Parquet.read(spark, p))
      assert(condition(footer) == condition(inferred), p)
    }
  }

  test(".read.parquet( appears in exactly one main source file: the footer reader") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(p => Files.isRegularFile(p) &&
          Files.readString(p).contains(".read.parquet("))
        .map(root.relativize(_).toString).toList
    }
    assert(hits == List("graft/core/Parquet.scala"))
  }
}

class VersionedTableSpec extends SparkSpec {

  test("empty → v1 → v2; latest and at() read single snapshots") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_vt").toString + "/t"
    val vt = new VersionedTable(spark, path, outputFiles = 1)
    assert(vt.latestVersion.isEmpty)
    assert(vt.latest.isEmpty)

    assert(vt.snapshot(Seq((1, "a"), (2, "b")).toDF("id", "v")) == 1L)
    assert(vt.snapshot(Seq((1, "a2"), (2, "b2"), (3, "c")).toDF("id", "v")) == 2L)
    assert(vt.latestVersion.contains(2L))
    assert(vt.latest.count() == 3)
    assert(vt.at(1).count() == 2)
    // snapshots are whole-table copies, not deltas
    assert(spark.read.parquet(path).count() == 5)
    // version is a partition column → the at() scan prunes to one directory
    val plan = vt.at(1).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("version"))

    // latestVersion is a directory listing: only numeric version=<n> dirs
    // count, bookkeeping entries and non-numeric suffixes are skipped
    val listed = Files.createTempDirectory("graft_vt_list")
    Files.createFile(listed.resolve("_SUCCESS"))
    Seq("_temporary", ".hidden", "version=abc", "version=2", "version=10")
      .foreach(d => Files.createDirectory(listed.resolve(d)))
    assert(new VersionedTable(spark, listed.toString).latestVersion.contains(10L))
    assert(new VersionedTable(spark, s"$listed/missing").latestVersion.isEmpty)
    val empty = Files.createTempDirectory("graft_vt_empty").toString
    assert(new VersionedTable(spark, empty).latestVersion.isEmpty)
    assert(!new VersionedTable(spark, empty).exists)

    // ... and it starts no Spark job
    val jobs = SparkJobs.during(spark)(assert(vt.latestVersion.contains(2L)))
    assert(jobs == 0, s"latestVersion started $jobs Spark job(s)")
  }

  test("an empty snapshot is stored: v1 holds 0 rows and the columns, the next is v2") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_vt_none").toString + "/t"
    val vt = new VersionedTable(spark, path, outputFiles = 1)
    val none = Seq((1, "a")).toDF("id", "v").where(col("id") < 0)
    assert(vt.snapshot(none) == 1L)
    assert(vt.snapshot(Seq((1, "a")).toDF("id", "v")) == 2L)
    assert(vt.at(1).count() == 0)
    assert(vt.at(1).columns.toSeq == Seq("id", "v", "version"))
    assert(vt.at(2).count() == 1)
  }

  test("a failed snapshot write leaves no version and no pending directory") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_vt_fail").toString + "/t"
    val vt = new VersionedTable(spark, path, outputFiles = 1)
    assert(vt.snapshot(Seq((1, "a")).toDF("id", "v")) == 1L)
    val broken = Seq((1, "a")).toDF("id", "v")
      .withColumn("v", raise_error(lit("snapshot write fails")).cast("string"))
    intercept[Exception](vt.snapshot(broken))
    assert(new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSeq ==
      Seq("version=1"))
    assert(vt.snapshot(Seq((2, "b")).toDF("id", "v")) == 2L)
    assert(vt.latest.as[(Int, String, Int)].collect().toSeq == Seq((2, "b", 2)))
  }
}

class SessionsSpec extends SparkSpec {

  test("session carries the semantics the port depends on") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // nanos-as-long makes events readable (would throw without it)
    val ev = graft.core.EventTs.toNanos(spark.read.parquet(s"$sfDir/events.parquet"))
    assert(ev.schema("ts").dataType.typeName == "long")
    assert(ev.count() > 0)
  }

  test("EventTs.toNanos folds both physical ts encodings to the same nanos") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a long-ns frame passes through untouched
    val asLong = Seq((1L, 1700000000123456000L)).toDF("event_id", "ts")
    assert(graft.core.EventTs.toNanos(asLong).collect()
      .map(_.getLong(1)).toSeq == Seq(1700000000123456000L))
    // the same instant as TIMESTAMP (µs precision) folds to identical nanos
    val asTs = asLong.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    assert(asTs.schema("ts").dataType.typeName == "timestamp")
    assert(graft.core.EventTs.toNanos(asTs).collect()
      .map(_.getLong(1)).toSeq == Seq(1700000000123456000L))
    // frames without a ts column are untouched
    val noTs = Seq((1L, "x")).toDF("event_id", "payload")
    assert(graft.core.EventTs.toNanos(noTs).schema.fieldNames.toSeq ==
      Seq("event_id", "payload"))
  }
}

class TimingSpec extends SparkSpec {

  test("warmThenTime runs one warmup plus n timed runs, sorted times, last result") {
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    val (times, last) = Timing.warmThenTime(4) { rep =>
      labels += rep
      labels.size
    }
    assert(labels.toSeq == Seq("warm", "1", "2", "3", "4"))
    assert(last == 5)
    assert(times.size == 4)
    assert(times.forall(_ >= 0.0))
    assert(times == times.sorted)
  }

  test("warmThenTime drains CacheScope after every run, also when the op throws") {
    def persistAndCount(): Long =
      CacheScope.persist(spark.range(5).toDF("id")).count()
    val seenPending = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (_, n) = Timing.warmThenTime(2) { _ =>
      seenPending += CacheScope.pending
      persistAndCount()
    }
    assert(n == 5L)
    assert(seenPending.toSeq == Seq(0, 0, 0), "a run started with undrained persists")
    assert(CacheScope.pending == 0)

    val e = intercept[IllegalStateException] {
      Timing.warmThenTime(3) { rep =>
        persistAndCount()
        if (rep == "2") throw new IllegalStateException("boom on rep 2")
        1L
      }
    }
    assert(e.getMessage == "boom on rep 2")
    assert(CacheScope.pending == 0)
  }

  test("ScaleAudit.measure appends one JSON row that spark.read.json reads back") {
    val out = Files.createTempDirectory("graft_scale_out").resolve("rows.jsonl")
    val dir = "/data/q\"uo\\te"
    graft.tools.ScaleAudit.measure(spark, "tag_rt", dir, reps = 2,
      Some(out.toString))(_ => spark.range(7).count())
    assert(Files.readAllLines(out).size == 1)
    val df = spark.read.json(out.toString)
    assert(!df.columns.contains("_corrupt_record"))
    val r = df.collect().head
    assert(r.getAs[String]("query") == "tag_rt")
    assert(r.getAs[String]("dir") == dir)
    assert(r.getAs[Long]("rows") == 7L)
    assert(r.getAs[scala.collection.Seq[Double]]("all_s").size == 2)
    Seq("median_s", "spill_mem_mb", "spill_disk_mb", "peak_exec_mb",
        "codegen_compiles", "jobs").foreach { f =>
      assert(!r.isNullAt(r.fieldIndex(f)), s"$f missing")
    }
    assert(r.getAs[Long]("jobs") > 0L)
    // the warmup compiled the op's classes; the timed passes reuse them
    assert(r.getAs[Long]("codegen_compiles") == 0L)
  }

  test("System.nanoTime appears in exactly one main source file: the shared loop") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(p => Files.isRegularFile(p) &&
          Files.readString(p).contains("System.nanoTime"))
        .map(root.relativize(_).toString).toList
    }
    assert(hits == List("graft/core/Timing.scala"))
  }
}

package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{CacheScope, TableRegistry}
import graft.jobs.{ChannelJobs, CurationJob}
import graft.operators.{Dedup, ScaleOps}
import graft.sources.AuditLog
import graft.streaming.EventStreams

/** One closed-loop workload: one client, the next op starts when the last
  * one returned. `prepare` writes the seeded inputs once (the fixture, not
  * timed as set-up); `setup` is the program-facing set-up and must be
  * repeatable; `op` throws on failure; the checks run outside the timed
  * region. */
trait Workload {
  /** Input rows and input bytes one op consumes. */
  def inputRows: Long
  def inputBytes: Long
  /** Stated input properties, recorded with the results. */
  def inputs: Map[String, Any]
  def prepare(): Unit
  def setup(): Unit
  /** Warm ops a run makes even after its seconds are spent. */
  def minWarmOps: Int = 1
  def op(i: Int): Unit
  /** Check right after op `i`; `Some(reason)` fails the op. */
  def checkOp(i: Int): Option[String] = None
  /** Checks over the whole run (ops `0 until n`); failed op → reason. */
  def checkRun(n: Int): Map[Int, String] = Map.empty
  /** Traced runs only: side measurements before op `i`, outside its timing. */
  def beforeOp(i: Int): Unit = ()
  /** Traced runs only: per-op metrics the workload itself observes. */
  def opMetrics(i: Int): Map[String, Double] = Map.empty
  /** Traced runs only: run-level metrics, after the checks. */
  def runMetrics(): Map[String, Double] = Map.empty
}

object Workloads {
  val Names: Seq[String] = Seq("channel_etl", "curation", "corpus_ingest")

  def apply(name: String, s: SparkSession, dir: String, seed: Long,
      traced: Boolean): Workload = name match {
    case "channel_etl" => new ChannelEtl(s, dir, seed)
    case "curation" => new Curation(s, dir, seed, traced)
    case "corpus_ingest" => new CorpusIngest(s, dir, seed, traced)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  def parquetBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new File(path))
  }

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted; val n = v.size
    if (n == 0) 0.0 else if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }
}

import Workloads._

/** The paper's job: `jobs.ChannelJobs.run` over seeded StressGen-shaped
  * staging tables; each op overwrites the staging tables and appends one
  * version to each historical table. */
final class ChannelEtl(s: SparkSession, dir: String, seed: Long) extends Workload {
  /** StressGen volume factor. Here an op is bound by the fixed cost of its
    * ~80 Spark jobs (9-12 s on 4 cores, against 30-36 s at factor 1.0), and
    * a run must fit the benchmark's time budget. */
  val Factor = 0.02
  private val inDir = s"$dir/input"
  private val outDir = s"$dir/out"
  private val registry = new TableRegistry(s)
  private var tables: Seq[Gen.Table] = Nil
  private val writes = mutable.HashMap.empty[Int, Seq[ChannelJobs.TableWrite]]
  private val budgets = Gen.budgets(seed)

  def inputRows: Long = tables.map(_.rows).sum
  def inputBytes: Long = parquetBytes(inDir)
  def inputs: Map[String, Any] = Map("stressgen_factor" -> Factor,
    "tables" -> tables.size, "input_rows" -> inputRows, "input_bytes" -> inputBytes)

  def prepare(): Unit = tables = Gen.writeChannelTables(s, inDir, seed, Factor)

  def setup(): Unit = {
    rmrf(new File(outDir))
    tables.foreach(t => registry.register(t.name, t.path))
  }

  def op(i: Int): Unit =
    writes(i) = ChannelJobs.run(s, ChannelJobs.JobConfig(outDir, batchId = s"op$i"),
      Some(registry))

  override def checkOp(i: Int): Option[String] = writes(i).collectFirst {
    case w if s.read.parquet(s"$outDir/${w.table}_staging").count() != w.rows =>
      s"${w.table}: staging row count differs from the job's count ${w.rows}"
  }

  override def checkRun(n: Int): Map[Int, String] = {
    val fails = mutable.LinkedHashMap.empty[Int, String]
    val audit = AuditLog.read(s, s"$outDir/audit_log")
      .where(col("log_id_status") === "COMPLETED")
      .select("batch_id", "table_name", "rows_updated").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // per (table, version): row count and allocation sums per budget key
    def hist(t: String) = s.read.parquet(s"$outDir/${t}_historical")
    val counts = Seq("tam_nvs", "digital_nvs").map { t =>
      t -> hist(t).groupBy("version").count().collect()
        .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    }.toMap
    val tamSums = hist("tam_nvs")
      .groupBy(col("version"), substring(col("year_month").cast("string"), 1, 4))
      .agg(sum("cost")).collect()
      .map(r => (r.get(0).toString.toLong, r.getString(1)) -> r.get(2))
    val digitalSums = hist("digital_nvs")
      .groupBy("version", "channel", "audience", "year", "month")
      .agg(sum("cost")).collect()
      .map(r => (r.get(0).toString.toLong,
        (r.getString(1), r.getString(2), r.getString(3), r.get(4).toString.toInt)) -> r.get(5))
    val expected = Gen.expectedDigitalBudgets(budgets)
    // within 1e-6, plus the rounding of summing ~10^4 doubles (a tam
    // budget of 3.7e7 re-sums to 5e-7 off)
    def off(got: Any, want: Double): Boolean = got == null ||
      math.abs(got.asInstanceOf[Double] - want) > 1e-6 + 1e-11 * math.abs(want)

    val prevVersion = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    (0 until n).filter(writes.contains).foreach { i =>
      writes(i).foreach { w =>
        val why =
          if (w.version != prevVersion(w.table) + 1)
            Some(s"${w.table}: version ${w.version} after ${prevVersion(w.table)}")
          else if (!counts(w.table).get(w.version).contains(w.rows))
            Some(s"${w.table}: version ${w.version} holds " +
              s"${counts(w.table).getOrElse(w.version, 0L)} rows, job counted ${w.rows}")
          else if (!audit.get((s"op$i", w.table)).contains(w.rows))
            Some(s"${w.table}: audit rows_updated ${audit.get((s"op$i", w.table))} " +
              s"!= ${w.rows}")
          else if (w.table == "tam_nvs") {
            val sums = tamSums.filter(_._1._1 == w.version)
            sums.collectFirst { case ((_, y), got) if off(got, Gen.TamBudgets(y)) =>
              s"tam_nvs $y: allocated cost $got != budget ${Gen.TamBudgets(y)}" }
              .orElse(if (sums.isEmpty) Some("tam_nvs: no allocated rows") else None)
          } else {
            val sums = digitalSums.filter(x => x._1._1 == w.version && expected.contains(x._1._2))
            sums.collectFirst { case ((_, k), got) if off(got, expected(k)) =>
              s"digital_nvs $k: allocated cost $got != budget ${expected(k)}" }
              .orElse(if (sums.size < expected.size / 2)
                Some(s"digital_nvs: only ${sums.size} budget groups allocated") else None)
          }
        why.foreach(r => if (!fails.contains(i)) fails(i) = r)
        prevVersion(w.table) = w.version
      }
    }
    fails.toMap
  }
}

/** `jobs.CurationJob.run` over replicated sf0.1-shaped documents. */
final class Curation(s: SparkSession, dir: String, seed: Long, traced: Boolean)
    extends Workload {
  val Replicas = 2
  private val docsPath = s"$dir/documents"
  private val outDir = s"$dir/curated"
  private val registry = new TableRegistry(s)
  private var nDocs = 0L
  private val cfg = CurationJob.Config(minQuality = 0.3, samplePermille = 500)
  private var lastStats: CurationJob.Stats = _
  /** (funnel, output checksum, output rows) of the first checked op. */
  private var reference: Option[(CurationJob.Stats, Long, Long)] = None

  def inputRows: Long = nDocs
  def inputBytes: Long = parquetBytes(docsPath)
  def inputs: Map[String, Any] = Map("base_docs" -> Gen.BaseDocs, "replicas" -> Replicas,
    "exact_copy_share" -> Gen.ExactShare, "near_dup_share" -> Gen.NearShare,
    "input_rows" -> nDocs, "input_bytes" -> inputBytes)

  def prepare(): Unit = {
    import s.implicits._
    val docs = Gen.curationDocs(seed, Replicas)
    nDocs = docs.size.toLong
    docs.toDF().repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(docsPath)
  }

  def setup(): Unit = registry.register("documents", docsPath)

  def op(i: Int): Unit =
    lastStats = CurationJob.run(registry.table("documents").select("doc_id", "text", "lang"),
      cfg, outDir = Some(outDir))._2

  /** The funnel and an order-free checksum of the committed output must
    * equal the first op's. */
  override def checkOp(i: Int): Option[String] = {
    val row = s.read.parquet(outDir)
      .select(sum(xxhash64(col("*"))), count(lit(1))).head()
    val got = (lastStats, if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
    if (reference.isEmpty) reference = Some(got)
    if (got._3 == 0L) Some("curated output is empty")
    else if (!reference.contains(got)) Some(s"funnel/checksum $got != first op's ${reference.get}")
    else None
  }

  override def runMetrics(): Map[String, Double] = if (!traced) Map.empty else {
    // kernel throughput: each kernel alone over the input, noop sink
    val docs = registry.table("documents")
    val kernels = Seq(
      "MinhashSig" -> graft.functions.MinhashSig(col("text"), 3, 32),
      "WordShingles" -> graft.functions.WordShingles(col("text"), 3),
      "TokenCounts" -> graft.functions.TokenCounts(col("text")),
      "CharBigramCounts" -> graft.functions.CharBigramCounts(col("text")))
    kernels.map { case (k, expr) =>
      val secs = (0 until 3).map(_ =>
        time(docs.select(expr.as("k")).write.format("noop").mode("overwrite").save())._2)
      s"functions.$k.rows_per_s" -> nDocs / Workloads.median(secs)
    }.toMap
  }
}

/** Ticks of `streaming.EventStreams.corpusIngestSinkIndexed` into a standing
  * corpus: each op feeds one fixed-size batch and runs one AvailableNow
  * query against the same checkpoint (a scheduled ingest tick). */
final class CorpusIngest(s: SparkSession, dir: String, seed: Long, traced: Boolean)
    extends Workload {
  val CorpusDocs = 5000
  val BatchDocs = 500
  val NovelShare = 0.6
  val FoldEvery = 3
  /** Warm ticks 1, 3 and 4 are plain and tick 2 folds, so the fold is the
    * slowest warm tick and never one of the two the median averages. */
  override def minWarmOps: Int = 4
  /** Index width: one bucket per core, as the program's own ingest gate
    * uses; the admitted set does not depend on it. */
  val Buckets: Int = s.sparkContext.defaultParallelism
  private val corpusDir = s"$dir/corpus"
  private val ckptDir = s"$dir/ckpt"
  private val sigT = ScaleOps.bucketTableName("graft_bkt_ingsig", corpusDir)
  private val bandT = ScaleOps.bucketTableName("graft_bkt_ingband", corpusDir)
  private var stream: Gen.IngestStream = _
  private var in: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)] = _
  private val progress = mutable.HashMap.empty[Int, Map[String, Double]]
  private val probeS = mutable.ArrayBuffer.empty[Double]
  private var admitRatio = 0.0

  def inputRows: Long = BatchDocs
  private var batchBytes = 0L
  def inputBytes: Long = batchBytes
  def inputs: Map[String, Any] = Map("standing_corpus_docs" -> CorpusDocs,
    "batch_docs" -> BatchDocs, "novel_share" -> NovelShare,
    "near_dup_share" -> (1 - NovelShare), "fold_every" -> FoldEvery, "buckets" -> Buckets,
    "batch_bytes" -> batchBytes)

  private def writeCorpus(path: String): Unit = {
    import s.implicits._
    stream.standing.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private def newStream() = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
  }

  def prepare(): Unit = {
    import s.implicits._
    stream = new Gen.IngestStream(seed, CorpusDocs, BatchDocs, NovelShare)
    writeCorpus(corpusDir)
    val sample = s"$dir/batch0"
    stream.tick(0).toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(sample)
    batchBytes = parquetBytes(sample)
  }

  /** No index and no checkpoint yet, a fresh source over the standing corpus. */
  def setup(): Unit = {
    Dedup.dropDedupIndex(s, sigT, bandT)
    rmrf(new File(ckptDir))
    in = newStream()
  }

  def op(i: Int): Unit = {
    in.addData(stream.tick(i): _*)
    val q = EventStreams.corpusIngestSinkIndexed(in.toDF().toDF("doc_id", "text"),
      corpusDir, ckptDir, buckets = Buckets, foldEvery = FoldEvery)
    awaitTick(q)
    if (traced) progress(i) = phases(q)
  }

  private def awaitTick(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  private def phases(q: StreamingQuery): Map[String, Double] = {
    val ps = q.recentProgress.toSeq
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .map { k =>
        s"streaming.${k}_ms" -> ps.map(p => Option(p.durationMs.get(k))
          .map(_.doubleValue).getOrElse(0.0)).sum
      }.toMap
  }

  override def beforeOp(i: Int): Unit = if (i > 0) {
    // the probe the tick is about to run, alone: its candidates are
    // planned lazily and executed by the corpus rewrite, so job
    // attribution cannot separate it. A fresh session: the ticks fold the
    // index from the stream's session, which leaves this session's cached
    // listings of the index tables stale
    val ps = s.newSession()
    import ps.implicits._
    val batch = stream.tick(i).toDF("doc_id", "text")
    // shingle size, hashes and bands: corpusIngestSinkIndexed's defaults
    probeS += time(Dedup.minhashCandidatesIndexedTables(batch, "doc_id", "text",
      3, 32, 16, sigT, bandT).write.format("noop").mode("overwrite").save())._2
    CacheScope.drain()
  }

  override def opMetrics(i: Int): Map[String, Double] = progress.getOrElse(i, Map.empty)

  /** The unindexed twin `corpusIngestSink`, fed the same ticks from the same
    * standing corpus, must admit exactly the same documents. */
  override def checkRun(n: Int): Map[Int, String] = {
    val twinDir = s"$dir/twin_corpus"
    writeCorpus(twinDir)
    val twin = newStream()
    (0 until n).foreach { k =>
      twin.addData(stream.tick(k): _*)
      awaitTick(EventStreams.corpusIngestSink(twin.toDF().toDF("doc_id", "text"),
        twinDir, s"$dir/twin_ckpt"))
    }
    def ids(p: String): Set[Long] =
      s.read.parquet(p).select("doc_id").collect().map(_.getLong(0)).toSet
    val (got, want) = (ids(corpusDir), ids(twinDir))
    admitRatio = (got.size - CorpusDocs).toDouble / (n.toLong * BatchDocs)
    if (got == want) Map.empty
    else (0 until n).map(_ -> (s"final corpus differs from the unindexed twin: " +
      s"${(got -- want).size} extra, ${(want -- got).size} missing ids")).toMap
  }

  override def runMetrics(): Map[String, Double] =
    if (!traced) Map.empty
    else Map("operators.Dedup.probe_s" -> Workloads.median(probeS.toSeq),
      "ingest.admit_ratio" -> admitRatio)
}

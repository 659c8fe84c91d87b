package graft.sources

import java.io.{File, IOException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.jobs.{ChannelJobs, NvsFixtures}
import graft.streaming.EventStreams
import graft.streaming.IngestPublishSpec.{Feed, Standing}

/** A local file system that logs every rename and can crash at a chosen
  * one: that rename throws, and from then on every rename throws and
  * every delete is lost, as if the process had died there. Reads and
  * writes still work, so a crashed run fails where a real one would stop.
  * The session's file: paths reach it through [[CrashingFileSystem.installed]]. */
class CrashingFileSystem extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingFileSystem.onRename(src, dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean =
    !CrashingFileSystem.crashed && super.delete(p, recursive)
}

object CrashingFileSystem {
  private val Temporary = "/_temporary/"
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  final case class Rename(src: String, dst: String) {
    /** What names this rename across runs of one scenario, with the UUIDs
      * of Spark's file names blanked: the destination of one of the
      * program's own renames (its publish steps and the catalog's table
      * renames), or the output directory of a Spark write's job commit (a
      * file moved out of its `_temporary` tree). A task commit, inside
      * `_temporary`, has none. */
    def key: Option[String] =
      if (dst.contains(Temporary)) None
      else if (src.contains(Temporary))
        Some("commit " + Uuid.replaceAllIn(src.take(src.indexOf(Temporary)), "*"))
      else Some(Uuid.replaceAllIn(dst, "*"))

    /** The Spark job a job-commit rename belongs to. */
    def job: Option[String] = "/task_(\\d+_\\d+)_".r.findFirstMatchIn(src).map(_.group(1))
  }

  private val log = mutable.ArrayBuffer.empty[Rename]
  private val seen = mutable.Map.empty[String, Int]
  private var armed: Option[(String, Int)] = None
  @volatile private var dead = false

  def crashed: Boolean = dead

  private def onRename(src: Path, dst: Path): Unit = synchronized {
    if (dead) throw new IOException(s"rename after the crash: $src to $dst")
    val r = Rename(src.toUri.getPath, dst.toUri.getPath)
    log += r
    r.key.foreach { k =>
      seen(k) = seen.getOrElse(k, 0) + 1
      if (armed.contains(k -> seen(k))) {
        dead = true
        throw new IOException(s"injected crash at rename ${seen(k)} of $k")
      }
    }
  }

  /** Clears the log, and arms a crash at the `n`-th rename of key `k`. */
  def reset(at: Option[(String, Int)]): Unit = synchronized {
    log.clear(); seen.clear(); armed = at; dead = false
  }

  def renames: Seq[Rename] = synchronized(log.toList)

  /** Runs `body` with the session's file: paths on this file system,
    * uncached so each use makes a new instance, and restores both keys
    * after: the suite shares one session. The keys are set on the
    * context's Hadoop conf, which Spark's writes copy, and on the shared
    * state's, which the catalog's table renames and drops read. */
  def installed[T](spark: SparkSession)(body: => T): T = {
    // SharedState.hadoopConf is private[sql] in Scala and public in bytecode
    val shared = spark.sharedState.getClass.getMethod("hadoopConf").invoke(spark.sharedState)
    val confs = Seq(spark.sparkContext.hadoopConfiguration,
      shared.asInstanceOf[org.apache.hadoop.conf.Configuration])
    val keys = Seq("fs.file.impl" -> classOf[CrashingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val prior = for (c <- confs; (k, _) <- keys) yield (c, k, Option(c.get(k)))
    for (c <- confs; (k, v) <- keys) c.set(k, v)
    try body
    finally {
      reset(None)
      prior.foreach {
        case (c, k, Some(v)) => c.set(k, v)
        case (c, k, None) => c.unset(k)
      }
    }
  }
}

/** Every publish crashes at each of its renames, and a restart reaches the
  * uninterrupted run's outputs. A crash point is one of the program's own
  * renames, or the last rename of a Spark write's job commit, which leaves
  * that write's output directory missing one file. After each crash,
  * [[Commit.recover]] on the replaced outputs leaves every output as it
  * was before the crashed step or as it is after it; the restart then ends
  * where the uninterrupted run ends, and leaves no pending copy and no
  * backup behind. */
class CommitCrashSpec extends SparkSpec {
  import CrashingFileSystem.Rename

  /** One covered run from a fresh state under its directory: `step(k)` runs
    * step k, and `resume(k)` restarts it after a crash inside it. */
  private trait Scenario {
    def steps: Int
    def step(k: Int): Unit
    def resume(k: Int): Unit
    /** The outputs [[Commit.replace]] publishes. */
    def replaced: Seq[String]
    /** Each output's rows, sorted, duplicates kept; "absent" if missing. */
    def outputs: Map[String, Seq[String]]
    def close(): Unit = ()

    protected def rows(path: String): Seq[String] =
      if (!new File(path).exists()) Seq("absent")
      else spark.read.parquet(path).collect().map(_.mkString(",")).toSeq.sorted
  }

  /** The crash points of a recorded run, as (key, occurrence): every own
    * rename, and the last job-commit rename of every Spark write. */
  private def crashPoints(renames: Seq[Rename]): Seq[(String, Int)] = {
    val seen = mutable.Map.empty[String, Int]
    val keyed = renames.flatMap(r => r.key.map { k =>
      seen(k) = seen.getOrElse(k, 0) + 1
      (r.job, k, seen(k))
    })
    val own = keyed.collect { case (None, k, n) => (k, n) }
    val commits = keyed.collect { case (Some(job), k, n) => (job, k, n) }
      .groupBy { case (job, k, _) => (job, k) }.toSeq
      .map { case ((_, k), rs) => (k, rs.map(_._3).max) }
    own ++ commits.sorted
  }

  /** Pending copies and backups under `dir`, which a finished run must
    * not leave behind. */
  private def leftovers(dir: String): Seq[String] =
    scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) {
      paths => paths.iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("_pending") || n.endsWith("_old")).toList
    }

  /** Records the uninterrupted run, then crashes a fresh run at each crash
    * point. */
  private def prove(name: String)(fresh: String => Scenario): Unit =
    CrashingFileSystem.installed(spark) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_crash_$name").toString + "/run"
      def start(at: Option[(String, Int)]): Scenario = {
        FileUtils.deleteDirectory(new File(dir))
        val s = fresh(dir)
        CrashingFileSystem.reset(at)
        s
      }
      val run = start(None)
      val states = try run.outputs +: (0 until run.steps).map { k =>
        run.step(k); run.outputs
      } finally run.close()
      val points = crashPoints(CrashingFileSystem.renames)
      assert(points.nonEmpty)
      points.foreach { at =>
        val s = start(Some(at))
        try {
          val crashedIn = (0 until s.steps).find { k =>
            try { s.step(k); false }
            catch { case _: Exception if CrashingFileSystem.crashed => true }
          }.getOrElse(fail(s"$name: the crash at $at never happened"))
          CrashingFileSystem.reset(None)
          val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
          s.replaced.foreach(t => Commit.recover(fs, new Path(t)))
          val recovered = s.outputs
          assert(recovered == states(crashedIn) || recovered == states(crashedIn + 1),
            s"$name, crash at $at in step $crashedIn: recovered $recovered")
          s.resume(crashedIn)
          (crashedIn + 1 until s.steps).foreach(s.step)
          assert(s.outputs == states.last, s"$name, crash at $at: restarted")
          assert(leftovers(dir).isEmpty, s"$name, crash at $at: left ${leftovers(dir)}")
        } catch {
          case e: Exception if !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
            fail(s"$name, crash at $at", e)
        } finally s.close()
      }
      val commits = points.count(_._1.startsWith("commit "))
      info(s"$name: ${points.size} crash points, ${points.size - commits} own renames " +
        s"and $commits job commits")
    }

  test("ChannelJobs.run over existing history and staging: every crash " +
      "point reruns to the uninterrupted outputs") {
    NvsFixtures.registerAll(spark)
    val seed = java.nio.file.Files.createTempDirectory("graft_crash_seed").toString
    val cfg = ChannelJobs.JobConfig(outDir = seed, batchId = "c0", outputFiles = 2)
    ChannelJobs.run(spark, cfg)
    prove("channel_job") { dir =>
      FileUtils.copyDirectory(new File(seed), new File(dir))
      new Scenario {
        val steps = 1
        def step(k: Int): Unit = resume(k)
        def resume(k: Int): Unit = ChannelJobs.run(spark, cfg.copy(outDir = dir, batchId = "c1"))
        val tables = Seq("tam_nvs", "digital_nvs")
        def replaced: Seq[String] = tables.map(t => s"$dir/${t}_staging")
        def outputs: Map[String, Seq[String]] = tables.flatMap { t =>
          val hist = new VersionedTable(spark, s"$dir/${t}_historical")
          val latest = hist.latestVersion.map(v => rows(hist.dirOf(v).toString))
          Seq(s"$t latest version" -> latest.getOrElse(Seq("absent")),
            s"${t}_staging" -> rows(s"$dir/${t}_staging"))
        }.toMap
      }
    }
  }

  for (indexed <- Seq(false, true)) {
    val name = if (indexed) "corpusIngestSinkIndexed" else "corpusIngestSink"

    test(s"$name: three ticks with one compaction, every crash point " +
        "restarts to the uninterrupted corpus") {
      prove(name) { dir =>
        import spark.implicits._
        implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
        val corpus = s"$dir/corpus"
        Standing.toDF("doc_id", "text").coalesce(1).write.parquet(corpus)
        val in = MemoryStream[(Long, String)]
        new Scenario {
          val steps = 3
          def step(k: Int): Unit = { in.addData(Feed(k): _*); resume(k) }
          def resume(k: Int): Unit = {
            val docs = in.toDF().toDF("doc_id", "text")
            (if (indexed) EventStreams.corpusIngestSinkIndexed(docs, corpus,
              s"$dir/chk", buckets = 2, foldEvery = 2)
            else EventStreams.corpusIngestSink(docs, corpus, s"$dir/chk"))
              .awaitTermination()
          }
          def replaced: Seq[String] = Seq(corpus)
          def outputs: Map[String, Seq[String]] = Map("corpus ids" ->
            (if (!new File(corpus).exists()) Seq("absent")
            else spark.read.parquet(corpus).select("doc_id").collect()
              .map(_.getLong(0)).sorted.map(_.toString).toSeq))
          override def close(): Unit = graft.operators.Dedup.dropDedupIndex(spark,
            graft.operators.ScaleOps.bucketTableName("graft_bkt_ingsig", corpus),
            graft.operators.ScaleOps.bucketTableName("graft_bkt_ingband", corpus))
        }
      }
    }
  }

  test("runningAggSink: two batches, every crash point restarts to the " +
      "uninterrupted aggregate") {
    prove("runningAggSink") { dir =>
      import spark.implicits._
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, Long)]
      val batches = Seq(Seq((1L, 10L), (2L, 20L), (1L, 5L)), Seq((2L, 1L), (3L, 7L)))
      new Scenario {
        val steps = 2
        def step(k: Int): Unit = { in.addData(batches(k): _*); resume(k) }
        def resume(k: Int): Unit = EventStreams.runningAggSink(
          in.toDF().toDF("k", "v"), "k", "v", s"$dir/agg", s"$dir/chk")
          .awaitTermination()
        def replaced: Seq[String] = Seq(s"$dir/agg")
        def outputs: Map[String, Seq[String]] = Map("agg" -> rows(s"$dir/agg"))
      }
    }
  }
}

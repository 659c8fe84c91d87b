package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.core.{CacheScope, Jsons, Sessions}
import Workloads.time

/** One benchmark run of one workload, in a fresh JVM:
  *
  *   session → seeded inputs → `SetupReps` × workload set-up → first
  *   (cold) op → warm ops until `seconds` of op time (and at least the
  *   workload's minimum) → checks → raw results JSON.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <raw.json> --spans <spans.json>`
  * (the spans file is written by traced runs only)
  *
  * It records samples only; `perfbench/run.py` turns them into metrics.
  */
object Main {
  /** Layers that get the full per-layer metric set. */
  val Layers: Seq[String] = Seq("sources", "operators", "jobs", "streaming")
  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  final case class OpRec(i: Int, latencyS: Double, startMs: Long, endMs: Long,
      bytesWritten: Long, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.experimental.extraOptimizations ++= Seq(Tracer.UnpinStreamCallSite)
    val tracer = new Tracer(traced)
    spark.sparkContext.addSparkListener(tracer)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext

    val w = Workloads(workload, spark, s"$work/data", seed, traced)
    val prepareS = time(w.prepare())._2
    val setupS = (0 until SetupReps).map(_ => time(w.setup())._2)

    val ops = mutable.ArrayBuffer.empty[OpRec]
    def runOp(i: Int): OpRec = {
      if (traced) w.beforeOp(i)
      Tracer.drain(sc)
      val b0 = tracer.bytesWritten
      val startMs = System.currentTimeMillis()
      val (err, lat) = time(try { w.op(i); None } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
      })
      val endMs = System.currentTimeMillis()
      // the jobs drain their own persists; one that threw may not have
      CacheScope.drain()
      Tracer.drain(sc)
      val bytes = tracer.bytesWritten - b0
      val checked = err.orElse(try w.checkOp(i) catch {
        case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}")
      })
      OpRec(i, lat, startMs, endMs, bytes, checked)
    }
    val cpu0 = cpuTicks()
    ops += runOp(0)
    var timed = 0.0
    val deadline = System.nanoTime() + ((seconds * 3 + 60) * 1e9).toLong
    while ((timed < seconds || ops.size <= w.minWarmOps) && System.nanoTime() < deadline) {
      val r = runOp(ops.size); ops += r; timed += r.latencyS
    }
    val warmDone = System.nanoTime()
    val cpu1 = cpuTicks()
    val runFails = try w.checkRun(ops.size) catch {
      case e: Throwable =>
        ops.indices.map(_ -> s"run check threw ${e.getClass.getName}: ${e.getMessage}").toMap
    }
    val finalOps = ops.map(o => o.copy(error = o.error.orElse(runFails.get(o.i)))).toSeq
    val checkS = (System.nanoTime() - warmDone) / 1e9
    val runMetrics = if (traced) w.runMetrics() ++ callMetrics(tracer, finalOps) else Map.empty
    Tracer.drain(sc)

    val opJson = finalOps.map { o =>
      val own = w.opMetrics(o.i)
      val floor = own.get("streaming.addBatch_ms")
        .map(ms => "streaming.tick_floor_s" -> (o.latencyS - ms / 1e3))
      val layer = if (traced) opMetrics(tracer, o, cores) ++ own ++ floor else Map.empty
      Map("i" -> o.i, "latency_s" -> o.latencyS, "bytes_written" -> o.bytesWritten,
        "error" -> o.error, "metrics" -> layer)
    }
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "setup_reps_s" -> setupS,
      "run_check_s" -> checkS,
      "host_steal_share" -> (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1),
      "input_rows" -> w.inputRows, "input_bytes" -> w.inputBytes, "inputs" -> w.inputs,
      "peak_rss_mb" -> peakRssMb(), "ops" -> opJson, "run_metrics" -> runMetrics)
    Files.writeString(Paths.get(need("out")), json(raw))
    if (traced) Files.writeString(Paths.get(need("spans")), json(spans(tracer, finalOps)))
    spark.stop()
  }

  private def inOp(o: OpRec)(t: Long): Boolean = t >= o.startMs && t <= o.endMs

  private def jobsOf(tr: Tracer, o: OpRec): Seq[Tracer.JobRec] =
    tr.jobs.toSeq.filter(j => inOp(o)(j.start))

  private def clip(o: OpRec)(j: Tracer.JobRec): (Long, Long) =
    (j.start, math.min(math.max(j.end, j.start), o.endMs))

  /** Per-op layer metrics from the jobs that started inside the op. */
  def opMetrics(tr: Tracer, o: OpRec, cores: Int): Map[String, Double] = {
    val js = jobsOf(tr, o)
    val files = tr.fileWrites.toSeq.filter(f => inOp(o)(f._1))
    def union(sel: Seq[Tracer.JobRec]): Double = Tracer.unionMs(sel.map(clip(o))) / 1e3
    val perLayer = Layers.flatMap { l =>
      val lj = js.filter(_.layer == l)
      Seq(
        s"$l.wall_s" -> union(lj),
        s"$l.task_s" -> lj.map(_.taskMs).sum / 1e3,
        s"$l.shuffle_read_bytes" -> lj.map(_.shuffleRead).sum.toDouble,
        s"$l.shuffle_write_bytes" -> lj.map(_.shuffleWrite).sum.toDouble,
        s"$l.spill_bytes" -> lj.map(_.spill).sum.toDouble,
        s"$l.peak_exec_mem_mb" -> lj.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0,
        s"$l.bytes_written" -> lj.map(_.bytesOut).sum.toDouble,
        s"$l.files_written" -> files.filter(f =>
          Tracer.graftFrames(f._2).headOption.exists(_.module == l)).map(_._3).sum.toDouble,
        s"$l.tasks" -> lj.map(_.tasks).sum.toDouble)
    }
    def fn(cls: String, f: String) = union(js.filter(_.calls(cls, f)))
    perLayer.toMap ++ Map(
      "driver.self_s" -> math.max(0.0, o.latencyS - union(js)),
      "cpu_busy_ratio" -> js.map(_.taskMs).sum / 1e3 / (o.latencyS * cores),
      "operators.Dedup.append_s" -> fn("Dedup", "indexAppendLeveled"),
      "sources.VersionedTable.snapshot_s" -> fn("VersionedTable", "snapshot"),
      "sources.VersionedTable.latestVersion_s" -> fn("VersionedTable", "latestVersion"),
      "ingest.corpus_rewrite_bytes" -> js.filter(_.frames.headOption.exists(f =>
        f.cls == "EventStreams" && f.fn == "mergeSwap")).map(_.bytesOut).sum.toDouble)
  }

  /** Functions that run in only some ops: seconds per op that ran them. */
  def callMetrics(tr: Tracer, ops: Seq[OpRec]): Map[String, Double] =
    Seq("fold_s" -> "foldDedupIndexL0", "build_s" -> "buildDedupIndex").map {
      case (k, f) =>
        val per = ops.map(o => Tracer.unionMs(jobsOf(tr, o).filter(_.calls("Dedup", f))
          .map(clip(o))) / 1e3).filter(_ > 0)
        s"operators.Dedup.$k" -> (if (per.isEmpty) 0.0 else per.sum / per.size)
    }.toMap

  /** Op spans, and one child span per Spark job named by its program frame. */
  def spans(tr: Tracer, ops: Seq[OpRec]): Seq[Map[String, Any]] = ops.flatMap { o =>
    Map[String, Any]("id" -> s"op${o.i}", "parent" -> None, "name" -> "op",
      "start_ms" -> o.startMs, "end_ms" -> o.endMs, "error" -> o.error) +:
      jobsOf(tr, o).map { j =>
        Map[String, Any]("id" -> s"job${j.id}", "parent" -> s"op${o.i}",
          "name" -> s"${j.layer}.${j.fn}", "layer" -> j.layer,
          "start_ms" -> j.start, "end_ms" -> j.end,
          "stack" -> j.frames.map(_.name), "task_ms" -> j.taskMs,
          "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill, "peak_exec_mem_bytes" -> j.peakMem,
          "bytes_written" -> j.bytesOut, "tasks" -> j.tasks)
      }
  }

  /** (all, steal) jiffies of the host's CPUs, from /proc/stat: the steal
    * share of the timed ops says how much a hypervisor took from them. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (v.sum, v(7))
    } finally f.close()
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => Jsons.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => Jsons.str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => Jsons.str(other.toString)
  }
}

package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark listener that attributes every job to a program layer.
  *
  * Always on: the task-level bytes written (the `write_amp` numerator),
  * which costs one add per task. With `detailed`, it also keeps one record
  * per job — its interval, its call site, and the summed task metrics of
  * its stages — plus the written-file counts each SQL execution reports.
  *
  * A job's call site is the long form Spark captured when the action ran
  * (the SQL execution's `details`, else the first stage's). The innermost
  * `graft.*` frame names the layer (`graft.<layer>.<Class>.<function>`),
  * so no program code carries instrumentation. Work planned lazily in one
  * function and executed by an action in another counts where the action
  * ran.
  *
  * Read only after [[org.apache.spark.PerfbenchBus.drain]]: events arrive
  * on the listener-bus thread.
  *
  * A streaming query pins its thread's call site to the `start()` caller,
  * which would file every job of a micro-batch under one frame;
  * [[Tracer.UnpinStreamCallSite]] lifts that pin in traced runs.
  */
final class Tracer(detailed: Boolean) extends SparkListener {
  import Tracer._

  @volatile var bytesWritten = 0L

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, JobRec]
  private val execDetails = mutable.HashMap.empty[Long, String]
  private val execStart = mutable.HashMap.empty[Long, Long]
  private val fileMetricExec = mutable.HashMap.empty[Long, Long]
  /** (execution start ms, call site, files written) per SQL execution. */
  val fileWrites = mutable.ArrayBuffer.empty[(Long, String, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      bytesWritten += m.outputMetrics.bytesWritten
      if (detailed) stageOwner.get(e.stageId).foreach { j =>
        j.taskMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        j.bytesOut += m.outputMetrics.bytesWritten
        j.tasks += 1
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = exec.flatMap(execDetails.get)
      .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
    val frames = graftFrames(site)
    val j = new JobRec(e.jobId, e.time, frames)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(id => if (!stageOwner.contains(id)) stageOwner(id) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed)
    jobById.get(e.jobId).foreach(_.end = e.time)

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (detailed) e match {
    case s: SparkListenerSQLExecutionStart =>
      execDetails(s.executionId) = s.details
      execStart(s.executionId) = s.time
      noteFileMetrics(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      noteFileMetrics(u.executionId, u.sparkPlanInfo)
    case a: SparkListenerDriverAccumUpdates =>
      a.accumUpdates.foreach { case (id, v) =>
        fileMetricExec.get(id).foreach { ex =>
          fileWrites += ((execStart.getOrElse(ex, 0L),
            execDetails.getOrElse(ex, ""), v))
        }
      }
    case _ =>
  }

  private def noteFileMetrics(exec: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => if (m.name == "number of written files")
      fileMetricExec(m.accumulatorId) = exec)
    p.children.foreach(noteFileMetrics(exec, _))
  }
}

object Tracer {
  /** `graft.<module>.<Class>.<function>` frames of a call site, innermost
    * first, with Scala's `$`-mangling removed. */
  final case class Frame(module: String, cls: String, fn: String) {
    def name: String = s"$module.$cls.$fn"
  }

  final class JobRec(val id: Int, val start: Long, val frames: Seq[Frame]) {
    var end: Long = start
    var taskMs, shuffleRead, shuffleWrite, spill, peakMem, bytesOut, tasks = 0L
    /** The module of the innermost program frame; "other" if none. */
    def layer: String = frames.headOption.map(_.module).getOrElse("other")
    def fn: String = frames.headOption.map(f => s"${f.cls}.${f.fn}").getOrElse("other")
    def calls(cls: String, fn: String): Boolean =
      frames.exists(f => f.cls == cls && f.fn == fn)
  }

  private val FrameRe = """(?:^|[\s/])graft\.(\w+)\.([\w$]+)\.([\w$]+)\(""".r

  def graftFrames(site: String): Seq[Frame] =
    site.split("\n").toSeq.flatMap(l => FrameRe.findFirstMatchIn(l)).map { m =>
      Frame(m.group(1), m.group(2).stripSuffix("$").split('$').head, cleanFn(m.group(3)))
    }

  /** `$anonfun$corpusIngestSinkIndexed$1` → `corpusIngestSinkIndexed`. */
  private def cleanFn(f: String): String =
    f.split('$').filterNot(p => p.isEmpty || p == "anonfun" || p == "adapted" ||
      p.forall(_.isDigit)).lastOption.getOrElse(f)

  /** Total length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** No-op optimizer rule with one side effect: on a streaming query's
    * thread it clears the call-site local properties the query set at
    * start, so each later job records the stack that really issued it
    * (inside `foreachBatch`: mergeSwap, the index append, the fold). It
    * runs on the thread that plans, which for a micro-batch is the stream
    * thread, before that batch's jobs. Plans are returned unchanged. */
  object UnpinStreamCallSite extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = {
      if (Thread.currentThread.getName.startsWith("stream execution thread"))
        Seq("callSite.short", "callSite.long")
          .foreach(SparkContext.getOrCreate().setLocalProperty(_, null))
      plan
    }
  }
}

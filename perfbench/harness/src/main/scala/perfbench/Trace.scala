package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the index
  * of the enclosing span, or -1; spans of one op share its `op` id. */
final case class Span(op: Int, name: String, layer: String, parent: Int,
    startNs: Long, var endNs: Long = -1L)

/** Everything the traced run observes from outside the program: spans
  * the harness records around its own calls, Spark jobs and tasks from a
  * `SparkListener`, and planning phases from a `QueryExecutionListener`.
  *
  * Jobs carry the op id and phase the harness sets as local properties
  * (inherited by the threads the program starts), and are attributed to
  * a module by the source file of their call site: the first frame
  * outside Spark, which is also what Spark names the job's stages after.
  */
final class Trace(fileModule: Map[String, String]) extends SparkListener
    with QueryExecutionListener {

  final case class JobRec(op: Int, phase: String, module: String, site: String,
      startMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
  final case class StageAgg(var tasks: Long = 0, var runNs: Long = 0,
      var shuffleBytes: Long = 0, var spillBytes: Long = 0,
      var inputBytes: Long = 0, var inputRecords: Long = 0)
  final case class QeRec(startMs: Long, durationNs: Long, planNs: Long, scans: Int)

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.Map[Int, JobRec]()
  val stages = mutable.Map[Int, StageAgg]()
  val qes = mutable.ArrayBuffer[QeRec]()

  /** Opens a span; its parent is the innermost span of the same op
    * still open. */
  def open(op: Int, name: String, layer: String): Int = synchronized {
    val parent = spans.lastIndexWhere(s => s.op == op && s.endNs < 0)
    spans += Span(op, name, layer, parent, System.nanoTime()); spans.size - 1
  }
  def close(i: Int): Unit = synchronized { spans(i).endNs = System.nanoTime() }
  def span[T](op: Int, name: String, layer: String)(f: => T): T = {
    val i = open(op, name, layer)
    try f finally close(i)
  }

  private val siteRe = raw"at ([A-Za-z0-9_$$]+\.(?:scala|java)):\d+".r
  def moduleOf(callSite: String): String =
    siteRe.findFirstMatchIn(Option(callSite).getOrElse(""))
      .flatMap(m => fileModule.get(m.group(1))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val sites = prop("callSite.short").toSeq ++ e.stageInfos.map(_.name)
    val site = sites.find(s => moduleOf(s) != "other").orElse(sites.headOption).getOrElse("")
    jobs(e.jobId) = JobRec(prop(Trace.OpKey).map(_.toInt).getOrElse(-1),
      prop(Trace.PhaseKey).getOrElse(""), moduleOf(site), site, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, StageAgg())
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runNs += m.executorRunTime * 1000000L
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val scans = try qe.executedPlan.collect { case s: FileSourceScanLike => s }.size
      catch { case _: Throwable => 0 }
    // callbacks arrive after the execution ends; its start is that
    // instant minus Spark's own measure of its duration
    val startMs = System.currentTimeMillis() - durationNs / 1000000L
    synchronized { qes += QeRec(startMs, durationNs, planMs * 1000000L, scans) }
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }
  /** SQL executions that started inside the wall-clock window [t0, t1]. */
  def qesIn(t0Ms: Long, t1Ms: Long): Seq[QeRec] = synchronized {
    qes.filter(q => q.startMs >= t0Ms && q.startMs <= t1Ms).toSeq
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}

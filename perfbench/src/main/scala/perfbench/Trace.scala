package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** In-memory span recorder for a traced run. Before each operation the
  * runner sets the Spark job group to that operation's id; this
  * listener, registered on the benchmark's own session, links every
  * job, stage and task it sees to the operation that caused it. Spans
  * stay in memory until the run reads them at its end. */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val work = new ConcurrentHashMap[String, TaskWork]()
  private val stages = new ConcurrentHashMap[String, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroupProperty))).getOrElse(Unattributed)
    jobs.put(e.jobId, JobSpan(op, e.time, -1L))
    e.stageIds.foreach(stageOp.put(_, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.merge(opOf(e.stageInfo.stageId), 1, (a, b) => a + b)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    val run = m.map(_.executorRunTime).getOrElse(0L)
    val overhead = m.map(t => t.executorDeserializeTime + t.resultSerializationTime).getOrElse(0L)
    val read = m.map(t => t.inputMetrics.recordsRead + t.shuffleReadMetrics.recordsRead).getOrElse(0L)
    val w = TaskWork(
      tasks = 1,
      failed = if (e.reason == Success) 0 else 1,
      empty = if (read == 0L) 1 else 0,
      busyMs = run,
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      schedDelayMs = math.max(0L, info.duration - run - overhead),
      gcMs = m.map(_.jvmGCTime).getOrElse(0L),
      shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      shuffleRead = m.map(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      spill = m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L),
      input = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      output = m.map(_.outputMetrics.bytesWritten).getOrElse(0L))
    work.merge(opOf(e.stageId), w, (a, b) => a + b)
  }

  private def opOf(stageId: Int): String = stageOp.getOrDefault(stageId, Unattributed)

  /** Waits (bounded) until every started job has been seen to end: the
    * listener bus delivers events asynchronously. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task/stage events of the last job
  }

  def jobsOf(op: String): Seq[JobSpan] = jobs.values.asScala.filter(_.op == op).toSeq
  def workOf(op: String): TaskWork = work.getOrDefault(op, TaskWork.Zero)
  def workMatching(p: String => Boolean): TaskWork =
    work.asScala.collect { case (g, w) if p(g) => w }.foldLeft(TaskWork.Zero)(_ + _)
  def stagesOf(op: String): Int = Option(stages.get(op)).fold(0)(_.intValue)
  def unattributedJobs: Int = jobsOf(Unattributed).size
}

object Trace {
  val Unattributed = "<none>"

  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupProperty = "spark.jobGroup.id"

  final case class JobSpan(op: String, startMs: Long, endMs: Long)

  final case class TaskWork(tasks: Long, failed: Long, empty: Long, busyMs: Long,
      cpuNs: Long, schedDelayMs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, input: Long, output: Long) {
    def +(o: TaskWork): TaskWork = TaskWork(tasks + o.tasks, failed + o.failed,
      empty + o.empty, busyMs + o.busyMs, cpuNs + o.cpuNs,
      schedDelayMs + o.schedDelayMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
      shuffleRead + o.shuffleRead, spill + o.spill, input + o.input, output + o.output)
  }
  object TaskWork { val Zero = TaskWork(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

  /** Length of the union of `spans` clipped to [lo, hi] (ms). An
    * operation's self time is its wall time minus this union of its
    * jobs' spans, so self plus child spans accounts for the wall time. */
  def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

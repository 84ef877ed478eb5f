package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** One closed interval of work at a layer boundary. `parent` is the span
  * that was open when this one started (0 for an op's root span); spans of
  * one op share `op`. */
final case class Span(id: Int, parent: Int, op: Long, phase: String,
                      name: String, start: Long, end: Long) {
  def ns: Long = end - start
}

/** Records spans around calls into the engine's public API. Disabled, every
  * method is a plain call of its body: the untraced run pays one branch per
  * boundary and nothing else.
  *
  * Spark jobs are attributed to spans through thread-local job properties:
  * each span sets `perfbench.span` while it runs, so a job submitted inside
  * it carries the innermost span's id into the listener's job-start event.
  * The op id and phase travel the same way. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.ArrayBuffer.empty[(Long, String, String, Double)]
  private var open = List.empty[Int]
  private var nextId = 1
  private var op = 0L
  private var phase = "setup"

  def setPhase(p: String): Unit = {
    phase = p
    if (enabled) sc.setLocalProperty(PhaseKey, p)
  }

  /** Runs `body`, work that belongs to no op, under the phase `untimed`,
    * so neither its spans nor its jobs count in the per-layer metrics. */
  def untimed[T](body: => T): T = {
    val p = phase
    setPhase("untimed")
    try body finally setPhase(p)
  }

  /** Starts a new op; spans and counts recorded until the next call belong
    * to it. */
  def beginOp(): Unit = {
    op += 1
    if (enabled) sc.setLocalProperty(OpKey, op.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
        spans += Span(id, parent, op, phase, name, t0, t1)
      }
    }

  /** A per-layer count observed at the current boundary. `value` is only
    * evaluated when tracing is on. */
  def count(name: String)(value: => Double): Unit =
    if (enabled) counts += ((op, phase, name, value))

  def allSpans: Seq[Span] = spans.toSeq
  def allCounts: Seq[(Long, String, String, Double)] = counts.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Node count of a logical plan: how much the analyzer and optimizer
    * have to walk. */
  def planNodes(p: LogicalPlan): Double = p.collect { case n => n }.size.toDouble

  /** Self time of every span: its duration minus the union of its direct
    * children's intervals. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var sum = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) sum += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) sum += curE - curS
      s -> math.max(0L, s.ns - sum)
    }
  }
}

final case class TaskRec(stage: Int, stageAttempt: Int, failed: Boolean,
                         durationMs: Long, runMs: Long, cpuNs: Long,
                         deserMs: Long, resultSerMs: Long,
                         inputBytes: Long, shuffleWriteBytes: Long,
                         shuffleReadBytes: Long, spillBytes: Long, gcMs: Long)

final case class JobRec(job: Int, span: Int, op: Long, phase: String, stages: Seq[Int])

/** Job, stage and task counts as the scheduler reports them. Events arrive
  * on the listener-bus thread; read them only after [[org.apache.spark.PerfbenchBridge.drain]]. */
final class Counters extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stagesDone = new ConcurrentLinkedQueue[(Int, Int)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.add(JobRec(e.jobId, prop(Tracer.SpanKey).map(_.toInt).getOrElse(0),
      prop(Tracer.OpKey).map(_.toLong).getOrElse(0L),
      prop(Tracer.PhaseKey).getOrElse(""), e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add((e.stageInfo.stageId, e.stageInfo.attemptNumber()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def mv(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks.add(TaskRec(e.stageId, e.stageAttemptId, !i.successful,
      i.duration, mv(_.executorRunTime), mv(_.executorCpuTime),
      mv(_.executorDeserializeTime), mv(_.resultSerializationTime),
      mv(_.inputMetrics.bytesRead), mv(_.shuffleWriteMetrics.bytesWritten),
      mv(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead),
      mv(x => x.memoryBytesSpilled + x.diskBytesSpilled), mv(_.jvmGCTime)))
  }

  def allJobs: Seq[JobRec] = jobs.asScala.toSeq
  def allStages: Seq[(Int, Int)] = stagesDone.asScala.toSeq
  def allTasks: Seq[TaskRec] = tasks.asScala.toSeq
}

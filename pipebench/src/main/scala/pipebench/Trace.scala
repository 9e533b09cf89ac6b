package pipebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PipebenchAccess
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval. Times are epoch milliseconds (fractional for spans
  * the benchmark records itself); `parent` is -1 for an operation's root
  * span, `op` names the operation every span of one request shares. */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int)

/** In-memory spans and counters, written out once at the end of a run.
  * Operation spans are always recorded (the end-to-end timings come from
  * them); Spark job, stage and plan records exist only while [[attach]]ed,
  * which is what the traced run adds. */
final class Tracer {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  /** (op, counter) → value; counters add up. */
  val counters = mutable.LinkedHashMap[(Int, String), Double]()
  private var nextId = 0

  def newId(): Int = { nextId += 1; nextId }

  /** Times `body` as a span named `name` of operation `op`. */
  def span[T](name: String, op: Int, parent: Int)(body: => T): T = {
    val id = newId()
    val start = nowMs
    val result = body
    spans += Span(id, name, start, nowMs, parent, op)
    result
  }

  def record(s: Span): Unit = spans += s

  def count(op: Int, name: String, v: Double): Unit =
    counters((op, name)) = counters.getOrElse((op, name), 0.0) + v

  val jobs = new SparkTrace
  private var attached: Option[SparkContext] = None

  /** Starts recording Spark events. Call stacks are recorded whole while
    * attached, so each job's stack reaches the program frame that caused
    * it (Spark keeps 20 frames by default, most of them its own). */
  def attach(sc: SparkContext): Unit = {
    System.setProperty(SparkTrace.StackDepthKey, "4096")
    sc.addSparkListener(jobs)
    attached = Some(sc)
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = attached.foreach(PipebenchAccess.drain)

  def detach(): Unit = attached.foreach { sc =>
    drain()
    sc.removeSparkListener(jobs)
    System.clearProperty(SparkTrace.StackDepthKey)
    attached = None
  }
}

/** One Spark job: `site` is the call site the submitting thread recorded
  * when it started the job's action, `streaming` whether a streaming query's
  * thread submitted it. */
final case class JobRec(id: Int, start: Double, var end: Double, site: String,
                        streaming: Boolean, stages: Seq[Int])

final class StageAgg {
  var submitted = 0.0; var completed = 0.0; var tasks = 0
  var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0; var schedMs = 0.0
  var shuffleWrite = 0.0; var shuffleRead = 0.0; var spill = 0.0
  var input = 0.0; var output = 0.0
}

final case class PlanRec(at: Double, planMs: Double, exchanges: Int,
                         filesRead: Double, bucketsSelected: Double)

/** Job, stage and task records from the Spark scheduler, and Catalyst phase
  * times and executed-plan facts of every finished SQL execution. */
final class SparkTrace extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageAgg]()
  val plans = mutable.ArrayBuffer[PlanRec]()

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  /** SQL execution id → the call stack of the action that started it. */
  private val execStack = mutable.HashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(execStack(s.executionId) = s.details)
    case end: SparkListenerSQLExecutionEnd =>
      PipebenchAccess.queryOf(end).foreach(qe => synchronized(plans += SparkTrace.plan(qe, end.time)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // The call stack comes from the event, never from the listener's own
    // timing: the SQL execution the job belongs to recorded its action's
    // stack on the submitting thread (adaptive and broadcast jobs submitted
    // from Spark's threads carry the execution id too); jobs outside SQL
    // carry their stage's recorded stack.
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val recorded = prop("spark.sql.execution.id").flatMap(x => execStack.get(x.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.time.toDouble, SparkTrace.site(recorded),
      prop(SparkTrace.StreamQueryKey).isDefined, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.submitted = i.submissionTime.getOrElse(0L).toDouble
    s.completed = i.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
      val info = e.taskInfo
      s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }
}

object SparkTrace {
  private val Frame = """\s*(\S+)\((\S+\.(?:scala|java)):(\d+)\)""".r

  /** The innermost frame of a call stack ("method(File.scala:line)" lines)
    * that lies in a known module, as "method at File.scala:line". */
  def site(stack: String): String = {
    val frames = stack.split("\n").toSeq.collect { case Frame(m, f, l) => (m, f, l) }
    frames.find(f => Main.ModuleOfFile.contains(f._2)).orElse(frames.drop(1).headOption)
      .map { case (m, f, l) => s"${m.split('.').last} at $f:$l" }.getOrElse("")
  }

  /** The system property Spark reads the depth of recorded call stacks
    * from, and the local property marking a streaming query's thread. */
  val StackDepthKey = "spark.callstack.depth"
  val StreamQueryKey = "sql.streaming.queryId"

  /** A streaming query pins the call site of its start on its thread, so
    * every action its micro-batches run would record that one stack. This
    * check rule runs on the thread analysing a plan; on a stream thread it
    * unpins the call site, so the micro-batch body's actions record their
    * own stacks. It changes nothing but call-site labels, and is installed
    * in traced runs only. */
  def unpinStreamCallSite(sc: SparkContext): LogicalPlan => Unit = _ =>
    if (sc.getLocalProperty(StreamQueryKey) != null && sc.getLocalProperty("callSite.long") != null) {
      sc.setLocalProperty("callSite.short", null)
      sc.setLocalProperty("callSite.long", null)
    }

  /** Catalyst analysis + optimization + planning time and executed-plan
    * facts of one query; `at` is when its planning finished, which falls
    * inside the operation that ran it. */
  def plan(qe: QueryExecution, endMs: Long): PlanRec = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val at = phases.get("planning").map(_.endTimeMs.toDouble).getOrElse(endMs.toDouble)
    val nodes = SparkTrace.nodes(qe.executedPlan)
    def metric(p: SparkPlan, name: String) = p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    PlanRec(at, planMs,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      scans.map(metric(_, "numFiles")).sum,
      scans.filter(_.bucketedScan).map(s => s.optionalBucketSet
        .map(_.cardinality().toDouble)
        .getOrElse(s.relation.bucketSpec.map(_.numBuckets.toDouble).getOrElse(0.0))).sum)
  }

  /** Every node of an executed plan, descending through adaptive wrappers,
    * query stages and command results; reused exchanges count once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => Nil
      case w: DataWritingCommandExec => Seq(w.child)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.{HashSetCountDistinct, SketchAgg, SketchMergeAgg}

/** In-memory trace of the traced passes. The listeners below write here;
  * nothing is recorded while `enabled` is false.
  *
  * Spark jobs carry the operation id in the local property [[OpProperty]],
  * which the thread running an operation sets and its child threads
  * (streaming query threads included) inherit. SQL executions and
  * streaming batches reach their operation through its wall-clock window,
  * which holds their planning start or trigger time: one client runs one
  * operation at a time.
  */
object Trace {
  val OpProperty = "perfbench.op"
  @volatile var enabled = false

  final case class Job(id: Int, op: Long, start: Long, @volatile var end: Long)
  final case class Stage(id: Int, job: Int, start: Long, end: Long, tasks: Int,
      runMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      input: Long, spill: Long)
  /** SQL metrics of one execution: graft aggregate build time and sort
    * fallbacks, shuffle bytes of their partial state, and write-node totals.
    */
  final case class Sql(start: Long, aggMs: Long, fallbacks: Long, stateBytes: Long,
      files: Long, rowsWritten: Long, bytesWritten: Long)
  final case class Batch(start: Long, durations: Map[String, Long])

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val sqls = new ConcurrentLinkedQueue[Sql]()
  val starts = new ConcurrentLinkedQueue[java.lang.Long]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  /** Wait until every recorded job has ended and no event arrived for
    * `quietMs`: listener delivery is asynchronous. Recording stays on until then.
    */
  def drain(quietMs: Long = 200, maxMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def size = jobs.size + stages.size + sqls.size + batches.size
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        (jobs.values.asScala.exists(_.end == 0L) ||
          System.currentTimeMillis() - stableSince < quietMs)) {
      val s = size
      if (s != last) { last = s; stableSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  private def isGraft(p: ObjectHashAggregateExec): Boolean =
    p.aggregateExpressions.exists(_.aggregateFunction match {
      case _: HashSetCountDistinct | _: SketchAgg | _: SketchMergeAgg => true
      case _ => false
    })

  private object Plans extends AdaptiveSparkPlanHelper {
    def all(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  def sqlOf(qe: QueryExecution): Sql = {
    val nodes = Plans.all(qe.executedPlan)
    val aggs = nodes.collect { case a: ObjectHashAggregateExec if isGraft(a) => a }
    val state = nodes.collect {
      case x: ShuffleExchangeLike if (x.child match {
        case a: ObjectHashAggregateExec =>
          isGraft(a) && a.aggregateExpressions.exists(_.mode == Partial)
        case _ => false
      }) => metric(x, "shuffleBytesWritten")
    }.sum
    val writes = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def w(key: String) = writes.map(_.get(key).map(_.value).getOrElse(0L)).sum
    val start = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    Sql(start, aggs.map(metric(_, "aggTime")).sum, aggs.map(metric(_, "numTasksFallBacked")).sum, state,
      w("numFiles"), w("numOutputRows"), w("numOutputBytes"))
  }

  def recordStage(info: org.apache.spark.scheduler.StageInfo): Unit = {
    val m = info.taskMetrics
    if (m != null && stageJob.containsKey(info.stageId))
      stages.add(Stage(info.stageId, stageJob.get(info.stageId),
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L),
        info.numTasks, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.inputMetrics.bytesRead, m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  def recordJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).foreach { op =>
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, Job(e.jobId, op.toLong, e.time, 0L))
    }
}

/** Jobs and stages, registered through `spark.extraListeners`. */
class JobTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) Trace.recordJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(Trace.jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.enabled) Trace.recordStage(e.stageInfo)
}

/** SQL metrics per execution, registered through
  * `spark.sql.queryExecutionListeners` so derived sessions get it too.
  */
class SqlTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) Trace.sqls.add(Trace.sqlOf(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Streaming starts and micro-batch progress, registered through the
  * static conf `spark.sql.streaming.streamingQueryListeners`: the sessions
  * `StreamingQueries` derives with `newSession()` load it too, while a
  * listener added to the parent's `spark.streams` would miss them.
  */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  private def millis(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (Trace.enabled) Trace.starts.add(millis(e.timestamp))
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.enabled) {
      val p = e.progress
      Trace.batches.add(Trace.Batch(millis(p.timestamp),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory event store the traced run's listeners fill. The listeners
  * are registered through the `spark.extraListeners` and
  * `spark.sql.streaming.streamingQueryListeners` system properties, so
  * every SparkContext/SparkSession the program creates (RunPipeline makes
  * a fresh one per DAG run) reports here without any change to the
  * program. Job and stage ids restart with each SparkContext, so they
  * are keyed by a per-context number; SQL execution ids are JVM-wide.
  */
object Trace {
  /** What an action's plan did, from the QueryExecution its
    * execution-end event carries.
    */
  final case class Plan(writes: Seq[String], reads: Seq[String], filtersOrJoins: Boolean,
      files: Long, bytes: Long, analysisMs: Double, optimizationMs: Double, planningMs: Double)
  val unknownPlan = Plan(Nil, Nil, false, 0L, 0L, 0.0, 0.0, 0.0)

  final class Exec(val id: Long, val start: Long) {
    @volatile var end: Long = -1L
    @volatile var failed: Boolean = false
    @volatile var plan: Plan = unknownPlan
    val replans = new AtomicInteger(0)
  }

  final class Job(val key: String, val execId: Long, val start: Long) {
    @volatile var end: Long = -1L
  }

  final class Stage(val key: String, val jobKey: String) {
    @volatile var start: Long = -1L
    @volatile var end: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var serdeMs = 0L
    var schedMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var maxTaskRead = 0L
    var spill = 0L
    var input = 0L
  }

  final case class Batch(time: Long, durations: Map[String, Long], stateRows: Long, stateMem: Long)

  val execs = new ConcurrentHashMap[Long, Exec]()
  val jobs = new ConcurrentHashMap[String, Job]()
  val stages = new ConcurrentHashMap[String, Stage]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val contexts = new AtomicInteger(0)
  def nextContext(): Int = contexts.incrementAndGet()

  private def paths(p: Seq[Path]): Seq[String] = p.map(_.toUri.getPath)

  /** Tables an action read and wrote, its write statistics, its Catalyst
    * phase split, and whether its plan filters or joins (a bare
    * `count()` of a table does not).
    */
  def describe(qe: QueryExecution): Plan = {
    val plan: LogicalPlan = qe.analyzed
    val writes = paths(plan.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath })
    val reads = paths(plan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
    }.flatten)
    val filtersOrJoins = scala.util.Try(qe.optimizedPlan.exists {
      case _: Filter | _: Join => true
      case _ => false
    }).getOrElse(false)
    // `collect` does not descend into AQE stages or eagerly run commands
    def writeMetrics(p: SparkPlan): Seq[Map[String, SQLMetric]] = p match {
      case d: DataWritingCommandExec => Seq(d.cmd.metrics)
      case a: AdaptiveSparkPlanExec => writeMetrics(a.executedPlan)
      case q: QueryStageExec => writeMetrics(q.plan)
      case c: CommandResultExec => writeMetrics(c.commandPhysicalPlan)
      case other => other.children.flatMap(writeMetrics)
    }
    val metrics = scala.util.Try(writeMetrics(qe.executedPlan)).getOrElse(Nil)
    def total(k: String) = metrics.flatMap(_.get(k)).map(_.value).sum
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    Plan(writes, reads, filtersOrJoins, total("numFiles"), total("numOutputBytes"),
      ms("analysis"), ms("optimization"), ms("planning"))
  }
}

/** Scheduler, executor and SQL-execution events (`spark.extraListeners`). */
class TraceListener extends SparkListener {
  import Trace._
  private val ctx = nextContext()
  private def k(id: Int) = s"$ctx:$id"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(k(e.jobId), new Job(k(e.jobId), exec, e.time))
    e.stageInfos.foreach(s => stages.putIfAbsent(k(s.stageId), new Stage(k(s.stageId), k(e.jobId))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(k(e.jobId))).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(k(e.stageInfo.stageId))).foreach { s =>
      s.start = e.stageInfo.submissionTime.getOrElse(-1L)
      s.end = e.stageInfo.completionTime.getOrElse(-1L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    val s = stages.computeIfAbsent(k(e.stageId), key => new Stage(key, ""))
    val read = m.shuffleReadMetrics.totalBytesRead
    val serde = m.executorDeserializeTime + m.resultSerializationTime
    val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
    s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.serdeMs += serde
      s.schedMs += math.max(0L, info.duration - m.executorRunTime - serde - gettingResult)
      s.shuffleRead += read
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.maxTaskRead = math.max(s.maxTaskRead, read)
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.putIfAbsent(s.executionId, new Exec(s.executionId, s.time))
    case end: SparkListenerSQLExecutionEnd =>
      val x = execs.computeIfAbsent(end.executionId, id => new Exec(id, end.time))
      x.end = end.time
      x.failed = end.errorMessage.exists(_.nonEmpty)
      Option(org.apache.spark.sql.perfbench.SqlAccess.queryExecution(end)).foreach { qe =>
        try x.plan = describe(qe) catch { case _: Throwable => () }
      }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      Option(execs.get(u.executionId)).foreach(_.replans.incrementAndGet())
    case _ => ()
  }
}

/** Micro-batch progress (`spark.sql.streaming.streamingQueryListeners`). */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = Option(p.durationMs).map(_.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      .getOrElse(Map.empty)
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    val at = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
      .getOrElse(System.currentTimeMillis())
    Trace.batches.add(Trace.Batch(at, d,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }
}

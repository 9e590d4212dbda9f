package graft

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one task listener. It keeps running totals of scan input bytes,
  * shuffle bytes and the largest single-task shuffle read (the skew
  * indicator), counts jobs and tasks, and accounts time per stage: task
  * run, CPU, GC, serde, shuffle fetch and scheduler time, plus the
  * stage's wall span from submission to completion. Bench reads the
  * shuffle totals per query, Profile prints the stage table and the
  * smokes read input bytes per phase. Events arrive asynchronously:
  * call [[settle]] after an action and before reading.
  */
final class TaskMeter private (sc: SparkContext) extends SparkListener {
  import TaskMeter.Stage

  val inputBytes = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val maxTaskShuffleRead = new AtomicLong
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  private val byStage = mutable.LinkedHashMap[Int, Stage]()

  /** Blocks until every event posted so far has been delivered. */
  def settle(): Unit = GraftListenerBus.drain(sc)

  def stages: Seq[Stage] = synchronized(byStage.values.toSeq)

  def reset(): Unit = synchronized {
    Seq(inputBytes, shuffleWrite, shuffleRead, maxTaskShuffleRead, jobs, tasks)
      .foreach(_.set(0))
    byStage.clear()
  }

  private def stage(id: Int): Stage = byStage.getOrElseUpdate(id, new Stage)

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    val a = stage(s.stageInfo.stageId)
    a.name = s.stageInfo.name.takeWhile(_ != '\n').take(90)
    a.submitted = System.currentTimeMillis()
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    stage(s.stageInfo.stageId).completed = System.currentTimeMillis()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks.incrementAndGet()
    val a = stage(t.stageId)
    a.tasks += 1
    val m = t.taskMetrics
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      val tr = m.shuffleReadMetrics.totalBytesRead
      shuffleRead.addAndGet(tr)
      maxTaskShuffleRead.getAndAccumulate(tr, math.max(_, _))
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.cpuNs += m.executorCpuTime
      a.serMs += m.executorDeserializeTime + m.resultSerializationTime
      a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      // launch->finish minus everything metered
      val wall = t.taskInfo.finishTime - t.taskInfo.launchTime
      a.schedMs += math.max(0,
        wall - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime)
    }
  }
}

object TaskMeter {
  final class Stage {
    var name = ""
    var tasks = 0
    var runMs, gcMs, serMs, fetchMs, cpuNs, schedMs = 0L
    var submitted, completed = 0L
    def spanMs: Long = math.max(0, completed - submitted)
  }

  def attach(spark: SparkSession): TaskMeter = {
    val m = new TaskMeter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }
}

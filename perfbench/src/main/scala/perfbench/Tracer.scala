package perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.annotation.tailrec
import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.TaskEndReason
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * In-memory span and counter recorder for the traced run. It sits outside
 * the engine: a scheduler listener for stage spans and task counters, and a
 * query-execution listener for the executed write's Catalyst phases and
 * physical plan. Spans of one (query, rep) share the id `query#pass`; the
 * job group `id/construct` or `id/execute` ties each stage to its parent.
 *
 * Recording is off unless [[on]] is set, so untraced passes in the same JVM
 * pay only a flag check per event.
 */
final class Tracer(spark: SparkSession, rec: Records) extends SparkListener
    with QueryExecutionListener {
  @volatile var on = false
  private val lastWrite = new AtomicReference[QueryExecution]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageAcc = mutable.Map.empty[Int, Tracer.StageAcc]

  spark.sparkContext.addSparkListener(this)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager.register(this)

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) group(e.properties).foreach(g => rec.write("job", "group" -> g))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (on) group(e.properties).foreach { g => synchronized {
      stageGroup(e.stageInfo.stageId) = g
      stageAcc(e.stageInfo.stageId) = new Tracer.StageAcc
    } }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    stageAcc.get(e.stageId).foreach(_.add(e.taskInfo, e.taskMetrics, e.reason))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val si = e.stageInfo
    val found = synchronized {
      stageGroup.remove(si.stageId).zip(stageAcc.remove(si.stageId))
    }
    found.foreach { case (g, a) =>
      val (id, parent) = g.splitAt(g.lastIndexOf('/'))
      rec.write("span", Seq[(String, Any)]("id" -> id, "name" -> s"stage${si.stageId}",
        "parent" -> parent.drop(1),
        "start_s" -> si.submissionTime.getOrElse(0L) / 1e3,
        "end_s" -> si.completionTime.getOrElse(0L) / 1e3,
        "num_tasks" -> si.numTasks) ++ a.fields: _*)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) lastWrite.set(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Run `body` with every job it starts tagged `id/phase`. */
  def tagged[A](id: String, phase: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$id/$phase", phase, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Catalyst analysis runs when the DataFrame is built, so its span comes
    * from the constructed frame's own tracker and sits inside construct. */
  def recordAnalysis(id: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.tracker.phases
      .get("analysis").foreach { s =>
        rec.write("span", "id" -> id, "name" -> "analysis", "parent" -> "construct",
          "start_s" -> s.startTimeMs / 1e3, "end_s" -> s.endTimeMs / 1e3)
      }

  /** Forget query executions seen so far (the next one is the write). */
  def resetWrite(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    lastWrite.set(null)
  }

  /** After a traced write: wait for its events, then record the write's
    * optimization and planning spans and the executed plan's signature.
    * Returns the end of planning (epoch s), where the execute span starts. */
  def finishWrite(id: String, saveStart: Double): Double = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    Option(lastWrite.getAndSet(null)) match {
      case None => saveStart
      case Some(qe) =>
        val phases = qe.tracker.phases
        Seq("optimization", "planning").foreach { p =>
          phases.get(p).foreach { s =>
            rec.write("span", "id" -> id, "name" -> p, "parent" -> "query",
              "start_s" -> s.startTimeMs / 1e3, "end_s" -> s.endTimeMs / 1e3)
          }
        }
        rec.write("plan", ("id" -> id) +: Tracer.signature(qe.executedPlan): _*)
        phases.get("planning").map(_.endTimeMs / 1e3).getOrElse(saveStart)
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** Task counters of one stage, summed as its tasks end. */
  final class StageAcc {
    private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics, reason: TaskEndReason): Unit = {
      c("tasks") += 1
      if (reason != Success) c("failed_tasks") += 1
      if (m != null) {
        c("task_run_s") += m.executorRunTime / 1e3
        c("task_cpu_s") += m.executorCpuTime / 1e9
        c("gc_s") += m.jvmGCTime / 1e3
        c("sched_delay_s") += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3
        c("input_bytes") += m.inputMetrics.bytesRead
        c("input_records") += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) c("scan_tasks") += 1
        c("output_bytes") += m.outputMetrics.bytesWritten
        c("output_records") += m.outputMetrics.recordsWritten
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    def fields: Seq[(String, Any)] = c.toSeq
  }

  /** Plan-shape counts of an executed plan, AQE stages and subqueries
    * included. */
  def signature(plan: SparkPlan): Seq[(String, Any)] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // an exchange whose consumer reads it as one partition: a
    // one-partition shuffle, or a larger one AQE coalesced down to one
    val singleReads = shuffles.count(_.outputPartitioning.numPartitions == 1) +
      nodes.count { case r: AQEShuffleReadExec => r.partitionSpecs.size == 1; case _ => false }
    def count[T: scala.reflect.ClassTag]: Int =
      nodes.count(n => implicitly[scala.reflect.ClassTag[T]].runtimeClass.isInstance(n))
    Seq(
      "exchanges" -> shuffles.size,
      "single_partition_exchanges" -> singleReads,
      "sorts" -> count[SortExec],
      "windows" -> count[WindowExecBase],
      "smj" -> count[SortMergeJoinExec],
      "bhj" -> count[BroadcastHashJoinExec],
      "codegen_stages" -> count[WholeStageCodegenExec],
      "widened" -> shuffles.count(s => s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] &&
        scanBelow(s.child)))
  }

  /** A file scan reached through row-level operators only. */
  @tailrec private def scanBelow(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec | _: BatchScanExec => true
    case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
         _: ProjectExec | _: FilterExec => scanBelow(p.children.head)
    case _ => false
  }
}

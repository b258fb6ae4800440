package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener events' timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory spans for run -> pass -> query -> {build, plan, exec}.
  *
  * Each span sets the Spark local property [[Tracer.SpanKey]] to its id
  * while it is open, so every job and stage submitted from inside it
  * (streaming threads inherit local properties) names the span it
  * belongs to. Spans are only collected; the arithmetic (self time,
  * per-layer sums) is done by the reader of the dump.
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](kind: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val saved = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    stack = id :: stack
    val start = Clock.nowMs
    try body
    finally {
      val end = Clock.nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, saved)
      done += Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start" -> start, "end" -> end)
    }
  }

  /** Every closed span, in closing order. */
  def spans: Seq[Map[String, Any]] = done.toList
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Records jobs, stages, tasks, RDD block writes and streaming progress
  * through Spark's public listener APIs. One recorder covers one traced
  * pass; its contents are read after the listener bus has drained.
  */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  private val stageSpan = mutable.Map.empty[Int, Any]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val failedTasks = mutable.Map.empty[(Int, Int), Int]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storedBytes = 0L
  private var peakStoredBytes = 0L
  private var blocksWritten = 0
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def spanOf(p: Properties): Any =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs(e.jobId) = mutable.Map(
      "id" -> e.jobId, "start" -> e.time.toDouble, "end" -> null,
      "span" -> spanOf(e.properties),
      "callsite" -> last.map(_.name).getOrElse(""),
      "sql" -> (Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end") = e.time.toDouble
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    taskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (e.reason != Success) failedTasks(key) = failedTasks.getOrElse(key, 0) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val key = (s.stageId, s.attemptNumber())
    val m = Option(s.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    stages(key) = mutable.Map(
      "id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "span" -> stageSpan.getOrElse(s.stageId, null),
      "start" -> s.submissionTime.map(_.toDouble).orNull,
      "end" -> s.completionTime.map(_.toDouble).orNull,
      "tasks" -> s.numTasks,
      "failed" -> s.failureReason.isDefined,
      "failed_tasks" -> failedTasks.getOrElse(key, 0),
      "run_ms" -> metric(_.executorRunTime),
      "gc_ms" -> metric(_.jvmGCTime),
      "shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead),
      "spill_bytes" -> metric(_.diskBytesSpilled),
      "task_ms" -> taskMs.getOrElse(key, Nil).toList)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      storedBytes -= blockBytes.getOrElse(id, 0L)
      if (info.storageLevel.isValid) {
        val bytes = info.memSize + info.diskSize
        blockBytes(id) = bytes
        storedBytes += bytes
        blocksWritten += 1
      } else blockBytes.remove(id)
      peakStoredBytes = math.max(peakStoredBytes, storedBytes)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        progress += Map(
          "run" -> p.runId.toString,
          "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "batch_ms" -> p.batchDuration,
          "rows" -> p.numInputRows,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  def stop(spark: SparkSession): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }

  def dump: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.values.map(_.toMap).toList,
      "progress" -> progress.toList,
      "blocks_written" -> blocksWritten,
      "peak_storage_bytes" -> peakStoredBytes)
  }
}

/** Operator counts of a frame's executed (adaptive, final) plan. */
object PlanStats {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def counts(plan: SparkPlan): Map[String, Int] = {
    val ns = nodes(plan)
    Map(
      "exchanges" -> ns.count(_.isInstanceOf[Exchange]),
      "reused_exchanges" -> ns.count(_.isInstanceOf[ReusedExchangeExec]),
      "sort_merge_joins" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "single_partition_windows" -> ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
  }
}

package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished stage: its span, task-metric sums, the RDD operation
  * scopes it ran (which name the layer), and its task durations. */
final case class StageSpan(stageId: Int, jobId: Int, startMs: Long,
    endMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    recordsRead: Long, bytesRead: Long, scopes: Set[String],
    taskMs: Seq[Long]) {
  /** Reads the lake (the DSv2 scan counts its rows as input records). */
  def isScan: Boolean = recordsRead > 0
  /** Runs `writeSSTables`' per-generation encoder. */
  def isSink: Boolean = scopes.exists(_.startsWith("MapGroups"))
  /** Runs the last-write-wins merge's windows. */
  def isMerge: Boolean = !isSink && scopes.exists(_.startsWith("Window"))
}

final case class JobSpan(jobId: Int, startMs: Long, endMs: Long)

/** Records job and stage spans, and the DSv2 scan metrics of every
  * executed query, in memory. Listener events arrive asynchronously, so
  * [[SpanListener.drain]] runs a marker job and waits for its end before
  * the spans of an operation are read. */
final class SpanListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import SpanListener.MarkerGroup
  private val jobs = ArrayBuffer.empty[JobSpan]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[StageSpan]
  private val taskMs = scala.collection.mutable.Map
    .empty[Int, ArrayBuffer[Long]]
  private val markers = scala.collection.mutable.Set.empty[Int]
  private val markersSeen = scala.collection.mutable.Set.empty[Int]
  private val scanMetrics = scala.collection.mutable.Map
    .empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    if (group.contains(MarkerGroup)) markers += e.jobId
    else {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markers(e.jobId)) { markersSeen += e.jobId; notifyAll() }
    else jobStart.remove(e.jobId).foreach(s =>
      jobs += JobSpan(e.jobId, s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stageJob.get(i.stageId).foreach { job =>
        val m = i.taskMetrics
        stages += StageSpan(i.stageId, job,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          i.rddInfos.flatMap(_.scope.map(_.name)).toSet,
          taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    collect(qe.executedPlan) { case s: BatchScanExec => s }.foreach { s =>
      val path = SpanListener.PathOf.findFirstMatchIn(s.scan.description())
        .map(_.group(1)).getOrElse("?")
      scanMetrics(s"$path|scans") += 1
      s.metrics.foreach { case (k, v) => scanMetrics(s"$path|$k") += v.value }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Runs a marker job and waits until its end event arrives: every
    * event posted before it has then been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "listener barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (markersSeen.size < markers.size &&
        System.currentTimeMillis() < deadline) wait(100)
    }
  }

  /** Everything recorded since the last call, then forgotten. Scan
    * metrics are keyed `<scanned path>|<metric>`, with `<path>|scans`
    * counting the scans of that path. */
  def take(): (Seq[JobSpan], Seq[StageSpan], Map[String, Long]) =
    synchronized {
      val out = (jobs.toSeq, stages.toSeq, scanMetrics.toMap)
      jobs.clear(); stages.clear(); scanMetrics.clear()
      out
    }
}

object SpanListener {
  val MarkerGroup = "perfbench-marker"
  val PathOf = "path=([^,)]+)".r

  /** Total length of the union of [start, end) intervals. */
  def union(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

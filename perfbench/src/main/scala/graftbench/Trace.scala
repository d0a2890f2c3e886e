package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval, in milliseconds since the run started. Spans of
  * one operation share its `op` id; `parent` is the id of the enclosing
  * span (0 for a top-level one). */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double) {
  def json: String = Json.obj("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs)
}

/** In-memory span log, written out when the run ends. */
final class Spans(val epochMs: Long, val startNanos: Long) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  def fromNanos(t: Long): Double = (t - startNanos) / 1e6
  def fromEpochMs(t: Long): Double = (t - epochMs).toDouble
  def add(parent: Int, op: Int, name: String, startMs: Double, endMs: Double): Int = {
    val id = spans.length + 1
    spans += Span(id, parent, op, name, startMs, endMs)
    id
  }
  def all: Seq[Span] = spans.toSeq
}

/** Task-level totals of one stage. */
final class StageAgg {
  var submittedMs = -1L
  var completedMs = -1L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var cpuNanos = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  def wallS: Double = if (submittedMs < 0 || completedMs < 0) 0.0 else (completedMs - submittedMs) / 1e3
}

final case class JobSpan(id: Int, group: String, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** Records jobs, stages and tasks by job group. Attached only for traced
  * operations. */
final class OpsListener extends SparkListener {
  private val jobStarts = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val stages = mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStarts(e.jobId) = (group, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, s, st) => jobs += JobSpan(e.jobId, g, s, e.time, st) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.submittedMs = e.stageInfo.submissionTime.getOrElse(-1L)
    a.completedMs = e.stageInfo.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.cpuNanos += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** The finished jobs of a group and the stages they ran. */
  def take(group: String): (Seq[JobSpan], Seq[StageAgg]) = synchronized {
    val js = jobs.filter(_.group == group).toSeq
    jobs --= js
    val ran = js.flatMap(_.stageIds).distinct.flatMap(stages.remove)
    (js, ran)
  }
}

/** Collects micro-batch progress; stays attached in untraced runs too,
  * because batch latency is an end-to-end metric. */
final class ProgressListener extends StreamingQueryListener {
  private val seen = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { seen += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val out = seen.toSeq
    seen.clear()
    out
  }
}

/** JVM-wide GC time and heap peak around one operation. In `local[k]`
  * the executors share the driver JVM, so these cover the whole query. */
final class JvmWindow {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def gcMs = gcs.map(_.getCollectionTime).sum
  private val gc0 = gcMs
  heap.foreach(_.resetPeakUsage())
  def gcS: Double = (gcMs - gc0) / 1e3
  /** Sum of the heap pools' peaks since the window opened. */
  def heapPeakMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Per-operation layer figures of the `graft.operators` aggregate. */
final case class OpsSample(
    wallS: Double, partialStageS: Double, partialCpuS: Double, taskSkew: Double,
    finalMergeS: Double, shuffleWriteBytes: Double, driverS: Double,
    jobs: Double, stages: Double, tasks: Double, gcS: Double, spillBytes: Double,
    heapPeakMb: Double, reconcileErr: Double)

object OpsSample {
  /** Split one operation by its jobs and stages. The partial stage is the
    * one that writes the shuffle (per-task local skylines); the final
    * merge is the one that reads it and writes none. `driverS` is the
    * wall time no job covers; `reconcileErr` compares it plus the job
    * union (unclipped) with the wall time, so a job attributed to the
    * wrong operation shows. */
  def of(spans: Spans, op: Int, parent: Int, startNanos: Long, endNanos: Long,
      jobs: Seq[JobSpan], stages: Seq[StageAgg], jvm: JvmWindow): OpsSample = {
    val wallS = (endNanos - startNanos) / 1e9
    val (s0, e0) = (spans.fromNanos(startNanos), spans.fromNanos(endNanos))
    val rel = jobs.map(j => (spans.fromEpochMs(j.startMs), spans.fromEpochMs(j.endMs)))
    rel.zip(jobs).foreach { case ((s, e), j) => spans.add(parent, op, s"job ${j.id}", s, e) }
    def union(iv: Seq[(Double, Double)]): Double =
      Stats.unionLength(iv.map { case (s, e) => ((s * 1e3).toLong, (e * 1e3).toLong) }) / 1e6
    val clipped = union(rel.map { case (s, e) => (math.max(s, s0), math.min(e, e0)) }.filter(x => x._2 > x._1))
    val driverS = math.max(0.0, wallS - clipped)
    val reconcileErr = math.abs(driverS + union(rel) - wallS) / wallS
    val partial = stages.filter(_.shuffleWriteBytes > 0)
    val fin = stages.filter(s => s.shuffleReadBytes > 0 && s.shuffleWriteBytes == 0)
    val skew = partial.filter(_.taskMs.nonEmpty).map { s =>
      s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq))
    }.maxOption.getOrElse(1.0)
    OpsSample(
      wallS = wallS,
      partialStageS = partial.map(_.wallS).sum,
      partialCpuS = partial.map(_.cpuNanos).sum / 1e9,
      taskSkew = skew,
      finalMergeS = fin.map(_.wallS).sum,
      shuffleWriteBytes = stages.map(_.shuffleWriteBytes).sum.toDouble,
      driverS = driverS,
      jobs = jobs.length, stages = stages.length, tasks = stages.map(_.taskMs.length).sum,
      gcS = jvm.gcS, spillBytes = stages.map(_.spillBytes).sum.toDouble,
      heapPeakMb = jvm.heapPeakMb, reconcileErr = reconcileErr)
  }

  /** Median of each field over the traced operations. */
  def medians(xs: Seq[OpsSample]): Seq[(String, Double, String)] = {
    def m(f: OpsSample => Double) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
    Seq(
      ("ops.partial_stage_s", m(_.partialStageS), "s"),
      ("ops.partial_cpu_s", m(_.partialCpuS), "s"),
      ("ops.task_skew", m(_.taskSkew), "ratio"),
      ("ops.final_merge_s", m(_.finalMergeS), "s"),
      ("ops.shuffle_write_bytes", m(_.shuffleWriteBytes), "bytes"),
      ("ops.driver_s", m(_.driverS), "s"),
      ("ops.jobs", m(_.jobs), "count"),
      ("ops.stages", m(_.stages), "count"),
      ("ops.tasks", m(_.tasks), "count"),
      ("ops.gc_s", m(_.gcS), "s"),
      ("ops.spill_bytes", m(_.spillBytes), "bytes"),
      ("ops.heap_peak_mb", m(_.heapPeakMb), "MB"))
  }
}

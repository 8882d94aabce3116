package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.ShardOffsets

/** Streaming progress, which Spark builds on every trigger whether or
  * not anyone listens; the untraced runs read trigger times from it.
  */
final class ProgressLog extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val out = buf.toList; buf.clear(); out
  }
}

object ProgressLog {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  /** Triggers that read data (Spark also reports idle triggers). */
  def dataTriggers(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)
  /** Records the source had but the trigger did not take, over shards. */
  def lag(p: StreamingQueryProgress): Long = p.sources.headOption.map { s =>
    if (s.latestOffset == null || s.endOffset == null) 0L
    else {
      val latest = ShardOffsets.fromJson(s.latestOffset).positions
      val end = ShardOffsets.fromJson(s.endOffset).positions
      latest.map { case (k, v) => math.max(0L, v - end.getOrElse(k, 0L)) }.sum
    }
  }.getOrElse(0L)
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
}

/** One timed interval of the traced run, in epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

final case class StageRec(id: Int, jobId: Int, var start: Double = Double.NaN,
    var end: Double = Double.NaN, taskMs: ArrayBuffer[Double] = ArrayBuffer.empty,
    var cpuNs: Long = 0, var runMs: Long = 0, var gcMs: Long = 0,
    var inBytes: Long = 0, var inRecords: Long = 0,
    var shWrite: Long = 0, var shWriteNs: Long = 0, var shRead: Long = 0,
    var fetchWaitMs: Long = 0, var spill: Long = 0)

final case class JobRec(id: Int, start: Double, var end: Double = Double.NaN)

/** Listeners of the traced run: job, stage and task events, rdd block
  * updates, and the planning phases of every executed query. All are
  * kept in memory and read after the run.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  /** (phase, startMs, endMs) for analysis / optimization / planning. */
  val planPhases = ArrayBuffer.empty[(String, Double, Double)]
  /** Sizes of the rdd blocks stored (`localCheckpoint`, `persist`). */
  val blocks = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, StageRec(s, e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId, -1))
    e.stageInfo.submissionTime.foreach(t => st.start = t.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId, -1))
    e.stageInfo.submissionTime.foreach(t => if (st.start.isNaN) st.start = t.toDouble)
    e.stageInfo.completionTime.foreach(t => st.end = t.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId, -1))
    st.taskMs += e.taskInfo.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.inBytes += m.inputMetrics.bytesRead
      st.inRecords += m.inputMetrics.recordsRead
      st.shWrite += m.shuffleWriteMetrics.bytesWritten
      st.shWriteNs += m.shuffleWriteMetrics.writeTime
      st.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) synchronized {
      blocks += info.memSize + info.diskSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (name, ps) =>
        planPhases += ((name, ps.startTimeMs.toDouble, ps.endTimeMs.toDouble))
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attachContext(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)
  def attachSession(spark: SparkSession): Unit = spark.listenerManager.register(this)
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

/** The span tree of a traced run: each span has a name, a layer, a
  * start, an end and the span that contains it; id 0 is the workload.
  */
final class SpanTree(workload: String, wStart: Double, wEnd: Double) {
  val spans = ArrayBuffer.empty[Span]
  spans += Span(0, -1, workload, "bench", wStart, wEnd)

  def add(parent: Int, name: String, layer: String, start: Double, end: Double): Int = {
    val id = spans.length
    spans += Span(id, parent, name, layer, start, math.max(start, end))
    id
  }

  /** The deepest span containing [s, e], searching below `root`. */
  def deepest(root: Int, s: Double, e: Double): Int = {
    val kids = spans.filter(k => k.parent == root && k.start <= s && k.end >= e && k.dur > 0)
    kids.lastOption.map(k => deepest(k.id, s, e)).getOrElse(root)
  }

  /** Wall time by layer: every instant of the workload span goes to the
    * deepest spans active at that instant, split evenly when several
    * (concurrent stages, say) are; the layers therefore sum to the
    * workload's wall time.
    */
  def selfByLayer: Map[String, Double] = {
    val depth = new Array[Int](spans.length)
    spans.foreach(s => if (s.parent >= 0) depth(s.id) = depth(s.parent) + 1)
    val root = spans.head
    val inside = spans.filter(s => s.end > root.start && s.start < root.end)
    val cuts = inside.flatMap(s => Seq(math.max(s.start, root.start), math.min(s.end, root.end)))
      .distinct.sorted.toArray
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (i <- 0 until cuts.length - 1) {
      val (a, b) = (cuts(i), cuts(i + 1))
      val active = inside.filter(s => s.start <= a && s.end >= b)
      val d = active.map(s => depth(s.id)).max
      val leaves = active.filter(s => depth(s.id) == d)
      leaves.foreach(s => out(s.layer) += (b - a) / leaves.size)
    }
    out.toMap
  }

  def toJson: java.util.List[java.util.Map[String, Any]] =
    spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("layer", s.layer); m.put("start_ms", s.start); m.put("end_ms", s.end)
      m: java.util.Map[String, Any]
    }.asJava
}

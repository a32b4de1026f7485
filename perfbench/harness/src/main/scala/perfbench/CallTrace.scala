package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Layer counters of one tagged call. Times are milliseconds unless
  * the name says otherwise. */
final class Counters {
  var jobs, stages, tasks, usefulTasks, streamTasks = 0L
  var schedDelayMs, runMs, cpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, fetchWaitMs, spillBytes = 0L
  var inputBytes, outputBytes, filesWritten = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds covered by the union of this call's job intervals. */
  def jobUnionMs: Long = {
    var covered, end = 0L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** One micro-batch's progress, as a StreamingQueryListener saw it. */
final case class BatchProgress(durationMs: Map[String, Long], inputRows: Long)

/** Attributes Spark's scheduler, executor, shuffle, I/O and streaming
  * events to the benchmark call that caused them.
  *
  * Attribution goes by the local property [[CallTrace.TagKey]], which
  * the harness sets on its driver thread before each call. Spark copies
  * local properties into threads the driver thread creates, so the tag
  * also reaches jobs run from `StreamPar` worker threads and from a
  * streaming query's execution thread. The job group is set too, but it
  * cannot carry attribution: a streaming query overwrites the job group
  * on its own thread. */
final class CallTrace extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val streamStages = mutable.HashSet.empty[Int]
  private val jobStarts = mutable.HashMap.empty[Int, (String, Long)]
  private val executionTag = mutable.HashMap.empty[Long, String]
  private val fileMetricIds = mutable.HashSet.empty[Long]
  private val batches = mutable.ArrayBuffer.empty[BatchProgress]
  private var untagged = 0L

  private def counters(tag: String) = byTag.getOrElseUpdate(tag, new Counters)

  /** Feeds micro-batch progress into the same trace. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      // a progress report without addBatch ran no batch
      if (d.containsKey("addBatch")) CallTrace.this.synchronized {
        val ms = d.keySet.toArray(Array.empty[String]).map(k => k -> d.get(k).longValue).toMap
        batches += BatchProgress(ms, p.numInputRows)
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(CallTrace.TagKey))).getOrElse("")
    val inStream = props.exists(_.getProperty(CallTrace.BatchIdKey) != null)
    e.stageIds.foreach { s =>
      stageTag(s) = tag
      if (inStream) streamStages += s
    }
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => executionTag(id.toLong) = tag)
    counters(tag).jobs += 1
    jobStarts(e.jobId) = (tag, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (tag, start) =>
      counters(tag).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageId, "")
    if (tag.isEmpty) untagged += 1
    val c = counters(tag)
    c.tasks += 1
    if (streamStages(e.stageId)) c.streamTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      c.shuffleReadBytes += sr.remoteBytesRead + sr.localBytesRead
      c.shuffleWriteBytes += sw.bytesWritten
      c.fetchWaitMs += sr.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      if (m.inputMetrics.recordsRead > 0 || m.outputMetrics.recordsWritten > 0 ||
          sr.recordsRead > 0 || sw.recordsWritten > 0) c.usefulTasks += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => noteFileMetrics(s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveExecutionUpdate => noteFileMetrics(s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates => synchronized {
      val files = u.accumUpdates.collect { case (id, v) if fileMetricIds(id) => v }.sum
      if (files > 0) counters(executionTag.getOrElse(u.executionId, "")).filesWritten += files
    }
    case _ => ()
  }

  private def noteFileMetrics(plan: SparkPlanInfo): Unit = synchronized {
    def walk(p: SparkPlanInfo): Unit = {
      p.metrics.foreach(m => if (m.name == "number of written files") fileMetricIds += m.accumulatorId)
      p.children.foreach(walk)
    }
    walk(plan)
  }

  /** Counters recorded under `tag` so far. */
  def apply(tag: String): Counters = synchronized(byTag.getOrElse(tag, new Counters))

  /** Tasks whose job carried no call tag. */
  def untaggedTasks: Long = synchronized(untagged)

  /** Micro-batches reported since the last call, then forgotten. */
  def takeBatches(): Seq[BatchProgress] = synchronized {
    val out = batches.toList
    batches.clear()
    out
  }
}

object CallTrace {
  /** Local property naming the benchmark call a job belongs to. */
  val TagKey = "perfbench.call"
  /** Local property Spark sets on jobs of a streaming micro-batch. */
  val BatchIdKey = "streaming.sql.batchId"
}

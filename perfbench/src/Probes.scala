package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the traced run. `parent` is the id of the span
  * that was open when this one started (-1 at top level); `req` is the
  * request index it belongs to (-1 during set-up).
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, req: Int) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest by call order on the one client
  * thread; nothing is written until the run ends. When disabled, `span`
  * just runs the body.
  */
final class Tracer {
  var enabled = false
  var req = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, s, System.nanoTime(), parent, req)
      }
    }

  /** Self time per span name, in ms: each span's duration minus the
    * part of it its direct children cover. */
  def selfTimesMs: Seq[(String, Double, Int)] = {
    val childCover = new java.util.HashMap[Int, java.lang.Long]()
    spans.foreach { s =>
      if (s.parent >= 0)
        childCover.merge(s.parent, s.durNs, (a, b) => a + b)
    }
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map(s => s.durNs - Option(childCover.get(s.id)).map(_.longValue).getOrElse(0L)).sum
      (name, self / 1e6, ss.size)
    }.sortBy(-_._2)
  }
}

/** Scheduler counters for the traced run. Jobs carry the local property
  * `perfbench.phase` that was set when they were submitted: `build`
  * while the request's DataFrame is being built (eager collects, loop
  * rounds, cache fills) and `exec` during its final action. Only those
  * two phases are counted; set-up jobs are ignored.
  */
final class ExecListener extends SparkListener {
  // every callback is synchronized, so plain maps suffice
  private val stagePhase = scala.collection.mutable.Map.empty[Int, String]
  private val jobStages = scala.collection.mutable.Map.empty[Int, Seq[Int]]
  private val submitted = scala.collection.mutable.Set.empty[Int]

  // counters since the last reset; read after draining the bus
  var buildJobs = 0
  var execJobs = 0
  var execStages = 0
  var execStagesSkipped = 0
  var execTasks = 0
  var failedTasks = 0
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]

  def reset(): Unit = synchronized {
    buildJobs = 0; execJobs = 0; execStages = 0; execStagesSkipped = 0
    execTasks = 0; failedTasks = 0; schedDelayMs = 0L
    shuffleWriteBytes = 0L; shuffleReadBytes = 0L; spillBytes = 0L
    taskMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).map(_.getProperty("perfbench.phase")).orNull
    if (phase == "build") buildJobs += 1
    if (phase == "exec") {
      execJobs += 1
      jobStages(e.jobId) = e.stageIds
    }
    if (phase != null) e.stageIds.foreach(s => stagePhase(s) = phase)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    submitted += id
    if (stagePhase.get(id).contains("exec")) execStages += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { stages =>
      execStagesSkipped += stages.count(s => !submitted.contains(s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stagePhase.get(e.stageId).contains("exec")) {
      execTasks += 1
      val info = e.taskInfo
      if (info.failed || info.killed) failedTasks += 1
      taskMs += info.duration
      val m = e.taskMetrics
      if (m != null) {
        schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Micro-batch progress of every streaming query the traced run starts. */
final class StreamListener extends StreamingQueryListener {
  val batchMs = ArrayBuffer.empty[Long]
  val batchRows = ArrayBuffer.empty[Long]
  def reset(): Unit = synchronized { batchMs.clear(); batchRows.clear() }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    // idle trigger reports (no new data) are not batches
    if (p.numInputRows > 0 || p.batchDuration > 0) {
      batchMs += p.batchDuration
      batchRows += p.numInputRows
    }
  }
}

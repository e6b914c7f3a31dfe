package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** Task-level counters summed over the jobs of one span. */
final class Acc {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var maxTaskMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputRows = 0L; var inputBytes = 0L
  var outputRows = 0L; var outputBytes = 0L; var writeTaskMs = 0L

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_s" -> cpuNs / 1e9, "task_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "max_task_s" -> maxTaskMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_rows" -> inputRows, "input_bytes" -> inputBytes,
    "output_rows" -> outputRows, "output_bytes" -> outputBytes,
    "write_task_s" -> writeTaskMs / 1e3)
}

/** Listener that attributes every job, stage and task to the span the
  * client thread named in the `Tracer.SpanKey` local property when it
  * submitted the job. Local properties are inherited by the threads a
  * query starts (broadcasts, subqueries, stream executions), so their jobs
  * land in the span that started them. State is touched only by the
  * listener bus threads; read it after draining the bus. */
final class Tracer extends SparkListener {
  val spans = mutable.LinkedHashMap.empty[String, Acc]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val rddBlocks = mutable.Map.empty[RDDBlockId, Long]
  private var storedNow = 0L
  var storedPeak = 0L

  // streaming progress, summed over the stream runs of the pass
  var microbatches = 0L
  var triggerMs = 0L
  val lastStateRows = mutable.Map.empty[java.util.UUID, Long]

  /** Forgets the last pass. Stored bytes count only blocks written after
    * the reset, so blocks of earlier passes that the cleaner has not yet
    * dropped do not count. */
  def reset(): Unit = {
    spans.clear(); stageSpan.clear()
    rddBlocks.clear(); storedNow = 0; storedPeak = 0
    microbatches = 0; triggerMs = 0; lastStateRows.clear()
  }

  private def acc(span: String): Acc = spans.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse(Tracer.Unattributed)
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageSpan.getOrElse(e.stageInfo.stageId, Tracer.Unattributed)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageSpan.getOrElse(e.stageId, Tracer.Unattributed))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.maxTaskMs = a.maxTaskMs.max(m.executorRunTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      a.inputRows += m.inputMetrics.recordsRead
      a.inputBytes += m.inputMetrics.bytesRead
      val out = m.outputMetrics
      a.outputRows += out.recordsWritten
      a.outputBytes += out.bytesWritten
      if (out.recordsWritten > 0 || out.bytesWritten > 0) a.writeTaskMs += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = info.memSize + info.diskSize
        storedNow += size - rddBlocks.getOrElse(id, 0L)
        if (size == 0) rddBlocks.remove(id) else rddBlocks(id) = size
        storedPeak = storedPeak.max(storedNow)
      case _ =>
    }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      microbatches += 1
      triggerMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      lastStateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Unattributed = "-"
}

package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Task-metric totals from Spark's public listener API. */
final class TaskProbe extends SparkListener {
  private var jobs = 0L; private var stages = 0L; private var tasks = 0L
  private var runMs = 0L; private var cpuNs = 0L; private var gcMs = 0L
  private var shuffleRead = 0L; private var shuffleWrite = 0L; private var spill = 0L
  private var peakMem = 0L; private var input = 0L; private var output = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Map[String, Double] = synchronized {
    Map(
      "spark.executor_run_s" -> runMs / 1e3,
      "spark.executor_cpu_s" -> cpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.peak_exec_mem_bytes" -> peakMem.toDouble,
      "spark.input_bytes" -> input.toDouble,
      "spark.output_bytes" -> output.toDouble,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble)
  }
}

/** One `StreamingQueryProgress`, reduced to what the benchmark reads. */
final case class Progress(runId: String, batchId: Long, startMs: Double,
                          durations: Map[String, Long],
                          rows: Long, startOffset: String, endOffset: String) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

/** Progress events of streaming queries. */
final class StreamProbe extends StreamingQueryListener {
  val events = mutable.ArrayBuffer[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val src = p.sources.headOption
      events += Progress(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        src.map(_.startOffset).orNull, src.map(_.endOffset).orNull)
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[Progress] = synchronized(events.toSeq)
}

object Probes {
  /** Wait until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbenchbus.Bus.drain(spark.sparkContext)
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/**
 * Per-layer counters for the traced run, read from Spark's public
 * surfaces only: a SparkListener (jobs, tasks, task CPU, bytes and
 * records written, task durations), a StreamingQueryListener (each
 * micro-batch's `durationMs` phases and input rows) and the codegen
 * metric source. Attached only when tracing; the untraced run adds no
 * listener of its own.
 */
final class LayerProbe(spark: SparkSession) {
  import LayerProbe.Snap

  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val bytesWritten = new AtomicLong
  private val recordsWritten = new AtomicLong
  private val progressQ = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val taskDurQ = new ConcurrentLinkedQueue[java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      }
      taskDurQ.add(e.taskInfo.duration)
    }
  }
  private val queryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progressQ.add(e.progress): Unit
  }
  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(queryListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  private def compileTimer = CodegenMetrics.METRIC_COMPILATION_TIME

  def snap(): Snap = Snap(jobs.get, tasks.get, cpuNs.get, bytesWritten.get,
    recordsWritten.get, compileTimer.getCount, Jvm.gcMillis, progressQ.size,
    taskDurQ.size)

  /** Progress events of data batches reported since `from`. */
  def progressSince(from: Snap): Seq[StreamingQueryProgress] =
    progressQ.asScala.toSeq.drop(from.progress).filter(_.numInputRows > 0)

  def taskDurationsSince(from: Snap): Seq[Double] =
    taskDurQ.asScala.toSeq.drop(from.taskDur).map(_.doubleValue)

  /** Mean compile time of the codegen reservoir, ms. */
  def compileMeanMs: Double = compileTimer.getSnapshot.getMean

  def droppedEvents: Long =
    org.apache.spark.perfbench.ListenerBusProbe.droppedEvents(spark.sparkContext)

  /** Let the listener bus deliver what is queued before reading. */
  def drain(): Unit = Thread.sleep(300)
}

object LayerProbe {
  final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, bytesWritten: Long,
      recordsWritten: Long, compiles: Long, gcMs: Long, progress: Int, taskDur: Int)

  /** Phase duration of one progress report, ms (0 when absent). */
  def phase(p: StreamingQueryProgress, name: String): Double =
    Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)
}

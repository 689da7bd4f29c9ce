package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.model.PipelineSpec
import graft.streaming.PipelineManager

/** Latencies of the inputs due in one measurement window: (ms, rows,
  * engine batch) per input file, plus the rows acked by the window's
  * batches after its first and the seconds between their commits. */
final case class SteadyWindow(latencies: Seq[(Double, Long, Long)], ackedRows: Long,
    unackedRows: Long, seconds: Double) {
  def p(q: Double): Double = Stats.quantile(latencies.map(l => (l._1, l._2)), q)
  def eventsPerS: Double = ackedRows / seconds
  def rowsPerBatch: Double = Stats.mean(latencies.groupBy(_._3).values.map(_.map(_._2).sum.toDouble).toSeq)
  /** Distinct batches holding inputs slower than the q-quantile. */
  def batchesBeyond(q: Double): Int = {
    val cut = p(q)
    latencies.filter(_._1 > cut).map(_._3).distinct.size
  }
}

final case class Recovery(recoveryS: Double, restartMs: Double, firstEpochMs: Double)

/**
 * One Brooklin datastream under open-loop load: a `parquet`-connector
 * spec fed by an [[OpenLoopFeed]], run by a [[PipelineManager]] with a
 * ProcessingTime(0) trigger, watched through its checkpoint by an
 * [[AckLog]]. Shared by the three data-plane workloads.
 */
final class DataPlane(spark: SparkSession, root: String, spec: PipelineSpec,
    transform: DataFrame => DataFrame, val feed: OpenLoopFeed, var pm: PipelineManager) {
  val ack = new AckLog(s"$root/${spec.name}")
  private val trigger = Trigger.ProcessingTime(0L)

  /** Start the pipeline; with `feeding`, start the feed's schedule too. */
  def start(feeding: Boolean = true): Unit = {
    pm.start(spec.name, transform, trigger)
    if (feeding) feed.start()
  }

  /** Warm up for at least `minMs`, then until no more than
    * `backlogFiles` feed files wait for admission (at most 15 s more). */
  def warmUp(minMs: Long, backlogFiles: Int): Unit = {
    Thread.sleep(minMs)
    val end = System.currentTimeMillis() + 15000L
    def backlog = { ack.refresh(); feed.written.count(f => ack.batchOf(f.name).isEmpty) }
    while (backlog > backlogFiles && System.currentTimeMillis() < end) Thread.sleep(50)
  }

  /** Measure for `seconds`, then wait for the window's inputs to be acked. */
  def window(seconds: Int): SteadyWindow = {
    val w0 = Clock.micros()
    Thread.sleep(seconds * 1000L)
    val w1 = Clock.micros()
    val files = feed.written.filter(f => f.dueMicros >= w0 && f.dueMicros < w1)
    ack.awaitAcked(files.map(_.name), 30000L)
    val lat = files.flatMap(f => ack.ackMicros(f.name)
      .map(a => ((a - f.dueMicros) / 1000.0, f.rows.toLong, ack.batchOf(f.name).get)))
    val (acked, ackSpan) =
      ack.ackedRate(ack.commits.toSeq.filter { case (_, t) => t >= w0 && t < w1 }, feed.written)
    val unacked = files.filter(f => ack.ackMicros(f.name).isEmpty).map(_.rows.toLong).sum
    val sw = SteadyWindow(lat, acked, unacked, ackSpan)
    System.err.println(f"window: ${lat.map(_._3).distinct.size} batches, " +
      f"${lat.map(_._2).sum} rows, p50 ${sw.p(0.5)}%.0f ms, p90 ${sw.p(0.9)}%.0f ms, " +
      f"acked ${sw.eventsPerS}%.0f/s, unacked $unacked")
    sw
  }

  /** Crash the manager: stop its query wherever the epoch is, then end
    * its session so its lock is orphaned. */
  private def crash(): Unit = {
    pm.queryOf(spec.name).foreach(_.stop())
    pm.close()
  }

  /** Restart the spec in a fresh manager on the same root; returns
    * (restart instant, instant start() returned, first post-restart
    * batch and its ack instant). */
  private def restart(): (Long, Long, Long, Long) = {
    val t0 = Clock.micros()
    pm = new PipelineManager(spark, root)
    pm.start(spec.name, transform, trigger)
    val started = Clock.micros()
    val deadline = System.currentTimeMillis() + 60000L
    def first = ack.firstCommitAfter(t0)
    while (first.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
    val (b1, t1) = first.getOrElse(sys.error("no ack within 60 s of a restart"))
    (t0, started, b1, t1)
  }

  /**
   * `cycles` crash/restart cycles while the feed keeps writing: each
   * crash is followed by `downtimeMs` without a manager, then a fresh
   * manager restarts the spec from the same checkpoint root; recovery
   * runs to the first post-restart ack and the next crash follows it.
   * Each figure is the median over the cycles.
   */
  def crashAndRecover(cycles: Int, downtimeMs: Long): Recovery = {
    val restarts = (1 to cycles).map { _ =>
      crash()
      Thread.sleep(downtimeMs)
      restart()
    }
    System.err.println(f"recovery: ${restarts.map(r => (r._4 - r._1) / 1e6).mkString(", ")} s")
    Recovery(Stats.median(restarts.map(r => (r._4 - r._1) / 1e6)),
      Stats.median(restarts.map(r => (r._2 - r._1) / 1000.0)),
      Stats.median(restarts.map(r => (r._4 - r._2) / 1000.0)))
  }

  /** Stop the feed, wait until every input is acked, stop the pipeline. */
  def finish(): Boolean = {
    feed.stop()
    val ok = ack.awaitAcked(feed.written.map(_.name), 60000L)
    pm.stop(spec.name)
    pm.close()
    ok
  }
}

object DataPlane {
  /** Per-layer numbers of the micro-batches reported since `from`. */
  def streamLayers(probe: LayerProbe, from: LayerProbe.Snap, w: SteadyWindow): Map[String, Double] = {
    val events = w.latencies.map(_._2).sum
    val to = probe.snap()
    val ps = probe.progressSince(from)
    val n = math.max(1, ps.size).toDouble
    def mean(ph: String) = Stats.mean(ps.map(LayerProbe.phase(_, ph)))
    val compiles = (to.compiles - from.compiles).toDouble
    Map(
      "sources.latest_offset_ms" -> mean("latestOffset"),
      "sources.get_batch_ms" -> mean("getBatch"),
      "sources.rows_per_epoch" -> w.rowsPerBatch,
      "streaming.trigger_ms" -> mean("triggerExecution"),
      "streaming.trigger_p90_ms" ->
        (if (ps.isEmpty) 0.0 else Stats.quantile(ps.map(LayerProbe.phase(_, "triggerExecution")), 0.9)),
      "streaming.wal_commit_ms" -> mean("walCommit"),
      "streaming.commit_offsets_ms" -> mean("commitOffsets"),
      "streaming.add_batch_ms" -> mean("addBatch"),
      "streaming.query_planning_ms" -> mean("queryPlanning"),
      "streaming.jobs_per_epoch" -> (to.jobs - from.jobs) / n,
      "streaming.tasks_per_epoch" -> (to.tasks - from.tasks) / n,
      "streaming.codegen_compiles_per_epoch" -> compiles / n,
      "streaming.codegen_ms_per_epoch" -> compiles * probe.compileMeanMs / n,
      "streaming.task_cpu_ms_per_1k_events" ->
        (to.cpuNs - from.cpuNs) / 1e6 / math.max(1L, events) * 1000.0,
      "streaming.bytes_written_per_event" ->
        (to.bytesWritten - from.bytesWritten).toDouble / math.max(1L, events),
      "jvm.gc_ms" -> (to.gcMs - from.gcMs).toDouble)
  }
}

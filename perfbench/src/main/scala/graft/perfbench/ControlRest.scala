package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.PipelineSpec
import graft.rest.{ManagementClient, ManagementServer}
import graft.streaming.PipelineManager

/**
 * control_rest: the management plane. A ManagementServer fronts a
 * manager holding `Specs` created-but-not-started specs (durable spec
 * records only). Closed-loop ManagementClient threads issue a seeded
 * mix of reads (get, list page, health) and durable writes (create,
 * update, delete) while a benchmark thread runs the manager's
 * heartbeat tick on a fixed cadence. Then the server and manager
 * restart over the same root, 80 times (the first 40 unmeasured).
 *
 * The tick never overlaps a durable write: writes share a lock that
 * the tick takes exclusively. PipelineManager does not order them
 * itself, and a reconcileSpecs tick that reads a spec file just before
 * an update or delete puts the older spec back into memory, so a GET
 * right after the write can serve the stale spec. Reads still run
 * beside the tick.
 */
object ControlRest extends Workload {
  /** The smaller of ControlPlaneScaleProbe's default fleet sizes. */
  val Specs = 100
  /** Assumed tick cadence. The manager's own timer ticks every lease/4
    * and nothing fixes a lease; this is lease/4 at a 1 s lease. */
  val TickMs = 250L
  /** Assumed operation mix in percent, mostly reads; no source fixes
    * one. Each run scales every weight by a seeded factor in
    * [0.75, 1.25]. A replace deletes a spec and creates a new one in
    * its place, so the fleet the restarts load holds `Specs` specs
    * whatever the mix and however many requests the window completes. */
  val BaseMix = Seq("get" -> 40, "list" -> 20, "health" -> 10, "update" -> 15,
    "replace" -> 15)
  val PageSize = 20
  val Restarts = 40
  val WarmRestarts = 40
  val RestartGapMs = 100L

  /** Per-layer metrics of layers this workload does not load: the
    * whole data plane. */
  val Bypassed: Map[String, Double] = Seq(
    "sources.latest_offset_ms", "sources.get_batch_ms", "sources.rows_per_epoch",
    "sources.snapshot_s", "sources.snapshot_task_skew",
    "streaming.trigger_ms", "streaming.trigger_p90_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.jobs_per_epoch", "streaming.tasks_per_epoch",
    "streaming.codegen_compiles_per_epoch", "streaming.codegen_ms_per_epoch",
    "streaming.task_cpu_ms_per_1k_events", "streaming.bytes_written_per_event",
    "streaming.cdc_rows_rewritten_per_change", "streaming.cdc_state_rows",
    "streaming.index_epoch_ms", "streaming.index_query_planning_ms",
    "streaming.index_jobs_per_epoch", "streaming.index_codegen_compiles_per_epoch",
    "streaming.index_append_ms", "streaming.serve_ms", "streaming.store_files",
    "streaming.restart_ms", "streaming.first_epoch_ms",
    "streaming.catchup_eps_local1", "streaming.catchup_eps_localN").map(_ -> 0.0).toMap

  final case class Fixture(pm: PipelineManager, server: ManagementServer, root: String,
      dir: String)

  def spec(dir: String, name: String, label: String): PipelineSpec =
    PipelineSpec(name, "parquet", "memory", s"$dir/src/$name",
      metadata = Map("label" -> label))

  def build(spark: SparkSession, dir: String): Fixture = {
    val pm = new PipelineManager(spark, s"$dir/root", instance = "cp-a")
    (0 until Specs).foreach(i => pm.create(spec(dir, f"cp$i%04d", "v0")))
    Fixture(pm, new ManagementServer(pm).start(), s"$dir/root", dir)
  }

  private def teardown(f: Fixture): Unit = { f.server.stop(); f.pm.close() }

  /** The run's operation mix as (operation, cumulative share). */
  def mix(seed: Long): Seq[(String, Double)] = {
    val r = new java.util.Random(seed)
    val w = BaseMix.map { case (op, pct) => op -> pct * (0.75 + 0.5 * r.nextDouble()) }
    val total = w.map(_._2).sum
    w.map(_._1).zip(w.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / total))
  }

  /** One closed-loop client's view of the specs it owns. Its durable
    * writes hold `gate`'s shared side. */
  final class Client(t: Int, clients: Int, seed: Long, fx: Fixture, port: Int,
      gate: ReentrantReadWriteLock) {
    val api = new ManagementClient(s"http://localhost:$port", timeout = java.time.Duration.ofSeconds(20))
    val rnd = new java.util.Random(seed * 7919L + t)
    private val ops = mix(seed)
    var owned: Vector[String] = (0 until Specs).filter(_ % clients == t).map(i => f"cp$i%04d").toVector
    var created = 0
    var updates = 0
    val latencies = new ConcurrentLinkedQueue[(String, Double)]()
    val attempted = new AtomicLong
    val failed = new AtomicLong

    private def timed[T](op: String)(body: => T): Option[T] = {
      attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val r = body
        latencies.add(op -> (System.nanoTime() - t0) / 1e6)
        Some(r)
      } catch {
        case e: Exception =>
          failed.incrementAndGet()
          System.err.println(s"control_rest $op failed: $e")
          None
      }
    }
    private def write[T](body: => T): T = {
      gate.readLock.lock()
      try body finally gate.readLock.unlock()
    }
    private def expect(ok: Boolean, what: String): Unit = if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"control_rest check failed: $what")
    }

    def step(): Unit = {
      val u = rnd.nextDouble()
      val name = owned(rnd.nextInt(owned.size))
      ops.find(u < _._2).fold(ops.last._1)(_._1) match {
        case "get" => timed("get")(api.get(name)).foreach(r => expect(r.isDefined, s"get $name"))
        case "list" =>
          val start = rnd.nextInt(Specs / 2)
          timed("list")(api.list(start, PageSize))
            .foreach(r => expect(r.nonEmpty && r.size <= PageSize, s"list page at $start"))
        case "health" => timed("health")(api.health()): Unit
        case "update" =>
          updates += 1
          val label = s"t$t-u$updates"
          timed("update")(write(api.update(spec(fx.dir, name, label)))).foreach { _ =>
            timed("get")(api.get(name)).foreach(r =>
              expect(r.exists(_.metadata.get("label").contains(label)), s"get after put $name"))
          }
        case _ =>
          timed("delete")(write(api.delete(name))).foreach { _ =>
            timed("get")(api.get(name)).foreach(r => expect(r.isEmpty, s"get after delete $name"))
            created += 1
            val n = s"c$t-$created"
            timed("create")(write(api.create(spec(fx.dir, n, "v0"))))
              .foreach(_ => owned = owned.updated(owned.indexOf(name), n))
          }
      }
    }
  }

  final case class Window(lat: Seq[(String, Double)], ops: Long, seconds: Double,
      ticks: Seq[Double], tickLate: Seq[Double]) {
    def all: Seq[Double] = lat.map(_._2)
    def p(q: Double): Double = Stats.quantile(all, q)
    def opP50(op: String): Double = {
      val xs = lat.filter(_._1 == op).map(_._2)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
  }

  /** Run the clients closed-loop and the tick thread for `seconds`.
    * Each tick holds `gate` exclusively. */
  def window(clients: Seq[Client], pm: PipelineManager, gate: ReentrantReadWriteLock,
      seconds: Int): Window = {
    clients.foreach(_.latencies.clear())
    val ticks = new ConcurrentLinkedQueue[java.lang.Double]()
    val late = new ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var running = true
    val ticker = new Thread(() => {
      val t0 = System.nanoTime()
      var k = 1L
      while (running) {
        val due = t0 + k * TickMs * 1000000L
        Clock.sleepUntilNanos(due)
        if (running) {
          late.add((System.nanoTime() - due) / 1e6)
          gate.writeLock.lock()
          try {
            val s = System.nanoTime()
            pm.heartbeat()
            pm.reconcileSpecs()
            pm.consumeReassignRequests()
            pm.consumeLifecycleRequests()
            ticks.add((System.nanoTime() - s) / 1e6)
          } finally gate.writeLock.unlock()
          k += 1
        }
      }
    }, "perfbench-tick")
    val w0 = System.nanoTime()
    val end = w0 + seconds * 1000000000L
    val threads = clients.map { c =>
      new Thread(() => while (System.nanoTime() < end) c.step(), "perfbench-client")
    }
    ticker.start()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val secs = (System.nanoTime() - w0) / 1e9
    running = false
    ticker.join()
    val lat = clients.flatMap(_.latencies.asScala)
    Window(lat, lat.size.toLong, secs, ticks.asScala.toSeq.map(_.doubleValue),
      late.asScala.toSeq.map(_.doubleValue))
  }

  def run(ctx: Ctx): Outcome = {
    val (spark, fx0, setupS) = ctx.setupRepeated(build)(teardown)
    var fx = fx0
    val nClients = 4
    val gate = new ReentrantReadWriteLock(true)
    val clients = (0 until nClients).map(t =>
      new Client(t, nClients, ctx.seed, fx, fx.server.boundPort, gate))
    window(clients, fx.pm, gate, 1) // warm-up: JIT, HTTP connections
    val untraced = if (ctx.trace) Some(window(clients, fx.pm, gate, ctx.seconds)) else None
    ctx.heap.reset()
    val gc0 = Jvm.gcMillis
    val w = window(clients, fx.pm, gate, ctx.seconds)
    val gcMs = (Jvm.gcMillis - gc0).toDouble

    val expected = Specs
    val listed = clients.head.api.list().size
    var attempted = clients.map(_.attempted.get).sum + 1
    var failed = clients.map(_.failed.get).sum + (if (listed == expected) 0 else 1)
    if (listed != expected) System.err.println(s"control_rest: listed $listed, expected $expected")

    // direct in-process calls for the same read ops: REST's own cost
    val names = clients.flatMap(_.owned)
    def directP50(f: Int => Unit): Double =
      Stats.median((0 until 500).map { i =>
        val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e6
      })
    val directGet = directP50(i => fx.pm.get(names(i % names.size)): Unit)
    val directList = directP50(i => fx.pm.list(i % Specs, PageSize): Unit)

    // restarts: each a fresh manager and server over the same durable
    // root. The first WarmRestarts run back to back and only warm the
    // JIT: the restart path keeps getting faster for a few dozen
    // restarts. The measured ones are spaced out so one host stall
    // cannot slow them all.
    val restarts = (1 to WarmRestarts + Restarts).map { i =>
      teardown(fx)
      if (i > WarmRestarts) Thread.sleep(RestartGapMs)
      val t0 = System.nanoTime()
      val pm2 = new PipelineManager(spark, fx.root, instance = s"cp-r$i")
      val loadS = (System.nanoTime() - t0) / 1e9
      fx = fx.copy(pm = pm2, server = new ManagementServer(pm2).start())
      val api2 = new ManagementClient(s"http://localhost:${fx.server.boundPort}")
      val first = api2.get(names(i % names.size))
      val recoveryS = (System.nanoTime() - t0) / 1e9
      val relisted = api2.list().size
      attempted += 2
      failed += (if (first.isDefined) 0 else 1) + (if (relisted == expected) 0 else 1)
      (loadS, recoveryS)
    }.drop(WarmRestarts)
    teardown(fx)
    System.err.println(f"restarts: load ${restarts.map(_._1 * 1000).map(v => f"$v%.0f").mkString(" ")} ms, " +
      f"first 2xx ${restarts.map(_._2 * 1000).map(v => f"$v%.0f").mkString(" ")} ms")

    val layers = if (!ctx.trace) Map.empty[String, Double] else Bypassed ++ Map(
      "rest.get_ms" -> w.opP50("get"),
      "rest.list_ms" -> w.opP50("list"),
      "rest.create_ms" -> w.opP50("create"),
      "rest.update_ms" -> w.opP50("update"),
      "rest.delete_ms" -> w.opP50("delete"),
      "rest.self_ms" -> ((w.opP50("get") - directGet) + (w.opP50("list") - directList)) / 2,
      "streaming.reconcile_tick_ms" -> Stats.mean(w.ticks),
      "streaming.reconcile_tick_p99_ms" -> Stats.quantile(w.ticks, 0.99),
      "jvm.gc_ms" -> gcMs,
      "jvm.heap_peak_mb" -> ctx.heap.peakMb,
      "gen.late_ms_p99" -> Stats.quantile(w.tickLate, 0.99),
      "gen.p90_support" -> w.all.count(_ > w.p(0.9)).toDouble,
      "trace.overhead_ratio" -> w.p(0.5) / untraced.get.p(0.5),
      "trace.listener_dropped" ->
        org.apache.spark.perfbench.ListenerBusProbe.droppedEvents(spark.sparkContext).toDouble,
      "check.error_ratio" -> failed.toDouble / attempted)
    Outcome(attempted, failed, layers ++ Map(
      "setup_s" -> setupS,
      "events_per_s" -> w.ops / w.seconds,
      "latency_p50_ms" -> w.p(0.5),
      "latency_p90_ms" -> w.p(0.9),
      "recovery_s" -> Stats.median(restarts.map(_._2)),
      "heap_retained_mb" -> Jvm.retainedHeapMb()))
  }
}

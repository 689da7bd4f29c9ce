package graft.perfbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.PipelineSpec
import graft.sources.ChunkedJdbc
import graft.streaming.{CdcMerge, PipelineManager}

/**
 * cdc_bootstrap: a change-capture datastream. Phase 1 bootstraps the
 * `cdc` transport's bucketed state from a chunked JDBC snapshot of a
 * seeded embedded-Derby table; phase 2 streams INSERT/UPDATE/DELETE
 * changes (scn-ordered, Zipf-hot keys) open-loop through a
 * `parquet`-connector spec into the `cdc` transport, which merges them
 * with CdcMerge. Merge work grows with state size, not epoch count.
 * The final state must equal the benchmark's own fold of snapshot +
 * change log.
 */
object CdcBootstrap extends Workload {
  val Rows = 10000
  val PeriodMs = 200L
  val ChangesPerFile = 50
  val MaxFiles = 20
  val Buckets = 16
  val WarmupMs = 3000L
  val DowntimeMs = 500L
  val Crashes = 3
  val Name = "cdc"
  private val BaseMillis = 1700000000000L

  /** Per-layer metrics of layers this workload does not load. */
  val Bypassed: Map[String, Double] = Seq(
    "streaming.index_epoch_ms", "streaming.index_query_planning_ms",
    "streaming.index_jobs_per_epoch", "streaming.index_codegen_compiles_per_epoch",
    "streaming.index_append_ms", "streaming.serve_ms", "streaming.store_files",
    "streaming.reconcile_tick_ms", "streaming.reconcile_tick_p99_ms",
    "streaming.catchup_eps_local1", "streaming.catchup_eps_localN",
    "rest.get_ms", "rest.list_ms", "rest.create_ms", "rest.update_ms", "rest.delete_ms",
    "rest.self_ms").map(_ -> 0.0).toMap

  private val schema = MessageTypeParser.parseMessageType(
    """message change {
      |  required int64 id;
      |  optional binary name (STRING);
      |  optional binary amount (STRING);
      |  optional int64 updated;
      |  required int64 scn;
      |  required binary opcode (STRING);
      |  required int64 ts;
      |}""".stripMargin)

  /** Row image of key `id` at version `v` (0 = the snapshot). */
  def image(id: Long, v: Long): (String, String, Long) =
    (s"n$id-v$v", java.math.BigDecimal.valueOf((id * 37 + v) % 100000, 2).toPlainString,
      BaseMillis + id * 1000 + v)

  final case class Fixture(feed: OpenLoopFeed, pm: PipelineManager, url: String,
      dir: String, log: mutable.Map[Long, Option[(String, String, Long)]])

  def spec(dir: String): PipelineSpec =
    PipelineSpec(Name, "parquet", "cdc", s"$dir/changes", destinationConnection = s"$dir/state",
      metadata = Map("maxFilesPerTrigger" -> MaxFiles.toString, "cdcKeyCols" -> "id",
        "cdcScnCol" -> "scn", "cdcOpcodeCol" -> "opcode", "cdcBuckets" -> Buckets.toString))

  val transform: DataFrame => DataFrame = _.drop("ts")

  /** Change feed: the seed sets the hot-key skew and the opcode mix.
    * The benchmark's own fold of every change lands in `fold`. */
  def newFeed(seed: Long, dir: String,
      fold: mutable.Map[Long, Option[(String, String, Long)]]): OpenLoopFeed = {
    val rnd = new java.util.Random(seed)
    val zipf = new Zipf(Rows, 0.8 + 0.5 * rnd.nextDouble())
    val insertPct = 15 + rnd.nextInt(6)
    val deletePct = 8 + rnd.nextInt(5)
    var nextId = Rows.toLong
    new OpenLoopFeed(Fs.mkdirs(s"$dir/changes"), PeriodMs, schema, (f, emit) => {
      val r = new java.util.Random(seed * 1000003L + f.tick)
      (0 until f.rows).foreach { i =>
        val scn = f.firstSeq + i + 1
        val p = r.nextInt(100)
        val g = new SimpleGroup(schema)
        val (id, op) =
          if (p < insertPct) { nextId += 1; (nextId - 1, "INSERT") }
          else (zipf.sample(r).toLong, if (p < insertPct + deletePct) "DELETE" else "UPDATE")
        g.add("id", id)
        if (op == "DELETE") fold.synchronized(fold.put(id, None))
        else {
          val (n, a, u) = image(id, scn)
          g.add("name", n); g.add("amount", a); g.add("updated", u)
          fold.synchronized(fold.put(id, Some((n, a, u))))
        }
        g.add("scn", scn)
        g.add("opcode", op)
        g.add("ts", f.dueMicros)
        emit(g)
      }
    }, _ => ChangesPerFile)
  }

  def build(seed: Long)(spark: SparkSession, dir: String): Fixture = {
    val url = s"jdbc:derby:$dir/derby;create=true"
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().execute("CREATE TABLE SRC (ID BIGINT PRIMARY KEY, " +
        "NAME VARCHAR(40), AMOUNT DECIMAL(12,2), UPDATED TIMESTAMP)")
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO SRC VALUES (?, ?, ?, ?)")
      (0L until Rows).foreach { id =>
        val (n, a, u) = image(id, 0L)
        ps.setLong(1, id); ps.setString(2, n)
        ps.setBigDecimal(3, new java.math.BigDecimal(a))
        ps.setTimestamp(4, new java.sql.Timestamp(u))
        ps.addBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally c.close()
    val fold = mutable.Map.empty[Long, Option[(String, String, Long)]]
    (0L until Rows).foreach(id => fold.put(id, Some(image(id, 0L))))
    val feed = newFeed(seed, dir, fold)
    feed.writeNow(1) // the source infers its schema from a first file
    val pm = new PipelineManager(spark, s"$dir/root")
    pm.create(spec(dir))
    Fixture(feed, pm, url.stripSuffix(";create=true"), dir, fold)
  }

  private def teardown(f: Fixture): Unit = {
    f.pm.close()
    try DriverManager.getConnection(s"${f.url};shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports shutdown as an exception
  }

  /** Chunked JDBC snapshot into the cdc state; returns seconds. */
  def bootstrap(ctx: Ctx, spark: SparkSession, fx: Fixture): Double = {
    val t0 = System.nanoTime()
    val snap = ChunkedJdbc.bootstrapProjection(
      ChunkedJdbc.readNumeric(spark, fx.url, "SRC", "ID", ctx.cores))
    val rows = snap.select(col("ID").as("id"), col("NAME").as("name"),
      col("AMOUNT").as("amount"), col("UPDATED").as("updated"),
      lit(0L).as("scn"), lit("INSERT").as("opcode"))
    CdcMerge.applyBatch(spark, rows, s"${fx.dir}/state", Seq("id"), "scn", "opcode", Buckets)
    (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx): Outcome = {
    val (spark, fx, setupS) = ctx.setupRepeated(build(ctx.seed))(teardown)
    // the snapshot's task durations come from a probe of its own, removed
    // again before the pipeline starts, so the untraced window runs
    // without any listener of the harness
    val snapProbe = if (ctx.trace) Some(new LayerProbe(spark)) else None
    val sb = snapProbe.map(_.snap())
    val snapshotS = bootstrap(ctx, spark, fx)
    val snapLayers = snapProbe.map { p =>
      p.drain()
      val tasks = p.taskDurationsSince(sb.get)
      p.close()
      Map("sources.snapshot_s" -> snapshotS,
        "sources.snapshot_task_skew" ->
          (if (tasks.isEmpty) 0.0 else tasks.max / math.max(1.0, Stats.median(tasks))))
    }.getOrElse(Map.empty)

    val dp = new DataPlane(spark, s"${fx.dir}/root", spec(fx.dir), transform, fx.feed, fx.pm)
    dp.start()
    dp.warmUp(WarmupMs, 10)
    val untraced = if (ctx.trace) Some(dp.window(ctx.seconds)) else None
    val probe = if (ctx.trace) Some(new LayerProbe(spark)) else None
    ctx.heap.reset()
    val s0 = probe.map(_.snap())
    val w = dp.window(ctx.seconds)
    val changes = w.latencies.map(_._2).sum
    val steady = probe.map { p =>
      val written = p.snap().recordsWritten - s0.get.recordsWritten
      DataPlane.streamLayers(p, s0.get, w) +
        ("streaming.cdc_rows_rewritten_per_change" -> written.toDouble / math.max(1L, changes))
    }.getOrElse(Map.empty)
    Thread.sleep(new java.util.Random(ctx.seed).nextInt(300).toLong) // crash point within an epoch
    val rec = dp.crashAndRecover(Crashes, DowntimeMs)
    val drained = dp.finish()

    val (stateRows, wrong) = check(spark, fx)
    val attempted = Rows + fx.feed.rowsWritten
    val failed = wrong + w.unackedRows + (if (drained) 0 else 1)
    val layers = probe.map { p =>
      val dropped = p.droppedEvents.toDouble
      p.close()
      steady ++ snapLayers ++ Bypassed ++ Map(
        "streaming.cdc_state_rows" -> stateRows.toDouble,
        "streaming.restart_ms" -> rec.restartMs,
        "streaming.first_epoch_ms" -> rec.firstEpochMs,
        "jvm.heap_peak_mb" -> ctx.heap.peakMb,
        "gen.late_ms_p99" -> Stats.quantile(fx.feed.lateMs, 0.99),
        "gen.p90_support" -> w.batchesBeyond(0.9).toDouble,
        "trace.overhead_ratio" -> w.p(0.5) / untraced.get.p(0.5),
        "trace.listener_dropped" -> dropped,
        "check.error_ratio" -> failed.toDouble / attempted)
    }.getOrElse(Map.empty)
    teardown(fx)
    Outcome(attempted, failed, layers ++ Map(
      "setup_s" -> setupS,
      "events_per_s" -> w.eventsPerS,
      "latency_p50_ms" -> w.p(0.5),
      "latency_p90_ms" -> w.p(0.9),
      "recovery_s" -> rec.recoveryS,
      "heap_retained_mb" -> Jvm.retainedHeapMb()))
  }

  /** The merged state against the fold: latest image per key by scn,
    * deleted keys absent. Returns (state rows, keys wrong). */
  def check(spark: SparkSession, fx: Fixture): (Long, Long) = {
    val state = CdcMerge.currentState(spark, s"${fx.dir}/state")
      .getOrElse(sys.error("no cdc state"))
      .select(col("id"), col("name"), col("amount"), col("updated")).collect()
    val expected = fx.log.collect { case (id, Some(img)) => id -> img }.toMap
    val got = state.map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
    val gotMap = got.toMap
    val dupKeys = got.length - gotMap.size
    val wrongKeys = (expected.keySet ++ gotMap.keySet).count(k => expected.get(k) != gotMap.get(k))
    if (dupKeys + wrongKeys > 0)
      System.err.println(s"cdc_bootstrap check: state=${got.length} expected=${expected.size} " +
        s"duplicateKeys=$dupKeys wrongKeys=$wrongKeys")
    (got.length.toLong, (dupKeys + wrongKeys).toLong)
  }
}

package graft.perfbench

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.model.PipelineSpec
import graft.operators.{Partitioning, Translate}
import graft.streaming.PipelineManager

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s)).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }
  def sample(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    if (i >= 0) i else math.min(n - 1, -i - 1)
  }
}

/**
 * mirror_stream: the headline Brooklin datastream. Kafka-shaped
 * records (topic, partition, offset, key, value, ts) arrive open-loop
 * as parquet files; a `parquet`-connector spec runs them through
 * Translate.mirror + Partitioning.byKey into the exactly-once `parquet`
 * transport. After the steady window the manager crashes, a fresh one
 * restarts from the checkpoint and drains the backlog in
 * admission-bounded epochs. Outputs are checked exactly once across
 * the crash.
 */
object MirrorStream extends Workload {
  val RatePerS = 20000
  val PeriodMs = 100L
  val MaxFiles = 10
  val DestPartitions = 16
  val Keys = 10000
  val ValueBytes = 200
  val WarmupMs = 3000L
  val DowntimeMs = 500L
  val Crashes = 7
  val Name = "mirror"

  /** Per-layer metrics of layers this workload does not load. */
  val Bypassed: Map[String, Double] = Seq(
    "sources.snapshot_s", "sources.snapshot_task_skew",
    "streaming.cdc_rows_rewritten_per_change", "streaming.cdc_state_rows",
    "streaming.reconcile_tick_ms", "streaming.reconcile_tick_p99_ms",
    "rest.get_ms", "rest.list_ms", "rest.create_ms", "rest.update_ms", "rest.delete_ms",
    "rest.self_ms").map(_ -> 0.0).toMap

  private val schema = MessageTypeParser.parseMessageType(
    """message mirror {
      |  required binary topic (STRING);
      |  required int32 partition;
      |  required int64 offset;
      |  required binary key (STRING);
      |  required binary value;
      |  required int64 ts;
      |}""".stripMargin)

  final case class Fixture(feed: OpenLoopFeed, pm: PipelineManager, root: String,
      src: String, dest: String)

  val transform: DataFrame => DataFrame = df =>
    Translate.mirror(df, "mirror.%s")
      .withColumn("dest_partition", Partitioning.byKey(col("key"), DestPartitions))

  def spec(src: String, dest: String): PipelineSpec =
    PipelineSpec(Name, "parquet", "parquet", src, destinationConnection = dest,
      metadata = Map("maxFilesPerTrigger" -> MaxFiles.toString))

  /** The seeded input: key skew and topic mix vary with the seed. */
  def newFeed(seed: Long, src: String): OpenLoopFeed = {
    val rnd = new java.util.Random(seed)
    val zipf = new Zipf(Keys, 0.7 + 0.6 * rnd.nextDouble())
    val topics = Array.tabulate(4)(i => s"topic$i-${rnd.nextInt(1000)}")
    val pad = Array.fill(ValueBytes)((rnd.nextInt(94) + 33).toByte)
    val rowsPerFile = (RatePerS * PeriodMs / 1000).toInt
    new OpenLoopFeed(src, PeriodMs, schema, (f, emit) => {
      val r = new java.util.Random(seed * 1000003L + f.tick)
      (0 until f.rows).foreach { i =>
        val seq = f.firstSeq + i
        val v = pad.clone()
        java.nio.ByteBuffer.wrap(v).putLong(seq)
        val g = new SimpleGroup(schema)
        g.add("topic", topics(r.nextInt(topics.length)))
        g.add("partition", r.nextInt(8))
        g.add("offset", seq)
        g.add("key", s"k${zipf.sample(r)}")
        g.add("value", Binary.fromConstantByteArray(v))
        g.add("ts", f.dueMicros)
        emit(g)
      }
    }, _ => rowsPerFile)
  }

  def build(seed: Long)(spark: SparkSession, dir: String): Fixture = {
    val src = Fs.mkdirs(s"$dir/src")
    val feed = newFeed(seed, src)
    feed.writeNow(1) // the source infers its schema from a first file
    val pm = new PipelineManager(spark, s"$dir/root")
    pm.create(spec(src, s"$dir/dest"))
    Fixture(feed, pm, s"$dir/root", src, s"$dir/dest")
  }

  def run(ctx: Ctx): Outcome = {
    val (spark, fx, setupS) = ctx.setupRepeated(build(ctx.seed))(_.pm.close())
    val dp = new DataPlane(spark, fx.root, spec(fx.src, fx.dest), transform, fx.feed, fx.pm)
    dp.start()
    dp.warmUp(WarmupMs, MaxFiles / 2)
    val untraced = if (ctx.trace) Some(dp.window(ctx.seconds)) else None
    val probe = if (ctx.trace) Some(new LayerProbe(spark)) else None
    ctx.heap.reset()
    val s0 = probe.map(_.snap())
    val w = dp.window(ctx.seconds)
    val steady = probe.map(p => DataPlane.streamLayers(p, s0.get, w))
      .getOrElse(Map.empty)
    Thread.sleep(new java.util.Random(ctx.seed).nextInt(300).toLong) // crash point within an epoch
    val rec = dp.crashAndRecover(Crashes, DowntimeMs)
    val drained = dp.finish()
    val (attempted, wrong) = check(spark, fx.dest, fx.feed.rowsWritten)
    val failed = wrong + w.unackedRows + (if (drained) 0 else 1)
    val traced = probe.map { p =>
      val dropped = p.droppedEvents.toDouble
      p.close()
      val ref = singleThreadRef(ctx, spark)
      val (ixChecked, ixWrong, ix) = IndexServe.tracedPass(ctx)
      (ixChecked, ixWrong, steady ++ ix ++ Bypassed ++ Map(
        "streaming.restart_ms" -> rec.restartMs,
        "streaming.first_epoch_ms" -> rec.firstEpochMs,
        "streaming.catchup_eps_local1" -> ref._1,
        "streaming.catchup_eps_localN" -> ref._2,
        "jvm.heap_peak_mb" -> ctx.heap.peakMb,
        "gen.late_ms_p99" -> Stats.quantile(fx.feed.lateMs, 0.99),
        "gen.p90_support" -> w.batchesBeyond(0.9).toDouble,
        "trace.overhead_ratio" -> w.p(0.5) / untraced.get.p(0.5),
        "trace.listener_dropped" -> dropped,
        "check.error_ratio" -> (failed + ixWrong).toDouble / (attempted + ixChecked)))
    }
    val layers = traced.map(_._3).getOrElse(Map.empty)
    val e2e = Map(
      "setup_s" -> setupS,
      "events_per_s" -> w.eventsPerS,
      "latency_p50_ms" -> w.p(0.5),
      "latency_p90_ms" -> w.p(0.9),
      "recovery_s" -> rec.recoveryS,
      "heap_retained_mb" -> Jvm.retainedHeapMb())
    Outcome(attempted + traced.map(_._1).getOrElse(0L),
      failed + traced.map(_._2).getOrElse(0L), e2e ++ layers)
  }

  /** Every offered offset at the sink exactly once; translated columns
    * and the byKey partition equal a recomputation. Returns
    * (inputs checked, inputs wrong). */
  def check(spark: SparkSession, dest: String, offered: Long): (Long, Long) = {
    val out = spark.read.parquet(dest)
    val r = out.agg(
      count(lit(1)), countDistinct(col("origin_offset")),
      sum(when(col("origin_offset") < 0 || col("origin_offset") >= offered, 1).otherwise(0)),
      sum(when(col("dest_topic") =!= concat(lit("mirror."), col("origin_topic")), 1).otherwise(0)),
      sum(when(col("checkpoint") =!= concat_ws("-", col("origin_topic"),
        col("origin_partition"), col("origin_offset")), 1).otherwise(0)),
      sum(when(octet_length(col("value")) =!= ValueBytes, 1).otherwise(0))).head()
    val rows = r.getLong(0)
    val distinct = r.getLong(1)
    val outOfRange = r.getLong(2)
    val badCols = Seq(3, 4, 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
    val badPartition = out.select(col("key"), col("dest_partition")).distinct().collect()
      .count(p => java.lang.Math.floorMod(Portable.hash64Of(p.getString(0)),
        DestPartitions.toLong) != p.getLong(1))
    val duplicated = rows - distinct
    val lost = offered - (distinct - outOfRange)
    if (duplicated + lost + outOfRange + badCols + badPartition > 0)
      System.err.println(s"mirror_stream check: offered=$offered rows=$rows " +
        s"duplicated=$duplicated lost=$lost outOfRange=$outOfRange badColumns=$badCols " +
        s"badPartitionKeys=$badPartition")
    (offered, duplicated + lost + outOfRange + badCols + badPartition)
  }

  /** Backlog drain rate of the same pipeline at local[1] and local[N],
    * from a pre-written backlog, in fresh sessions. The first batch
    * carries session warm-up and only opens the timed span. */
  def singleThreadRef(ctx: Ctx, current: SparkSession): (Double, Double) = {
    current.stop()
    def drainRate(cores: Int): Double = {
      val spark = ctx.newSession(cores)
      val dir = Fs.mkdirs(s"${ctx.work}/ref$cores")
      val fx = build(ctx.seed)(spark, dir)
      fx.feed.writeNow(MaxFiles * 4)
      val dp = new DataPlane(spark, fx.root, spec(fx.src, fx.dest), transform, fx.feed, fx.pm)
      dp.start(feeding = false)
      dp.ack.awaitAcked(fx.feed.written.map(_.name), 120000L)
      fx.pm.stop(Name)
      fx.pm.close()
      val (rows, secs) = dp.ack.ackedRate(dp.ack.commits.toSeq, fx.feed.written)
      spark.stop()
      rows / secs
    }
    (drainRate(1), drainRate(ctx.cores))
  }
}

package graft.queries

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.{PipelineSpec, PipelineStatus}
import graft.operators.Translate
import graft.streaming.{CdcMerge, DurableRecords, PipelineHooks, PipelineLockedException, PipelineManager, TwsCounterProcessor, TwsSessionProcessor}

/**
 * Structured-Streaming forms of the data-plane operators, run
 * synchronously (Trigger.AvailableNow over the parquet corpus treated
 * as a file stream) so the correctness gate checks the streaming
 * execution path against the same batch SQL oracle — stateless
 * transforms and complete-mode aggregations produce identical results
 * by construction.
 */
object StreamingQueries {

  private val runId = new AtomicInteger(0)

  /** Per-user running totals for s09 (top-level so the product encoder
    * derives cleanly). */
  case class CounterState(nEvents: Long, nBatches: Long)
  case class CounterUpdate(user_id: Long, n_events: Long, n_batches: Long)

  /**
   * One gate's scaffold, written once. Every scratch dir, pinned
   * session conf, manager and cached frame a gate takes through its
   * scope is released by [[gate]]'s one `finally`, after the body has
   * detached its result (the body decides whether to
   * `localCheckpoint`; key/value frames are local relations, so the
   * scope adds no Spark action). Release runs in reverse order of
   * acquisition, then deletes the dirs.
   */
  private[queries] final class GateScope(s: SparkSession, tag: String) {
    private var undo = List.empty[() => Unit]
    private var dirs = List.empty[String]
    private def conf = s.sparkContext.hadoopConfiguration

    /** A fresh `graft-<tag>-<role>-` temp dir. A path that must not
      * exist yet (a pipeline destination) is a child of one. */
    def dir(role: String): String = {
      val d = Files.createTempDirectory(s"graft-$tag-$role-").toString
      dirs ::= d
      d
    }

    /** Set session confs for the gate: each is set back, or unset
      * when it was unset, at release (`getOption` would report an
      * unset key's default, and setting that back leaves it set). */
    def pin(kvs: (String, Any)*): Unit = kvs.foreach { case (k, v) =>
      val prior = s.conf.getAll.get(k)
      onRelease(prior.fold(s.conf.unset(k))(s.conf.set(k, _)))
      s.conf.set(k, v.toString)
    }

    def onRelease(f: => Unit): Unit = undo ::= (() => f)

    /** `pm`, closed at release (close() is idempotent). */
    def track(pm: PipelineManager): PipelineManager = {
      onRelease(pm.close())
      pm
    }

    /** `df` cached for the gate (the first action materializes it),
      * its blocks released at release — persist, not localCheckpoint,
      * so nothing outlives the gate. */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist()
      onRelease(p.unpersist(false): Unit)
      p
    }

    /** Drain `stream` under Trigger.AvailableNow from checkpoint
      * `ckpt`, handing each micro-batch and its epoch to `onEpoch`. */
    def availableNow(stream: DataFrame, ckpt: String, mode: String = "append")(
        onEpoch: (DataFrame, Long) => Unit): Unit =
      runAvailableNow(stream.writeStream.foreachBatch(onEpoch), ckpt, mode)

    /** The epoch body that commits each micro-batch to `dir`. */
    def appendTo(dir: String): (DataFrame, Long) => Unit =
      (batch, epoch) => PipelineManager.epochAppend(batch, dir, epoch, tag): Unit

    /** Commit one epoch's served rows to `dir`, tagged with the epoch
      * — the one place an epoch becomes a plan literal. */
    def serveTo(dir: String, epoch: Long, served: DataFrame): Unit =
      PipelineManager.epochAppend(
        served.withColumn("epoch", lit(epoch)).coalesce(1), dir, epoch, tag): Unit

    /** A bucketed file source in a fresh `src` dir. */
    def bucketSource(schema: StructType): BucketSource =
      new BucketSource(s, dir("src"), schema)

    /** The control-plane store of manager root `root`: its paths are
      * the manager's own layout, never spelled by a gate. */
    def records(root: String): DurableRecords =
      new DurableRecords(new Path(root).getFileSystem(conf), root)

    def exists(p: Path): Boolean = p.getFileSystem(conf).exists(p)

    /** Committed epoch files at `dest` (epochAppend's rename contract). */
    def committed(dest: String): Int = PipelineManager.committedFiles(dest, conf).size

    def await(what: String)(cond: => Boolean): Unit = awaitCond(tag, what)(cond)

    /** Wait until micro-batch `b` of the query checkpointed at `ckpt`
      * (a [[records]] path) has committed and `also` holds. */
    def awaitCommit(ckpt: Path, b: Long)(also: => Boolean = true): Unit =
      await(s"epoch $b commit")(exists(new Path(ckpt, s"commits/$b")) && also)

    /** Rows delivered to `dest`: (count, distinct event_id). */
    def delivered(dest: String): (Long, Long) = {
      val r = s.read.parquet(dest)
        .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("nd"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    /** A (kind, k, v) result frame — a local relation. */
    def kv(rows: (String, String, Any)*): DataFrame = {
      import s.implicits._
      rows.map { case (kind, k, v) => (kind, k, v.toString) }.toDF("kind", "k", "v")
    }

    /** Run every release action, then delete the dirs; the first
      * failure, after all were attempted. */
    private[queries] def release(): Option[Throwable] = {
      var first = Option.empty[Throwable]
      def attempt(f: => Unit): Unit =
        try f catch { case NonFatal(e) => if (first.isEmpty) first = Some(e) }
      undo.foreach(f => attempt(f()))
      dirs.foreach(d => attempt(deleteTree(d)))
      undo = Nil
      dirs = Nil
      first
    }
  }

  /** Run `body` in a fresh [[GateScope]] and release it however the
    * body ends; a release failure never masks the body's own. */
  private[queries] def gate[A](s: SparkSession, tag: String)(body: GateScope => A): A = {
    val g = new GateScope(s, tag)
    val out =
      try body(g)
      catch { case t: Throwable => g.release().foreach(t.addSuppressed); throw t }
    g.release().foreach(e => throw e)
    out
  }

  /** THE Trigger.AvailableNow runner: every gate's stream drains
    * through here. */
  private def runAvailableNow(w: DataStreamWriter[Row], ckpt: String,
      mode: String): Unit =
    w.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** A file-stream source fed one bucket file at a time and read as
    * maxFilesPerTrigger=1 epochs. Each bucket's file gets a
    * strictly-increasing modification time keyed by the bucket number,
    * so a run that plans several buckets replays them in bucket order
    * (the file source admits oldest-modtime first; same-millisecond
    * writes would otherwise tie-break on an arbitrary uuid path). Even
    * where verdicts are epoch-order-independent (s20), the pinned
    * order keeps epoch attribution reproducible. */
  private[queries] final class BucketSource(s: SparkSession, dir: String,
      schema: StructType) {
    private val stamped = scala.collection.mutable.Set[String]()

    private def write(b: Int, bucket: DataFrame): Unit = {
      bucket.coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && !stamped(f.getName))
        .foreach { f =>
          // A silently-failed stamp would make epoch replay order (and
          // the gates' epoch attribution) arbitrary — fail loudly.
          require(f.setLastModified(1700000000000L + b * 60000L),
            s"setLastModified failed for ${f.getPath}; bucket order would be nondeterministic")
          stamped += f.getName }
    }

    /** One ingest run per group: write the group's buckets, then `run`. */
    def runs(groups: Seq[Int]*)(bucket: Int => DataFrame)(run: => Unit): Unit =
      groups.foreach { bs => bs.foreach(b => write(b, bucket(b))); run }

    def stream: DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /**
   * Run a streaming plan to completion into a memory table.
   *
   * State partition count: a streaming query's state store is
   * partitioned by `spark.sql.shuffle.partitions` AT FIRST RUN and
   * fixed thereafter — a real deployment sizes it per pipeline (state
   * volume / executor count), exactly like the reference sizes task
   * counts per datastream. For this corpus the stateful demos are
   * state-store-overhead-bound, so they run at 8 partitions; the conf
   * is restored after the query finishes. The memory sink holds rows
   * in driver memory, so the checkpoint is dead once the query
   * terminates and is deleted with the scope.
   */
  private def runToTable(tag: String, df: DataFrame, mode: String,
      statePartitions: Int = 8): DataFrame = gate(df.sparkSession, tag) { g =>
    val name = s"stream_out_${runId.incrementAndGet()}"
    g.pin("spark.sql.shuffle.partitions" -> statePartitions)
    runAvailableNow(df.writeStream.queryName(name).format("memory"),
      g.dir("ckpt"), mode)
    df.sparkSession.table(name)
  }

  /** THE lifecycle-gate wait: poll `cond` up to 60 s in 25 ms steps —
    * gates wait on the engine's own commit log, never on sleeps sized
    * to the work. */
  private def awaitCond(tag: String, what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (!cond && System.currentTimeMillis() < deadline)
      Thread.sleep(25L)
    require(cond, s"$tag: timed out waiting for $what")
  }

  /** Recursively delete a temp tree; call only after the result is
    * detached from its files. */
  private def deleteTree(d: String): Unit = {
    val root = java.nio.file.Paths.get(d)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // The file-stream source requires a directory; glob-filter the one
    // table out of the shared corpus dir. ts arrives in whatever
    // vintage the corpus was generated with and is normalized to
    // TimestampType by the same choke point as the batch readers.
    //
    // The 0-second watermarks downstream assume the corpus arrives in
    // ONE micro-batch (single file, no maxFilesPerTrigger): with
    // multiple batches, rows older than a previous batch's max ts
    // would be dropped as late. Production pipelines use a real
    // lateness allowance; 0 s is the value that makes the FINAL
    // watermark — and therefore the emitted-window set — exactly
    // reproducible by the batch oracle.
    val schema = Tables.rawSchema(s, dir, "events")
    Tables.normalizeEventTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  private def kafkaShaped(events: DataFrame): DataFrame =
    events.select(
      col("event_type").as("topic"),
      pmod(col("user_id"), lit(8L)).as("partition"),
      col("event_id").as("offset"),
      col("user_id").cast("string").as("key"),
      col("props").as("value"),
      col("ts"))

  /** The corpus's clicks (event_id, user_id), epoch `e` being the
    * rows with event_id mod `n` = e — the manager gates' source. */
  private def clickEpochs(s: SparkSession, d: String, n: Long): Long => DataFrame = {
    val clicks = Tables.t(s, d, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"))
    e => clicks.filter(pmod(col("event_id"), lit(n)) === e)
  }


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The mirror pipeline (poll → translate → sink) under streaming
    // execution; per-record transform chain identical to q02.
    "s01_stream_mirror" -> ((s, d) =>
      runToTable("s01",
        Translate.mirror(kafkaShaped(eventsStream(s, d)), "mirror.%s", "p-"),
        mode = "append")),

    // Streaming stateful aggregation (complete mode = full rollup).
    "s02_stream_agg" -> ((s, d) =>
      runToTable("s02",
        eventsStream(s, d)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("value_total")),
        mode = "complete")),

    // Event-time tumbling-window aggregation with a watermark, append
    // mode: only windows finalized by the final watermark (= max event
    // time at delay 0) are emitted — the oracle reproduces exactly that
    // finalization rule. This is the A6 SLA rollup in its native
    // streaming form.
    "s03_windowed_watermark" -> ((s, d) =>
      runToTable("s03",
        eventsStream(s, d)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win"), col("event_type"), col("n")),
        mode = "append")),

    // Stream-stream inner join: click → purchase attribution within a
    // 1-hour event-time range. Inner joins under AvailableNow see the
    // whole corpus, so the result equals the batch join.
    "s04_stream_join" -> ((s, d) => {
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "0 seconds")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "0 seconds")
      runToTable("s04",
        clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("click_id"), col("purchase_id")),
        mode = "append")
    }),

    // Streaming exact dedup: dropDuplicates over the state store. Only
    // the key set is deterministic under parallel arrival, so that is
    // what the query returns (D-family dedup in streaming form).
    "s05_stream_dedup" -> ((s, d) =>
      runToTable("s05",
        eventsStream(s, d)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type"),
        mode = "append")),

    // Session windows (1-hour inactivity gap) per user — a capability
    // the reference lacks but the Spark engine exposes natively.
    // Sessions still open at the final watermark stay in state and are
    // not emitted; the oracle applies the same rule.
    "s06_session_window" -> ((s, d) =>
      runToTable("s06",
        eventsStream(s, d)
          .withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n")),
        mode = "append")),

    // MULTI-batch watermark finalization — the gate that removes the
    // single-micro-batch assumption documented on eventsStream: the
    // corpus is split into three files by event_id % 3, each added to
    // the source directory and drained by its own AvailableNow run over
    // ONE shared checkpoint with maxFilesPerTrigger=1, so the watermark
    // genuinely advances between micro-batches and each later batch's
    // rows face the watermark the earlier batches established. With a
    // 30-minute lateness allowance, a batch-b row survives iff its
    // window is still open (window_end > wm_b where wm_b = ms-truncated
    // max event time of batches < b, minus 30 min — Spark tracks event
    // time in milliseconds); a window is emitted iff finalized by the
    // final watermark. The oracle encodes exactly those two rules, so a
    // single-batch execution (which would keep every row) hash-fails.
    // The sink is foreachBatch → epochAppend (exactly-once across the
    // three runs' epochs; the memory sink cannot resume a checkpoint).
    "s08_multibatch_watermark" -> ((s, d) => gate(s, "s08") { g =>
      val base = Tables.t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("ts"))
      val src = g.bucketSource(base.schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      // Unlike s10, this AGGREGATION's oracle finalizes windows against
      // the watermark including the LAST batch's data — which only a
      // trailing no-data micro-batch can flush. Pin the (default-true)
      // flag explicitly so a session-level override can't break it.
      g.pin("spark.sql.shuffle.partitions" -> 8,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> true)
      src.runs(Seq(0), Seq(1), Seq(2))(b =>
        base.filter(pmod(col("event_id"), lit(3L)) === b))(
        g.availableNow(src.stream
            .withWatermark("ts", "30 minutes")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("win"), col("event_type"), col("n")),
          ckpt)(g.appendTo(outDir)))
      // localCheckpoint (eager) detaches the result from the temp
      // files so they can be deleted when the scope is released.
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Custom keyed state over MULTIPLE micro-batches:
    // flatMapGroupsWithState maintains a per-user running (events,
    // batches) counter across three AvailableNow runs over one shared
    // checkpoint (batch b = event_id % 3, one file per run — the s08
    // harness shape). Each batch emits the user's post-batch totals, so
    // the output encodes the state's whole history: a run that lost or
    // replayed state would double-count and hash-fail. This is the
    // A4-family custom-state surface (the reference's per-partition
    // control state) as a gated query.
    "s09_stateful_counter" -> ((s, d) => gate(s, "s09") { g =>
      import s.implicits._
      val base = Tables.t(s, d, "events").select(col("event_id"), col("user_id"))
      val src = g.bucketSource(base.schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      g.pin("spark.sql.shuffle.partitions" -> 8)
      src.runs(Seq(0), Seq(1), Seq(2))(b =>
        base.filter(pmod(col("event_id"), lit(3L)) === b))(
        g.availableNow(src.stream
            .as[(Long, Long)]
            .groupByKey(_._2)
            .flatMapGroupsWithState[CounterState, CounterUpdate](
              OutputMode.Update,
              org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
              (user, events, state) =>
                val st = state.getOption.getOrElse(CounterState(0L, 0L))
                val next = CounterState(st.nEvents + events.size, st.nBatches + 1)
                state.update(next)
                Iterator(CounterUpdate(user, next.nEvents, next.nBatches))
            }.toDF(),
          ckpt, "update")(g.appendTo(outDir)))
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Bounded-state streaming dedup across MULTIPLE micro-batches:
    // dropDuplicatesWithinWatermark — unlike s05's dropDuplicates,
    // state for a key is EVICTED once the watermark passes its event
    // time + delay, which is the only dedup that survives an unbounded
    // 100 TB stream. The key includes the hour-truncated event time, so
    // every occurrence of a key shares one expiry and the whole state
    // machine is a pure function of the batch split: each key emits
    // exactly once, at its first admitted batch (with the event time
    // in the key the delays cancel — a later occurrence is either late
    // or still deduped; see the oracle comment). Three AvailableNow
    // runs over one checkpoint (batch = event_id % 3); the oracle
    // replays per-batch admission. The re-emission-after-state-death
    // path, which needs a key that does NOT carry its event time, is
    // pinned by DedupWithinWatermarkContractSpec.
    "s12_dedup_within_wm" -> ((s, d) => gate(s, "s12") { g =>
      val base = Tables.t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
      val src = g.bucketSource(base.drop("event_id").schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      g.pin("spark.sql.shuffle.partitions" -> 8)
      src.runs(Seq(0), Seq(1), Seq(2))(b =>
        base.filter(pmod(col("event_id"), lit(3L)) === b).drop("event_id"))(
        g.availableNow(src.stream
            .withWatermark("hr", "30 minutes")
            .dropDuplicatesWithinWatermark("user_id", "event_type", "hr")
            .select(col("user_id"), col("event_type"), col("hr")),
          ckpt)(g.appendTo(outDir)))
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Streaming NEAR-DUP admission — the one LLM-data op with a
    // streaming form: MinHash band buckets (k=16, r=4 — the d03
    // banding) are the dedup KEY under dropDuplicatesWithinWatermark
    // bounded state, so an unbounded document stream admits the first
    // claimant of each LSH bucket per event-time window and evicts
    // bucket state once the watermark passes — exactly how a 100 TB
    // ingest pipeline near-dedups without unbounded memory. Document
    // event time is synthesized deterministically (doc_id % 97 hours
    // from a fixed base) so the 3-batch split (doc_id % 3) and every
    // admission decision replay as a pure function in the oracle.
    "s14_stream_banded_dedup" -> ((s, d) => gate(s, "s14") { g =>
      // Band frame from the shared d-family signature spill (same
      // k=16/r=4 chain) — the first s-gate consumer after a release
      // rebuilds it once; reruns and s15 ride it.
      val bands = DataOpsQueries.sharedBands(s, d)
      // Cached once: the three per-bucket source writes would
      // otherwise each recompute the full corpus MinHash (s15's 4-scan
      // setup hazard).
      val base = g.persist(bands.select(
        col("doc"),
        col("band").cast("long").as("band"),
        col("bh"),
        expr("timestampadd(HOUR, cast(pmod(doc, 97) as int), " +
          "timestamp'2024-01-01 00:00:00')").as("hr")))
      val src = g.bucketSource(base.drop("doc").schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      g.pin("spark.sql.shuffle.partitions" -> 4)
      // two runs over one checkpoint: bucket 0 alone, then buckets
      // 1+2 after a restart — state-store recovery proven by the
      // second run, within-run watermark advance by its two epochs.
      src.runs(Seq(0), Seq(1, 2))(b =>
        base.filter(pmod(col("doc"), lit(3L)) === b).drop("doc"))(
        g.availableNow(src.stream
            .withWatermark("hr", "30 minutes")
            .dropDuplicatesWithinWatermark("band", "bh", "hr")
            .select(col("band"), col("bh"), col("hr")),
          ckpt)(g.appendTo(outDir)))
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Streaming incremental index dedup — the d19 durable-index loop
    // under streaming execution: dedup state lives in the ON-DISK band
    // index, not the state store (contrast s14's watermark-bounded
    // in-memory bucket state — this form's memory is O(batch) no
    // matter how long the stream runs). Each micro-batch is flagged
    // against the index AS OF ITS EPOCH (per-doc verdict emitted),
    // then its admitted docs' bands are appended through the
    // idempotent epoch commit — a replayed epoch neither double-admits
    // nor re-flags, and a batch-4 near-dup of a batch-2 admission is
    // caught only because the index grew between epochs.
    "s15_stream_index_dedup" -> ((s, d) => gate(s, "s15") { g =>
      val docs = Tables.t(s, d, "documents")
      // Shared-spill band frame — see s14.
      val bands = DataOpsQueries.sharedBands(s, d)
      // Cache the band pipeline ONCE (bootstrap write materializes it):
      // the bootstrap plus three per-bucket source writes would
      // otherwise each recompute the full corpus MinHash (4 scans of
      // documents.parquet).
      val rows = g.persist(docs.select(col("doc_id").as("doc"))
        .join(bands, Seq("doc"), "left") // keep shingle-less docs (null band)
        .select(col("doc"), col("band").cast("long").as("band"), col("bh")))
      val src = g.bucketSource(rows.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      // bootstrap: the pre-existing corpus index (buckets 0-1 of 5).
      // Compacted to one file: the run-start recovery read below and
      // any crash-restart re-read list this dir, and the write
      // otherwise inherits the suite's 32 shuffle partitions.
      rows.filter(pmod(col("doc"), lit(5L)) < 2 && col("band").isNotNull)
        .coalesce(1).write.mode("overwrite").parquet(idxDir)
      // One ingest RUN = recovery read of the durable index (run-start
      // view rebuild — the production restart path), then epochs
      // extend the view with their own COMMITTED files: the epoch
      // commit doubles as the batch's materialization point
      // (epochAppend returns the committed paths), so an epoch pays
      // exactly three jobs — batch freeze, verdict commit, admission
      // commit — and never re-reads the grown index from disk.
      // Replay-safe: a replayed epoch gets the SAME committed files
      // back, and duplicate view rows cannot change a verdict
      // (countDistinct/min).
      def runIngest(): Unit = {
        // Run-start recovery read; per-epoch extensions ride the
        // committed files, and every K epochs the view swaps back to
        // a fresh read of the compacted dir so the union plan stays
        // bounded (DurableIndexView — kills the measured late-epoch
        // planning drift at high epoch counts).
        val idx = new graft.streaming.DurableIndexView(s, idxDir)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          // The shared admission-epoch body (verdicts against the
          // index as of this epoch, committed one-file-per-epoch;
          // PipelineManager.dedupAdmissionEpoch owns the loop —
          // this gate's index layer is the flat dir + bounded view)
          idx.extend(PipelineManager.epochAppend(
            PipelineManager.dedupAdmissionEpoch(
              idx.frame, batch, outDir, epoch, "s15out"),
            idxDir, epoch, "s15idx"))
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      // two runs over one checkpoint: bucket 2 alone, then buckets
      // 3+4 after a restart — the second run proves recovery (view
      // rebuilt from the durable index, offsets from the checkpoint)
      // while its two epochs prove within-run index growth.
      src.runs(Seq(2), Seq(3, 4))(b =>
        rows.filter(pmod(col("doc"), lit(5L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // s15's admission semantics with the band index riding the
    // HARDENED persistence core — the last stateful-ingest shape
    // moved onto EpochPartitionedStore: s15's flat index appends one
    // file per epoch FOREVER (its DurableIndexView bounds the plan,
    // not the file count — a month-long ingest accumulates millions
    // of files), while this store tier-compacts (file count flat in
    // epoch count, O(N·log N) total rewrite bytes), recovers from
    // any crash boundary, and serves snapshot-consistent reads. The
    // bootstrap corpus is store epoch 0 (idempotent commit — a
    // re-open re-issues it as a marker no-op); stream epoch e maps
    // to store epoch e+1. Verdicts are BIT-IDENTICAL to s15 by
    // construction, and the oracle is literally s15's.
    "s30_stream_dedup_store" -> ((s, d) => gate(s, "s30") { g =>
      val docs = Tables.t(s, d, "documents")
      val bands = DataOpsQueries.sharedBands(s, d)
      val rows = g.persist(docs.select(col("doc_id").as("doc"))
        .join(bands, Seq("doc"), "left")
        .select(col("doc"), col("band").cast("long").as("band"), col("bh")))
      val src = g.bucketSource(rows.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      // band rows get a stable 16-way partition column for the store
      // (bucketing the DIRECTORY layout so compaction rewrites land
      // ~one file per bucket; the dedup join itself is key-planned)
      def withPb(df: DataFrame): DataFrame = df.withColumn("pb",
        pmod(graft.functions.Portable.hash64(col("bh")), lit(16L)))
      val boot = rows
        .filter(pmod(col("doc"), lit(5L)) < 2 && col("band").isNotNull)
      def runIngest(): Unit = {
        val store = new graft.streaming.EpochPartitionedStore(s,
          s"$idxDir/bands", "pb", "s30", compactEvery = 2)
        // bootstrap = store epoch 0; idempotent across runs/replays
        store.appendEpoch(withPb(boot).coalesce(1), 0L)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          val idxFrame = store.frameIfAny
            .map(_.select(col("doc"), col("band"), col("bh")))
            .getOrElse(batch.limit(0) // unreachable: bootstrap committed
              .select(col("doc"), col("band"), col("bh")))
          store.appendEpoch(
            withPb(PipelineManager.dedupAdmissionEpoch(
              idxFrame, batch, outDir, epoch, "s30out")),
            epoch + 1)
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      // two runs over one checkpoint: bucket 2 alone, then buckets
      // 3+4 after a restart — the second run proves the STORE's
      // crash recovery (constructor rollback/sweep + snapshot
      // bootstrap read) under the same offsets-from-checkpoint
      // replay as s15, with a compaction tick inside each run.
      src.runs(Seq(2), Seq(3, 4))(b =>
        rows.filter(pmod(col("doc"), lit(5L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Streaming ANN admission — the embedding counterpart of s15: the
    // dedup key is the vector's random-hyperplane LSH signature, split
    // into two 12-bit BANDS of a 24-bit bucket (Ann.lshBucket), so an
    // incoming vector colliding with the durable index on EITHER
    // half-signature is a near-dup candidate and is rejected; admitted
    // vectors append their bands through the idempotent epoch commit.
    // Same shape as a 100 TB embedding-ingest gate: the index is
    // parquet on disk (O(corpus) storage, O(batch) memory per epoch),
    // each batch equi-joins it on (band, bh), and nothing ever rescans
    // corpus vectors. Reuses Dedup.indexDedupBatch/admitBands
    // verbatim — band admission is band admission, whether the bands
    // hash shingles or hyperplane signs. Since r17 the admission index
    // rides EpochPartitionedStore (the s30 pattern): the former flat
    // layout appended one index file per epoch FOREVER, while the
    // store tier-compacts (file count flat in epoch count), recovers
    // from any crash boundary, and serves snapshot-consistent reads.
    // Bootstrap = store epoch 0; stream epoch e maps to store epoch
    // e+1. Verdicts are bit-identical (same oracle).
    "s16_stream_ann_admission" -> ((s, d) => gate(s, "s16") { g =>
      val emb = Tables.t(s, d, "embeddings")
      val sig = emb.select(col("vec_id").as("doc"),
        graft.ann.Ann.lshBucket(
          graft.ann.Ann.toDouble(col("embedding")), 24).as("bucket"))
      // Cached once — same 4-scan setup hazard as s15.
      val rows = g.persist(sig.select(col("doc"), posexplode(array(
          col("bucket").bitwiseAND(lit(4095L)),
          shiftright(col("bucket"), 12).bitwiseAND(lit(4095L)))))
        .select(col("doc"), col("pos").cast("long").as("band"),
          col("col").as("bh")))
      val src = g.bucketSource(rows.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      // band rows get a stable 16-way partition column for the store
      // (bucketing the DIRECTORY layout so compaction rewrites land
      // ~one file per bucket; the dedup join itself is key-planned)
      def withPb(df: DataFrame): DataFrame = df.withColumn("pb",
        pmod(graft.functions.Portable.hash64(col("bh")), lit(16L)))
      // bootstrap: the pre-existing corpus index (buckets 0-1 of 5)
      val boot = rows.filter(pmod(col("doc"), lit(5L)) < 2)
      // Forced mod-time bucket order + two-run recovery structure +
      // commit-as-materialization epochs — see s15 for the rationale
      // and the replay-safety argument.
      def runIngest(): Unit = {
        val store = new graft.streaming.EpochPartitionedStore(s,
          s"$idxDir/bands", "pb", "s16", compactEvery = 2)
        // bootstrap = store epoch 0; idempotent across runs/replays
        store.appendEpoch(withPb(boot).coalesce(1), 0L)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          val idxFrame = store.frameIfAny
            .map(_.select(col("doc"), col("band"), col("bh")))
            .getOrElse(batch.limit(0) // unreachable: bootstrap committed
              .select(col("doc"), col("band"), col("bh")))
          store.appendEpoch(
            withPb(PipelineManager.dedupAdmissionEpoch(
              idxFrame, batch, outDir, epoch, "s16out")),
            epoch + 1)
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(2), Seq(3, 4))(b =>
        rows.filter(pmod(col("doc"), lit(5L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // The same multi-batch custom-state shape on Spark 4's
    // transformWithState API (typed named ValueState, RocksDB state
    // store — the provider the API requires): three AvailableNow runs
    // over one checkpoint, per-user running totals PLUS the
    // first-seen-batch ordinal, which only a state store that survived
    // both restarts can report (a fresh store would re-initialize it
    // to the current batch and hash-fail).
    "s11_tws_counter" -> ((s, d) => gate(s, "s11") { g =>
      import s.implicits._
      val base = Tables.t(s, d, "events").select(col("event_id"), col("user_id"))
      val src = g.bucketSource(base.schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      g.pin("spark.sql.shuffle.partitions" -> 8,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        // Changelog checkpointing: commit the per-batch CHANGELOG
        // instead of a full RocksDB snapshot upload — the production
        // setting for large state; here it cuts the 8-partition x
        // 3-run x per-batch snapshot overhead of trivially-small state.
        // Checkpoint format only; state content and results unchanged.
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> true)
      src.runs(Seq(0), Seq(1), Seq(2))(b =>
        base.filter(pmod(col("event_id"), lit(3L)) === b))(
        g.availableNow(src.stream
            .as[(Long, Long)]
            .groupByKey(_._2)
            .transformWithState(new TwsCounterProcessor,
              org.apache.spark.sql.streaming.TimeMode.None(),
              OutputMode.Update())
            .toDF(),
          ckpt, "update")(g.appendTo(outDir)))
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Event-time TIMERS on the arbitrary-state API: an inactivity
    // sessionizer that emits a session ONLY when the watermark passes
    // `last event + 1 day` — the state transition no input row can
    // trigger (s09/s11 react to data; this reacts to the ABSENCE of
    // data, which only a registered timer observes). Batches are
    // TIME-RANGE THIRDS — ms thresholds derived from a min/max
    // aggregate (integer arithmetic, so both engines compute the
    // identical boundaries) — so the watermark advances monotonically
    // run over run and every timer's fire-or-hold decision is a pure
    // function of the split, with NO global-window sort over raw rows
    // anywhere in the harness; the oracle enumerates the (fire0,
    // fire1, fire2) session compositions per user. Timers that
    // outlive the final watermark never fire — those sessions are
    // deliberately absent.
    "s13_session_timeout" -> ((s, d) => gate(s, "s13") { g =>
      import s.implicits._
      val gapMs = 86400000L // 1 day of event-time silence
      val evs = Tables.t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          expr("unix_micros(ts) div 1000").as("ms"))
      // One-row bounded aggregate — the scalable replacement for a
      // global ntile window: thresholds, not ranks, define the split.
      val bounds = evs.agg(min(col("ms")), max(col("ms"))).head()
      val lo = bounds.getLong(0)
      val step = (bounds.getLong(1) - lo) / 3
      val base = evs
        .withColumn("b",
          when(col("ms") < lo + step, 0)
            .when(col("ms") < lo + 2 * step, 1).otherwise(2))
        .drop("ms")
      val src = g.bucketSource(base.drop("b").schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      // changelog checkpointing: see the s11 comment — commit format
      // only, results unchanged
      g.pin("spark.sql.shuffle.partitions" -> 8,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> true)
      src.runs(Seq(0), Seq(1), Seq(2))(b =>
        base.filter(col("b") === b).drop("b"))(
        g.availableNow(src.stream
            .withWatermark("ts", "0 seconds")
            .select(col("user_id"), col("ts"))
            .as[(Long, java.sql.Timestamp)]
            .groupByKey(_._1)
            .transformWithState(new TwsSessionProcessor(gapMs),
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              OutputMode.Update())
            .toDF(),
          ckpt, "update")(g.appendTo(outDir)))
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Watermarked stream-stream LEFT OUTER join across MULTIPLE
    // micro-batches — the finalization semantics a production
    // attribution pipeline runs on: matches emit when the later side
    // arrives (state is swept only at end-of-batch, so batch-B input
    // still joins state the same batch evicts); an unmatched click
    // emits its null row when the watermark proves no purchase can
    // arrive (click_ts + 1h < wm). Three AvailableNow runs over one
    // checkpoint (batch b = event_id % 3) make the watermark — and
    // therefore admission, match co-presence, and null emission — a
    // pure function of the batch split, which the oracle replays
    // batch by batch. Under the default noDataMicroBatches=true (pinned
    // here), a run whose own data ADVANCES the watermark ends with a
    // trailing no-data batch that persists the new watermark and
    // sweeps join state with it; a run whose own per-side maxima stay
    // below the restored watermark advances nothing and sweeps nothing
    // — per-node maxima reset on restart, so the watermark is a
    // running max of PER-RUN minima (see the oracle comment; the
    // cumulative-maxima model overpredicts at sf0.1).
    // NoDataBatchContractSpec pins the schedule, the flag-off lag,
    // and the node-reset rule, failing loudly on a Spark upgrade.
    "s10_stream_outer_join" -> ((s, d) => gate(s, "s10") { g =>
      val base = Tables.t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val src = g.bucketSource(base.schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      // The oracle models the DEFAULT noDataMicroBatches=true schedule;
      // pin it explicitly so a session-level override can't break the
      // gate (see the comment above + NoDataBatchContractSpec).
      g.pin("spark.sql.shuffle.partitions" -> 8,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> true)
      src.runs(Seq(0), Seq(1), Seq(2))(b =>
        base.filter(pmod(col("event_id"), lit(3L)) === b)) {
        val stream = src.stream
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "30 minutes")
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"),
            col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "30 minutes")
        g.availableNow(clicks.join(purchases,
            col("user_id") === col("p_user_id") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
            "leftOuter")
            .select(col("user_id"), col("click_id"), col("purchase_id")),
          ckpt)(g.appendTo(outDir))
      }
      s.read.parquet(outDir).localCheckpoint()
    }),

    // S8: the synthetic indexed source as a GATED query — the
    // reference's test connector semantics (TestEventProducingConnector
    // .java:144-177: fixed-size indexed events, index resumed from the
    // checkpoint). Run 1 drains events [0, 600) in 250-event admission
    // batches; run 2 REUSES the checkpoint with totalEvents=1000 and
    // must resume at index 600 — emitting exactly [600, 1000), no
    // duplicates, no gaps. The offset log alone carries the source
    // state; epochAppend keeps the sink exactly-once across both runs'
    // epochs. The corpus dir is unused (the source is synthetic by
    // definition); the oracle regenerates the same indexed payloads.
    "s17_synthetic_resume" -> ((s, d) => gate(s, "s17") { g =>
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      def drain(totalEvents: Long): Unit = g.availableNow(s.readStream
          .format(classOf[graft.sources.SyntheticProvider].getName)
          .option("totalEvents", totalEvents.toString)
          .option("batchSize", "250")
          .option("payloadSize", "64")
          .option("numPartitions", "4")
          .load(), ckpt)((batch, epoch) =>
        PipelineManager.epochAppend(batch.coalesce(1), outDir, epoch, "s17"))
      drain(600)
      drain(1000)
      s.read.parquet(outDir).localCheckpoint()
    }),

    // F2/A4 at the source layer (SURVEY §7.3 hard part 1): the
    // pausable DSv2 source holds paused partitions' offset-vector
    // components, so their data is never read while paused and
    // resumes from the HELD index. Run 1 pauses partition 1 (its 150
    // rows stay unread); run 2 unpauses and delivers exactly those —
    // every row arrives exactly once, and the run column proves WHEN.
    "s18_paused_source" -> ((s, d) => gate(s, "s18") { g =>
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      val pauseFile = java.nio.file.Paths.get(g.dir("pause"), "pause.txt")
      def drain(run: Int): Unit = g.availableNow(s.readStream
          .format(classOf[graft.sources.PausableProvider].getName)
          .option("rowsPerPartition", "150")
          .option("numPartitions", "4")
          .option("batchPerPartition", "40")
          .option("payloadSize", "16")
          .option("pauseFile", pauseFile.toString)
          .load(), ckpt)((batch, epoch) => PipelineManager.epochAppend(
        batch.withColumn("run", lit(run)).coalesce(1), outDir, epoch, "s18"))
      Files.writeString(pauseFile, "1")
      drain(1)
      Files.writeString(pauseFile, "")
      drain(2)
      s.read.parquet(outDir).localCheckpoint()
    }),

    // F2 for FOREIGN DSv2 sources, oracle-gated: the same
    // pause-survives-restart contract as s18, but the inner source is
    // pause-UNAWARE (its own pause file unset) and the hold happens
    // entirely in the wrapping PausingMicroBatchStream (offset-layer
    // clamp via the vector codec). Same closed form as s18: partition
    // 1's rows arrive only in run 2, everything exactly once.
    "s19_wrapped_pause" -> ((s, d) => gate(s, "s19") { g =>
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      val pauseFile = java.nio.file.Paths.get(g.dir("pause"), "pause.txt")
      def drain(run: Int): Unit = g.availableNow(s.readStream
          .format(classOf[graft.sources.PausingProvider].getName)
          .option("innerFormat", classOf[graft.sources.PausableProvider].getName)
          .option("offsetCodec", "vector")
          .option("pauseFile", pauseFile.toString)
          .option("rowsPerPartition", "150")
          .option("numPartitions", "4")
          .option("batchPerPartition", "40")
          .option("payloadSize", "16")
          .load(), ckpt)((batch, epoch) => PipelineManager.epochAppend(
        batch.withColumn("run", lit(run)).coalesce(1), outDir, epoch, "s19"))
      Files.writeString(pauseFile, "1")
      drain(1)
      Files.writeString(pauseFile, "")
      drain(2)
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Streaming DECONTAMINATION on the ingest path — the guard a
    // 100 TB pipeline runs in FRONT of training data: a STATIC
    // benchmark band index (the eval suites, built once, never grows)
    // flags every incoming batch's docs that share an LSH band with
    // any benchmark doc, so contaminated docs are quarantined at
    // ingest instead of discovered by a post-hoc d10/d20 sweep.
    // Contrast s15 (the index grows by admission — dedup) and d20
    // (batch decontam): here the index is immutable, which makes the
    // verdicts epoch-ORDER-INDEPENDENT — the streaming machinery
    // contributes idempotent epoch commits and checkpoint recovery
    // (two runs over one checkpoint), and the oracle needs no
    // epoch unrolling at all. Since r17 the QUARANTINE LOG (the one
    // per-epoch-growing artifact of this gate — the benchmark index
    // itself is static) rides EpochPartitionedStore: a month-long
    // ingest's verdict log stays flat in file count under tiered
    // compaction instead of accumulating one flat file per epoch,
    // and the final read is the store's committed snapshot. Verdicts
    // bit-identical (same oracle).
    "s20_stream_decontam" -> ((s, d) => gate(s, "s20") { g =>
      val docs = Tables.t(s, d, "documents")
      // Shared-spill band frame — see s14.
      val bands = DataOpsQueries.sharedBands(s, d)
      val rows = g.persist(docs.select(col("doc_id").as("doc"))
        .join(bands, Seq("doc"), "left")
        .select(col("doc"), col("band").cast("long").as("band"), col("bh")))
      val src = g.bucketSource(rows.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      // the benchmark corpus: docs 0-1 of 10, banded once, compacted
      rows.filter(pmod(col("doc"), lit(10L)) < 2 && col("band").isNotNull)
        .coalesce(1).write.mode("overwrite").parquet(idxDir)
      val streamed = rows.filter(pmod(col("doc"), lit(10L)) >= 2)
      def runIngest(): Unit = {
        val bench = s.read.parquet(idxDir) // static; one read per run
        // the verdict log's tiered store: partitioned 16-way by doc
        // hash so compaction rewrites land ~one file per bucket
        val store = new graft.streaming.EpochPartitionedStore(s,
          s"$outDir/log", "pb", "s20", compactEvery = 2)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          val bb = batch.filter(col("band").isNotNull)
          // same collision machinery as the dedup loops, read as
          // contamination: n_hits colliding benchmark docs,
          // first_hit the smallest (-1 = clean)
          store.appendEpoch(
            graft.dedup.Dedup.indexDedupBatch(bench, bb,
              batch.select(col("doc")).distinct())
              .select(col("doc"), col("n_dups").as("n_hits"),
                col("first_dup").as("first_hit"))
              .withColumn("pb", pmod(
                graft.functions.Portable.hash64(col("doc")), lit(16L)))
              .coalesce(1),
            epoch)
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        streamed.filter(pmod(col("doc"), lit(3L)) === b))(runIngest())
      graft.streaming.EpochPartitionedStore
        .readSnapshot(s, s"$outDir/log", "pb", "s20").get
        .select(col("doc"), col("n_hits"), col("first_hit"))
        .localCheckpoint()
    }),

    // Relevance scoring ON INGEST with a pre-trained lexical model —
    // the retrieval counterpart of s20's static decontamination
    // index: the BM25 model (per-term df, corpus N and avgdl for the
    // t23 query) is trained ONCE from the corpus snapshot, then every
    // arriving epoch scores only its own documents against the
    // broadcast 4-row df table and two scalar literals. Per-epoch
    // cost is O(batch) — no corpus state, no growing index — and the
    // accumulated output equals the batch t23 scorer over the same
    // docs, which is exactly what the oracle checks.
    "s21_stream_bm25" -> ((s, d) => gate(s, "s21") { g =>
      val terms = Seq("vector", "customer", "merge", "scan")
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      // train the static scorer from the corpus snapshot (one pass)
      val tok = docs.select(col("doc_id"),
        graft.text.Text.tokens(col("text")).as("w"))
      val statsRow = tok
        .agg(count(lit(1)).cast("double").as("nd"),
          avg(size(col("w")).cast("double")).as("avgdl")).head()
      val (nd, avgdl) = (statsRow.getDouble(0), statsRow.getDouble(1))
      val dfTable = tok.select(col("doc_id"), explode(col("w")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
        .localCheckpoint() // 4 rows; broadcast to every epoch
      val src = g.bucketSource(docs.schema)
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          val btok = batch.select(col("doc_id"),
            graft.text.Text.tokens(col("text")).as("w"))
          val bdl = btok.select(col("doc_id"),
            size(col("w")).cast("double").as("dl"))
          val postings = btok
            .select(col("doc_id"), explode(col("w")).as("term"))
            .filter(col("term").isin(terms: _*))
            .groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).cast("double").as("tf"))
          // identical literal shapes to t23 / its oracle SQL
          val wExpr = graft.text.Text.bm25Weight(lit(nd), lit(avgdl), 1.2, 0.75)
          val scored = postings.join(bdl, "doc_id")
            .join(broadcast(dfTable), "term")
            .groupBy(col("doc_id")).agg(round(sum(wExpr), 6).as("score"))
          PipelineManager.epochAppend(scored.coalesce(1), outDir, epoch, "s21")
        })
      s.read.parquet(outDir).localCheckpoint()
    }),

    // INCREMENTAL LEXICAL-INDEX MAINTENANCE on ingest — the s15 story
    // for the retrieval path, materialized for a STANDING query (the
    // streaming analog of a retrieval materialized view): each epoch
    // appends its own postings for the query's terms (tokenize only
    // the batch; (doc,term,tf) with the doc length denormalized
    // on-row, Lucene's norms inlined) to the durable index via the
    // idempotent epoch commit, folds the batch's
    // (count, Σdl) into a 1-row-per-epoch running corpus-stats
    // accumulator — O(1) state, never a rescan of docstats history —
    // and then RE-SERVES the standing query from the updated index:
    // the per-epoch read is the |q|-term posting lists plus the tiny
    // stats row, never the corpus. Exactness note: dl is an
    // integer-valued double, so the running Σdl is exact and
    // avgdl = Σdl/nd is bit-identical to the oracle's AVG over the
    // epoch prefix. Replay safety: postings/stats commits are
    // epoch-marked (skipped when already committed), and a replayed
    // epoch whose stats row already landed REUSES that committed row
    // instead of re-adding its batch.
    "s23_stream_lex_index" -> ((s, d) => gate(s, "s23") { g =>
      val terms = Seq("vector", "customer", "merge", "scan")
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      val src = g.bucketSource(docs.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          val btok = batch.select(col("doc_id"),
            graft.text.Text.tokens(col("text")).as("w"))
          val bdl = btok.select(col("doc_id"),
            size(col("w")).cast("double").as("dl"))
          val bpost = btok
            .select(col("doc_id"), explode(col("w")).as("term"))
            .filter(col("term").isin(terms: _*))
            .groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).cast("double").as("tf"))
            .join(bdl, "doc_id")
          PipelineManager.epochAppend(bpost.coalesce(1),
            s"$idxDir/postings", epoch, "s23p")
          // running corpus stats: committed row for THIS epoch wins
          // (replay), else previous epoch's cumulative + this batch
          val statsPath = s"$idxDir/stats"
          // the committed-file probe goes through the ONE owner of
          // epochAppend's rename contract — never a re-spelled glob
          val existing =
            if (g.committed(statsPath) > 0)
              s.read.parquet(statsPath).collect() // ≤ 1 row per epoch
            else Array.empty[Row]
          val (nd, sumDl) = existing.find(_.getLong(0) == epoch) match {
            case Some(r) => (r.getDouble(1), r.getDouble(2))
            case None =>
              val prior = existing.filter(_.getLong(0) < epoch)
                .sortBy(-_.getLong(0)).headOption
              val b = bdl.agg(count(lit(1)).cast("double"),
                coalesce(sum(col("dl")), lit(0.0))).head()
              (prior.map(_.getDouble(1)).getOrElse(0.0) + b.getDouble(0),
                prior.map(_.getDouble(2)).getOrElse(0.0) + b.getDouble(1))
          }
          PipelineManager.epochAppend(
            { import s.implicits._
              Seq((epoch, nd, sumDl)).toDF("epoch", "nd", "sum_dl") }
              .coalesce(1),
            statsPath, epoch, "s23s")
          // serve the standing query from the updated index
          val avgdl = sumDl / nd
          val post = s.read.parquet(s"$idxDir/postings")
          val dfT = post.groupBy(col("term"))
            .agg(count(lit(1)).cast("double").as("df"))
          val wExpr = graft.text.Text.bm25Weight(lit(nd), lit(avgdl), 1.2, 0.75)
          val scored = post.join(broadcast(dfT), "term")
            .groupBy(col("doc_id")).agg(round(sum(wExpr), 6).as("score"))
          val top = scored.orderBy(col("score").desc, col("doc_id")).limit(3)
            .withColumn("rank", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("score").desc, col("doc_id"))).cast("long"))
            .select(col("doc_id"), col("rank"), col("score"))
          g.serveTo(outDir, epoch, top)
        })
      s.read.parquet(outDir).localCheckpoint()
    }),

    // FULL-VOCABULARY incremental inverted index — s23 without its
    // one caveat: ingest maintains postings for EVERY term (no term
    // set fixed at ingest time), hive-partitioned by the same 64-way
    // term-hash bucket t25's batch-built store uses, read through a
    // DurableIndexView (bounded union plan, basePath-preserved
    // partition column) and compacted every 2 epochs
    // (publish-before-delete generations, so no crash window loses
    // data). The standing query's terms are NEVER named at ingest —
    // the build-once/serve-many contract honored by the streaming
    // path. Each epoch re-serves top-3 from the updated index with
    // t23's exact closed form over the ingested prefix; the second
    // run constructs a FRESH index object over the surviving store,
    // exercising the compaction recovery path.
    "s24_stream_lex_vocab" -> ((s, d) => gate(s, "s24") { g =>
      val qTerms = Seq("table", "stream", "window", "sort")
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      val src = g.bucketSource(docs.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      def runIngest(): Unit = {
        val ilx = new graft.streaming.IncrementalLexIndex(s, idxDir,
          name = "s24", compactEvery = 2)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          ilx.appendEpoch(batch, epoch)
          g.serveTo(outDir, epoch, ilx.serve(qTerms, 3))
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // STREAMING HYBRID RETRIEVAL — e20's reciprocal-rank fusion served
    // ON INGEST from two durable indexes: the full-vocab incremental
    // lexical index (s24) and an epoch-appended vector store read
    // through a bounded DurableIndexView (the s16 pattern). Per epoch:
    // both stores fold the batch in, the lexical top-10 (BM25, t23's
    // closed form over the prefix) and the cosine top-10 (e02's
    // broadcast-probe bounded top-k over the ingested vectors) are
    // k-bounded BEFORE the full-outer RRF merge — the fusion touches
    // ≤ 2k rows per epoch no matter how large the ingested corpus is,
    // exactly e20's 100 TB contract, now holding while both indexes
    // grow. The second run re-opens both stores (recovery paths).
    "s25_stream_hybrid" -> ((s, d) => gate(s, "s25") { g =>
      val qTerms = Seq("vector", "customer", "merge", "scan")
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val probe = graft.ann.Ann.pinTiny(emb.filter(col("vec_id") === 0))
      val src = g.bucketSource(docs.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      val vecDir = g.dir("vec") + "/v"
      def runIngest(): Unit = {
        val ilx = new graft.streaming.IncrementalLexIndex(s, idxDir,
          name = "s25")
        var vview: Option[graft.streaming.DurableIndexView] = None
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          // lexical store: the batch's full-vocab postings
          ilx.appendEpoch(batch, epoch)
          // vector store: this epoch's embeddings slice
          val vFiles = PipelineManager.epochAppend(
            emb.filter(pmod(col("vec_id"), lit(3L)) === epoch).coalesce(1),
            vecDir, epoch, "s25v")
          val vecs = vview match {
            case None =>
              val v = new graft.streaming.DurableIndexView(s, vecDir)
              vview = Some(v); v.frame
            case Some(v) => v.extend(vFiles); v.frame
          }
          val lex = ilx.serve(qTerms, 10)
            .select(col("doc_id"), col("rank").as("lex_rank"))
          val vec = graft.ann.Ann.bruteForceTopK(probe, vecs, 10)
            .select(col("cand_id").as("doc_id"),
              col("rank").cast("long").as("vec_rank"))
          val fused = lex.join(vec, Seq("doc_id"), "full_outer")
            .withColumn("rrf", round(
              coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6))
          val top = fused.orderBy(col("rrf").desc, col("doc_id")).limit(10)
            .withColumn("rank", row_number()
              .over(org.apache.spark.sql.expressions.Window
                .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
            .select(col("doc_id"), col("rank"), col("lex_rank"),
              col("vec_rank"), col("rrf"))
          g.serveTo(outDir, epoch, top)
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // STANDING MULTI-QUERY CURATION over the live index — t26's
    // one-postings-pass batch shape (union term set prunes one read,
    // df via count-over-window, broadcast (query, term) table,
    // query-partitioned top-k) served per epoch from the s24
    // incremental store: the shape of a curation pipeline running a
    // whole keyword-query portfolio as a standing query, re-scored as
    // the index absorbs each batch. None of the 12 terms is named at
    // ingest; per (epoch, query) the rows bit-match independent
    // single-query serves, which is what the unrolled oracle scores.
    "s28_stream_multi_bm25" -> ((s, d) => gate(s, "s28") { g =>
      val qset = Seq(
        "qA" -> Seq("table", "stream", "window", "sort"),
        "qB" -> Seq("vector", "customer", "merge", "scan"),
        "qC" -> Seq("join", "hash", "fast", "slow"))
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      val src = g.bucketSource(docs.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      def runIngest(): Unit = {
        val ilx = new graft.streaming.IncrementalLexIndex(s, idxDir,
          name = "s28", compactEvery = 2)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          ilx.appendEpoch(batch, epoch)
          g.serveTo(outDir, epoch, ilx.serveMulti(qset, 3))
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // INCREMENTAL IVF VECTOR INDEX — the s24 story for the vector
    // side: ingest maintains a durable CELL-PARTITIONED vector store
    // (fixed codebook trained at creation; nearest-cell assignment on
    // ingest through the same EpochPartitionedStore protocol —
    // bounded view, generation compaction, crash recovery), and each
    // epoch re-serves an nprobe-gated ANN query whose candidate scan
    // reads ONLY the probed cells' directories. Bit-matches the batch
    // IVF closed form (e06's shapes) over every ingested prefix; the
    // second run re-opens the store through recovery.
    "s26_stream_ivf" -> ((s, d) => gate(s, "s26") { g =>
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      val probes = graft.ann.Ann.pinTiny(emb.filter(col("vec_id") < 4))
      val src = g.bucketSource(emb.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      def runIngest(): Unit = {
        val ivx = new graft.streaming.IncrementalVectorIndex(s, idxDir,
          cents, name = "s26", compactEvery = 2)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          ivx.appendEpoch(batch, epoch)
          g.serveTo(outDir, epoch, ivx.serve(probes, k = 3, nprobe = 2))
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // INCREMENTAL IVF+PQ INDEX, MULTI-PROBE SERVE — s26 with the
    // raw-embedding byte cost taken out of the scoring scan: ingest
    // stores each vector's m=8 PQ codes (deterministic first-16
    // codebook, e11/e14's form — a deployment passes a
    // pqTrainCodebook-trained one) next to the raw embedding in the
    // cell-partitioned store; the FOUR standing probes are served in
    // ONE pass per scan kind (union of probed cells — the s28
    // serveMulti contract on the vector side): ADC over the code
    // column (top-6 per probe, embedding never read), then exact
    // cosine re-rank of only those candidates to top-3. Bit-matches
    // the e14 closed form + re-rank over every ingested prefix; the
    // second run re-opens the store through recovery.
    "s29_stream_pq_ivf" -> ((s, d) => gate(s, "s29") { g =>
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      val cb = graft.ann.Ann.pinTiny(graft.ann.Ann.pqCodebook(
        graft.ann.Ann.pqSubvectors(emb, 8), 16))
      val probes = graft.ann.Ann.pinTiny(emb.filter(col("vec_id") < 4))
      val src = g.bucketSource(emb.schema)
      val (idxDir, outDir, ckpt) = (g.dir("idx"), g.dir("out"), g.dir("ckpt"))
      def runIngest(): Unit = {
        val ipx = new graft.streaming.IncrementalPqIndex(s, idxDir,
          cents, cb, m = 8, name = "s29", compactEvery = 2)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          ipx.appendEpoch(batch, epoch)
          g.serveTo(outDir, epoch, ipx.serve(probes, k = 3, nprobe = 2, rerank = 6))
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // CODEBOOK RETRAIN-AND-REBUILD WITH SERVE CUTOVER — the remedy
    // the PQ index's drift telemetry exists to trigger
    // (IncrementalPqIndex's class doc): when adcRankAgreement slides,
    // you retrain the codebooks and REBUILD a NEW index from the raw
    // corpus (cells and codes are derived data), keep the OLD index
    // serving throughout the backfill, and cut reads over only when
    // the new store's committed ceiling covers the corpus — a search
    // reindex with zero serving downtime, never an in-place re-encode
    // (mixing two code spaces inside one store makes ADC silently
    // wrong for every pre-retrain row). Phases emitted as rows:
    // 'pre' (old index, old codebook), 'during' (old index serving
    // UNCHANGED while the new store backfills beside it — the
    // operational claim), 'post' (new index, new codebook). The
    // oracle computes both codebooks' closed forms over the full
    // corpus; 'pre' must equal 'during' bit for bit.
    "s32_pq_rebuild_cutover" -> ((s, d) => gate(s, "s32") { g =>
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      // old codebook: the deterministic first-16 (e11/e14 form); the
      // "retrained" codebook: vectors 16-31's subvectors re-coded
      // 0-15 — deterministically DIFFERENT codewords standing in for
      // a pqTrainCodebook refit on a drifted corpus
      val subs = graft.ann.Ann.pqSubvectors(emb, 8)
      val cbOld = graft.ann.Ann.pinTiny(graft.ann.Ann.pqCodebook(subs, 16))
      val cbNew = graft.ann.Ann.pinTiny(
        subs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
          .select(col("sub"), (col("vec_id") - 16).cast("int").as("code"),
            col("sv").as("cv")))
      val probes = graft.ann.Ann.pinTiny(emb.filter(col("vec_id") < 2))
      val src = g.bucketSource(emb.schema)
      val (idxA, idxB) = (g.dir("idxA"), g.dir("idxB"))
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      def phased(phase: String, df: DataFrame): DataFrame =
        df.withColumn("phase", lit(phase))
          .select(col("phase"), col("query_id"), col("cand_id"),
            col("rank"), col("cos"))
      g.pin("spark.sql.shuffle.partitions" -> 4)
      // the LIVE index: streaming ingest of the whole corpus under
      // the old codebook (3 one-file epochs, compaction tick)
      val ipxA = new graft.streaming.IncrementalPqIndex(s, idxA,
        cents, cbOld, m = 8, name = "s32a", compactEvery = 2)
      src.runs(Seq(0, 1, 2))(b =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === b))(
        g.availableNow(src.stream, ckpt)((batch, epoch) =>
          ipxA.appendEpoch(batch, epoch)))
      def serveOf(ipx: graft.streaming.IncrementalPqIndex): DataFrame =
        ipx.serve(probes, k = 3, nprobe = 2, rerank = 6)
      PipelineManager.epochAppend(
        phased("pre", serveOf(ipxA)).coalesce(1), outDir, 0, "s32")
      // REBUILD beside it: a fresh store under the new codebook,
      // backfilled from the RAW corpus (the source of truth) in two
      // epochs with a compaction tick; the old index serves
      // UNCHANGED in the middle of the backfill
      val ipxB = new graft.streaming.IncrementalPqIndex(s, idxB,
        cents, cbNew, m = 8, name = "s32b", compactEvery = 2)
      ipxB.appendEpoch(emb.filter(pmod(col("vec_id"), lit(2L)) === 0), 0L)
      PipelineManager.epochAppend(
        phased("during", serveOf(ipxA)).coalesce(1), outDir, 1, "s32")
      ipxB.appendEpoch(emb.filter(pmod(col("vec_id"), lit(2L)) === 1), 1L)
      // cutover gate: reads move only when the rebuild's committed
      // ceiling covers its backfill plan
      require(ipxB.cellStore.committedEpochCeiling == 1L,
        "rebuild incomplete; refusing cutover")
      PipelineManager.epochAppend(
        phased("post", serveOf(ipxB)).coalesce(1), outDir, 2, "s32")
      s.read.parquet(outDir).localCheckpoint()
    }),

    // DRIFT TELEMETRY, VALUE-PINNED (s34): adcRankAgreement stops
    // being advisory and becomes load-bearing. Construction makes the
    // matched-prefix value EXACTLY 1.0 by design, not by luck: the
    // corpus is L2-NORMALIZED (ADC's dot ordering == the re-rank's
    // cosine ordering, both rounded 6 dp) and the first 16 vectors
    // ARE the codebook's codewords (PQ reconstruction is exact, so
    // ADC == exact for every matched candidate → the final top-k's
    // ADC ranks are 1..k ≤ rerank/2). Ingesting the OFF-codebook
    // second half then quantizes with error, and the published
    // agreement must fall below the matched value — the slide the
    // metric exists to expose, with its k/rerank window published so
    // the random-ordering floor is computable. The remedy this
    // triggers is the s32/s33 rebuild.
    "s34_drift_telemetry" -> ((s, d) => gate(s, "s34") { g =>
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val embN = emb
        .withColumn("nr", graft.ann.Ann.norm(
          graft.ann.Ann.toDouble(col("embedding"))))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => x.cast("double") / col("nr")).as("embedding"))
        .localCheckpoint()
      val cents = embN.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
      val cbOld = graft.ann.Ann.pinTiny(graft.ann.Ann.pqCodebook(
        graft.ann.Ann.pqSubvectors(embN, 8), 16))
      val probes = graft.ann.Ann.pinTiny(embN.filter(col("vec_id") < 2))
      val idxDir = g.dir("idx")
      g.pin("spark.sql.shuffle.partitions" -> 4)
      val ipx = new graft.streaming.IncrementalPqIndex(s, idxDir,
        cents, cbOld, m = 8, name = "s34", compactEvery = 2)
      def servedAgreement(nth: Long): Double = {
        require(ipx.serve(probes, k = 3, nprobe = 2, rerank = 6)
          .count() > 0, "serve returned no rows to measure")
        // the observation completes on the listener bus,
        // asynchronously after count() — poll the consumed-serve
        // counter, never a sleep sized to the bus
        g.await(s"drift observation of serve $nth")(
          ipx.health.getOrElse("driftConsumedServes", 0.0) >= nth)
        ipx.health.getOrElse("adcRankAgreement",
          sys.error("no drift metric after a consumed serve"))
      }
      // epoch 0: the matched prefix — every vector reconstructs
      // exactly under the codebook
      ipx.appendEpoch(embN.filter(col("vec_id") < 16), 0L)
      val matched = servedAgreement(1L)
      // epoch 1: the drifted half — off-codebook vectors quantize
      // with error
      ipx.appendEpoch(embN.filter(col("vec_id") >= 16), 1L)
      val drifted = servedAgreement(2L)
      val h = ipx.health
      g.kv(
        ("matched", "agreement", f"$matched%.6f"),
        ("drifted", "below_matched", drifted < matched - 1e-9),
        ("window", "topk", h("driftTopK").toLong),
        ("window", "rerank", h("driftRerank").toLong))
    }),

    // THE MANAGED REBUILD VERB (s33) — s32's protocol with the WHOLE
    // dance driven by three REST calls against the management plane:
    // POST /pipelines/{name}/rebuildIndex starts the background
    // backfill beside the live store, GET .../rebuildIndex (and
    // /diag/{name}) polls state/epochs/both-ceilings, and the
    // ceiling-gated cutover swaps serving and sweeps the old store.
    // Same corpus plan, serves, and phases as s32, so the oracle is
    // s32's closed form verbatim — 'pre' = 'during' bit for bit is
    // still the operational claim; what this gate adds is that no
    // hand-rolled orchestration remains (the reference routes
    // re-provisioning through the management plane the same way,
    // KafkaTransportProviderAdmin.createTopic:285). Every protocol
    // invariant (202 accepted, 409 while running, backfilling state
    // visible on /diag, old store swept) is require()d — a violation
    // errs the gate. Epoch 1 of the backfill is latch-held so the
    // mid-backfill serve is deterministic.
    "s33_rebuild_verb" -> ((s, d) => gate(s, "s33") { g =>
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      val subs = graft.ann.Ann.pqSubvectors(emb, 8)
      val cbOld = graft.ann.Ann.pinTiny(graft.ann.Ann.pqCodebook(subs, 16))
      val cbNew = graft.ann.Ann.pinTiny(
        subs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
          .select(col("sub"), (col("vec_id") - 16).cast("int").as("code"),
            col("sv").as("cv")))
      val probes = graft.ann.Ann.pinTiny(emb.filter(col("vec_id") < 2))
      val (ckptRoot, outDir) = (g.dir("pm"), g.dir("out"))
      val (idxA, idxB) = (g.dir("idxA"), g.dir("idxB"))
      def phased(phase: String, df: DataFrame): DataFrame =
        df.withColumn("phase", lit(phase))
          .select(col("phase"), col("query_id"), col("cand_id"),
            col("rank"), col("cos"))
      g.pin("spark.sql.shuffle.partitions" -> 4)
      val pm = g.track(new PipelineManager(s, ckptRoot))
      val srv = new graft.rest.ManagementServer(pm).start()
      g.onRelease(srv.stop())
      val base = s"http://localhost:${srv.boundPort}"
      val client = java.net.http.HttpClient.newHttpClient()
      // timeout on every request: a handler that dies without
      // responding must fail the gate loudly, never park send()
      def http(method: String, path: String): java.net.http.HttpResponse[String] =
        client.send(java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(base + path)).header("X-Owner", "ops")
            .timeout(java.time.Duration.ofSeconds(180))
            .method(method, java.net.http.HttpRequest.BodyPublishers
              .noBody()).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      pm.create(PipelineSpec("s33a", "parquet", "parquet", idxA))
      // the LIVE index: full corpus under the old codebook, three
      // epochs with a compaction tick (s32's content, direct form)
      val ipxA = new graft.streaming.IncrementalPqIndex(s, idxA,
        cents, cbOld, m = 8, name = "s33a", compactEvery = 2)
      (0L to 2L).foreach(e => ipxA.appendEpoch(
        emb.filter(pmod(col("vec_id"), lit(3L)) === e), e))
      val slot = new java.util.concurrent.atomic.AtomicReference(ipxA)
      pm.registerIndexHealth("s33a", () => slot.get().health)
      val epoch1Gate = new java.util.concurrent.CountDownLatch(1)
      val ipxB = new graft.streaming.IncrementalPqIndex(s, idxB,
        cents, cbNew, m = 8, name = "s33b", compactEvery = 2)
      pm.registerIndexRebuilder("s33a",
        new graft.streaming.IndexRebuilder {
          def planEpochs: Long = 2L
          def backfillEpoch(epoch: Long): Unit = {
            if (epoch == 1L) epoch1Gate.await()
            ipxB.appendEpoch(
              emb.filter(pmod(col("vec_id"), lit(2L)) === epoch), epoch)
          }
          def oldCeiling: Long = ipxA.cellStore.committedEpochCeiling
          def newCeiling: Long = ipxB.cellStore.committedEpochCeiling
          def cutover(): Unit = { slot.set(ipxB); deleteTree(idxA) }
        })
      def serveOf(): DataFrame =
        slot.get().serve(probes, k = 3, nprobe = 2, rerank = 6)
      PipelineManager.epochAppend(
        phased("pre", serveOf()).coalesce(1), outDir, 0, "s33")
      // REST call 1: start the rebuild
      val posted = http("POST", "/pipelines/s33a/rebuildIndex")
      require(posted.statusCode() == 202, s"rebuild POST: ${posted.body()}")
      require(http("POST", "/pipelines/s33a/rebuildIndex")
        .statusCode() == 409,
        "concurrent rebuild must be refused with the house 409 shape")
      // REST call 2: poll to the deterministic mid-point
      def progress(): String =
        http("GET", "/pipelines/s33a/rebuildIndex").body()
      val deadline = System.currentTimeMillis() + 120000L
      while (!progress().contains("\"epochsDone\":1") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20L)
      val mid = progress()
      require(mid.contains("\"state\":\"backfilling\"") &&
        mid.contains("\"epochsDone\":1"), s"mid progress: $mid")
      val diag = http("GET", "/diag/s33a").body()
      require(diag.contains("\"rebuild\"") &&
        diag.contains("\"backfilling\"") &&
        diag.contains("\"oldCeiling\":2") &&
        diag.contains("\"newCeiling\":0"), s"diag mid-rebuild: $diag")
      // the old index serves UNCHANGED mid-backfill (oracle pins it)
      PipelineManager.epochAppend(
        phased("during", serveOf()).coalesce(1), outDir, 1, "s33")
      // REST call 3: release and poll to completion (the cutover
      // gate is the manager's, not the gate's)
      epoch1Gate.countDown()
      while (!progress().contains("\"state\":\"complete\"") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20L)
      val fin = progress()
      require(fin.contains("\"state\":\"complete\"") &&
        fin.contains("\"newCeiling\":1"), s"final progress: $fin")
      require(!new java.io.File(idxA).exists(),
        "cutover must sweep the superseded store")
      PipelineManager.epochAppend(
        phased("post", serveOf()).coalesce(1), outDir, 2, "s33")
      s.read.parquet(outDir).localCheckpoint()
    }),

    // HYBRID RETRIEVAL FROM TWO INGEST-MAINTAINED INDEXES — the
    // production shape s25 approximates: the lexical list comes from
    // the full-vocab incremental inverted index (s24) and the vector
    // list from the incremental IVF store (s26, nprobe-gated cell
    // pruning — NOT a brute-force scan of a flat store), fused by
    // reciprocal rank exactly as e20. Per epoch both indexes fold the
    // batch in and the standing hybrid query re-serves top-10; both
    // input lists are k-bounded before the full-outer merge. Query
    // terms never named at ingest; probe fixed at vec 0.
    "s27_stream_hybrid_indexed" -> ((s, d) => gate(s, "s27") { g =>
      val qTerms = Seq("table", "stream", "window", "sort")
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      val probe = graft.ann.Ann.pinTiny(emb.filter(col("vec_id") === 0))
      val src = g.bucketSource(docs.schema)
      val (lexDir, vecDir) = (g.dir("lex"), g.dir("vec"))
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      def runIngest(): Unit = {
        val ilx = new graft.streaming.IncrementalLexIndex(s, lexDir,
          name = "s27l", compactEvery = 2)
        val ivx = new graft.streaming.IncrementalVectorIndex(s, vecDir,
          cents, name = "s27v", compactEvery = 2)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          ilx.appendEpoch(batch, epoch)
          ivx.appendEpoch(
            emb.filter(pmod(col("vec_id"), lit(3L)) === epoch), epoch)
          val lex = ilx.serve(qTerms, 10)
            .select(col("doc_id"), col("rank").as("lex_rank"))
          val vec = ivx.serve(probe, k = 10, nprobe = 2)
            .select(col("cand_id").as("doc_id"),
              col("rank").as("vec_rank"))
          val fused = lex.join(vec, Seq("doc_id"), "full_outer")
            .withColumn("rrf", round(
              coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6))
          val top = fused.orderBy(col("rrf").desc, col("doc_id")).limit(10)
            .withColumn("rank", row_number()
              .over(org.apache.spark.sql.expressions.Window
                .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
            .select(col("doc_id"), col("rank"), col("lex_rank"),
              col("vec_rank"), col("rrf"))
          g.serveTo(outDir, epoch, top)
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // STANDING MULTI-QUERY HYBRID SERVING — the s28 serveMulti
    // contract lifted to the full hybrid pipeline (s27's production
    // shape × N standing curation queries): Q (terms, probe) pairs
    // are re-served per epoch with ONE postings pass (the union term
    // set prunes one bucket-filtered read — IncrementalLexIndex
    // .serveMulti) and ONE ADC pass + ONE re-rank pass (the union
    // probed-cell set prunes each scan once — IncrementalPqIndex's
    // multi-probe serve; the raw embedding column never enters the
    // ADC scan), then per-query RRF fusion under per-query rank
    // windows. Per query, rows are bit-identical to Q independent
    // s27-style serves — the whole point: curation at scale runs many
    // standing hybrid queries, and today each would pay its own
    // serve. PlanSpec pins the one-scan-per-store-pass contract.
    "s31_stream_hybrid_multi" -> ((s, d) => gate(s, "s31") { g =>
      val hq = Seq(
        "0" -> Seq("table", "stream"),
        "1" -> Seq("window", "sort"),
        "2" -> Seq("vector", "merge"))
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      val cb = graft.ann.Ann.pinTiny(graft.ann.Ann.pqCodebook(
        graft.ann.Ann.pqSubvectors(emb, 8), 16))
      // probe vec i IS standing query i's vector half
      val probes = graft.ann.Ann.pinTiny(emb.filter(col("vec_id") < 3))
      val src = g.bucketSource(docs.schema)
      val (lexDir, vecDir) = (g.dir("lex"), g.dir("vec"))
      val (outDir, ckpt) = (g.dir("out"), g.dir("ckpt"))
      def runIngest(): Unit = {
        val ilx = new graft.streaming.IncrementalLexIndex(s, lexDir,
          name = "s31l", compactEvery = 2)
        val ipx = new graft.streaming.IncrementalPqIndex(s, vecDir,
          cents, cb, m = 8, name = "s31v", compactEvery = 2)
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          ilx.appendEpoch(batch, epoch)
          ipx.appendEpoch(
            emb.filter(pmod(col("vec_id"), lit(3L)) === epoch), epoch)
          val lex = ilx.serveMulti(hq, 10)
            .select(col("query_id"), col("doc_id"),
              col("rank").as("lex_rank"))
          val vec = ipx.serve(probes, k = 10, nprobe = 2, rerank = 20)
            .select(col("query_id").cast("string").as("query_id"),
              col("cand_id").as("doc_id"), col("rank").as("vec_rank"))
          val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
            .withColumn("rrf", round(
              coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)),
              6))
          val rw = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("rrf").desc, col("doc_id"))
          val top = fused
            .withColumn("rank", row_number().over(rw).cast("long"))
            .filter(col("rank") <= 10)
            .select(col("query_id"), col("doc_id"), col("rank"),
              col("lex_rank"), col("vec_rank"), col("rrf"))
          g.serveTo(outDir, epoch, top)
        }
      }
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(runIngest())
      s.read.parquet(outDir).localCheckpoint()
    }),

    // Streaming CARDINALITY on ingest — a durable 256-row HyperLogLog
    // register table max-merged with each arriving epoch's registers,
    // emitting the running distinct-shingle estimate after every
    // batch ("how big is the dedup index getting?" answered in O(1)
    // state while the corpus is unbounded). The state story differs
    // from every other stateful-ingest gate: max-merge is idempotent
    // AND commutative, so a crash-replayed epoch re-merging the same
    // batch is a NATURAL no-op — the register table needs no epoch
    // markers at all (contrast s15's admission index, which needs
    // idempotent epoch commits to avoid double-admission). Per-epoch
    // cost is O(batch + 256) whatever the history; the emitted
    // estimate after epoch e equals the batch t24 sketch over buckets
    // 0..e, which is what the oracle unrolls.
    "s22_stream_hll" -> ((s, d) => gate(s, "s22") { g =>
      val docs = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      val src = g.bucketSource(docs.schema)
      val (regDir, outDir, ckpt) = (g.dir("reg"), g.dir("out"), g.dir("ckpt"))
      g.pin("spark.sql.shuffle.partitions" -> 4)
      src.runs(Seq(0), Seq(1, 2))(b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b))(
        g.availableNow(src.stream, ckpt) { (batch, epoch) =>
          val sh = batch.select(graft.text.Text.tokens(col("text")).as("w"))
            .select(explode(graft.text.Text.shinglesOf(col("w"))).as("sh"))
          val bregs = graft.sketch.Sketch.hllRegisters(sh, col("sh"))
          val priorFiles = new java.io.File(regDir).listFiles()
          val merged = (if (priorFiles != null &&
              priorFiles.exists(_.getName.startsWith("part-")))
            s.read.parquet(regDir).unionByName(bregs) else bregs)
            .groupBy(col("reg")).agg(max(col("mj")).as("mj"))
            .localCheckpoint() // materialize BEFORE overwriting regDir
          merged.coalesce(1).write.mode("overwrite").parquet(regDir)
          g.serveTo(outDir, epoch, graft.sketch.Sketch.hllEstimate(merged))
        })
      s.read.parquet(outDir).localCheckpoint()
    }),

    // K3: the flush/epoch-commit barrier. Per epoch the transport
    // flush (epochAppend's staged write + rename) completes BEFORE
    // the commit marker appears — the reference's flush-then-commit
    // ordering (EventProducer.java:379-382 forces flush() on send;
    // AbstractKafkaBasedConnectorTask.maybeCommitOffsetsInternal
    // :657-680 flushes the producer, THEN commits offsets). The
    // observable contract this gate pins: a checkpoint restart
    // redelivers nothing, and re-delivering an already-committed
    // epoch (crash between flush and offset commit) is a no-op —
    // so after one run + one restart + two forced replays the sink
    // holds exactly one copy of every row and one marker per epoch.
    "q60_epoch_barrier" -> ((s, d) => gate(s, "q60") { g =>
      val (srcDir, ckptRoot) = (g.dir("src"), g.dir("pm"))
      val slice = Tables.t(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("event_type"), col("user_id"))
      // one source file per event type; maxFilesPerTrigger=1 makes
      // each file its own micro-batch epoch
      PipelineManager.epochAppend(
        slice.filter(col("event_type") === "click").coalesce(1),
        srcDir, 0, "q60src")
      PipelineManager.epochAppend(
        slice.filter(col("event_type") === "view").coalesce(1),
        srcDir, 1, "q60src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      val spec = pm.create(PipelineSpec("q60", "parquet", "parquet", srcDir,
        metadata = Map("maxFilesPerTrigger" -> "1")))
      val dest = spec.destinationConnection
      pm.start("q60", identity).awaitTermination()
      // restart over the same checkpoint: committed epochs stay put
      pm.pause("q60")
      pm.resume("q60", identity).awaitTermination()
      // crash-after-flush replay of both epochs: the commit marker
      // (written only after the flush) makes each a no-op
      PipelineManager.epochAppend(slice.coalesce(1), dest, 0, "q60")
      PipelineManager.epochAppend(slice.coalesce(1), dest, 1, "q60")
      // Epoch ids ride the committed file names (epochAppend's rename
      // contract), so the barrier is checkable from the sink alone:
      // each type landed in exactly ONE epoch (its one source file),
      // with no duplicate rows from the restart or the replays. The
      // commit-MARKER count is deliberately not asserted — empty
      // restart batches legitimately commit markers with no data.
      s.read.parquet(dest)
        .withColumn("epoch",
          regexp_extract(input_file_name(), "-e(\\d+)-p", 1).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          countDistinct(col("epoch")).as("n_epochs"))
        .localCheckpoint()
    }),

    // K6: the memory transport end-to-end — deliver a corpus slice
    // through PipelineManager's test sink (the reference's
    // InMemoryTransportProvider role) and read the delivered table
    // back. Non-durable by design; the gate checks the delivery path
    // carries the transform's exact rows.
    "q61_memory_transport" -> ((s, d) => gate(s, "q61") { g =>
      val (srcDir, ckptRoot) = (g.dir("src"), g.dir("pm"))
      val slice = Tables.t(s, d, "events")
        .filter(col("event_type").isin("click", "error"))
        .select(col("event_id"), col("user_id"), col("event_type"))
      PipelineManager.epochAppend(slice.coalesce(1), srcDir, 0, "q61src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      // memory-sink table names are session-global; a fresh name per
      // invocation keeps repeated gated runs independent
      val name = s"q61mem${runId.incrementAndGet()}"
      pm.create(PipelineSpec(name, "parquet", "memory", srcDir))
      pm.start(name, df => df.withColumn("route",
        concat(lit("mem."), col("event_type")))).awaitTermination()
      s.table(name).localCheckpoint()
    }),

    // K7 retention tier: the broker's `retention.ms` behavior for
    // filesystem transports. Four deterministic epoch files land via
    // the K3 commit path; two are aged past the provisioned window
    // (explicit mtimes — no clock races) and enforcement must delete
    // exactly those, leaving the other epochs' rows intact and the
    // commit markers untouched.
    "q63_retention" -> ((s, d) => gate(s, "q63") { g =>
      val (ckptRoot, destDir) = (g.dir("pm"), g.dir("dest"))
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q63", "parquet", "parquet",
        sourceConnection = destDir, destinationConnection = destDir,
        metadata = Map("retentionMs" -> "3600000")))
      val slice = Tables.t(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id"), pmod(col("event_id"), lit(4L)).as("bucket"))
      for (e <- 0 until 4)
        PipelineManager.epochAppend(
          slice.filter(col("bucket") === e.toLong).coalesce(1),
          destDir, e.toLong, "q63")
      // age epochs 0 and 2 beyond the 1-hour window
      val fs = new Path(destDir).getFileSystem(s.sparkContext.hadoopConfiguration)
      val now = System.currentTimeMillis()
      for (e <- Seq(0, 2)) {
        val p = new Path(destDir,
          s"graft-${PipelineManager.namespaceOf("q63")}-e$e-p0.parquet")
        fs.setTimes(p, now - 7200000L, -1)
      }
      val removed = pm.enforceRetention("q63", nowMs = now)
      import s.implicits._
      s.read.parquet(destDir)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .unionByName(Seq((-1L, removed.toLong)).toDF("bucket", "n"))
        .localCheckpoint()
    }),

    // Manager crash-and-recover, end-to-end — the reference's
    // node-failure e2e (TestDatastreamServer.java:334-492 kills an
    // instance and asserts continued delivery). Spark shape: two
    // pipelines deliver epoch 0 (one with a paused partition holding
    // rows back), the manager "crashes" (close() WITHOUT stopping the
    // pipelines — specs stay Ready on disk, exactly what a dead
    // driver leaves), and a NEW manager on the same checkpoint root
    // must (a) reload both specs (Ready collapses to Stopped: the
    // queries died with the process), (b) reload the durable pause
    // set, (c) deliver epoch 1 WITHOUT redelivering epoch 0 (file
    // source checkpoint continuity), and (d) replay BOTH managers'
    // held rows exactly once on resume. The oracle is closed-form:
    // every click and every view lands exactly once, so per-pipeline
    // counts equal the corpus counts and the state facts are
    // literals.
    "q64_manager_failover" -> ((s, d) => gate(s, "q64") { g =>
      val (ckptRoot, srcA, srcB) = (g.dir("pm"), g.dir("srcA"), g.dir("srcB"))
      val (destA, destB) = (g.dir("destA") + "/d", g.dir("destB") + "/d")
      val ev = Tables.t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          pmod(col("user_id"), lit(2L)).cast("string").as("part"))
      def epochOf(df: DataFrame, e: Long): DataFrame =
        df.filter(pmod(col("event_id"), lit(2L)) === e)
      // epoch 0 source files
      PipelineManager.epochAppend(epochOf(clicks, 0).coalesce(1), srcA, 0, "q64a")
      PipelineManager.epochAppend(epochOf(views, 0).coalesce(1), srcB, 0, "q64b")
      val pm1 = g.track(new PipelineManager(s, ckptRoot))
      pm1.create(PipelineSpec("q64a", "parquet", "parquet", srcA,
        destinationConnection = destA))
      pm1.create(PipelineSpec("q64b", "parquet", "parquet", srcB,
        destinationConnection = destB))
      // both pipelines drain CONCURRENTLY — the shape a real manager
      // runs (each pipeline is its own StreamingQuery; epoch 0 of A
      // and the partition-holding run of B overlap)
      val qa0 = pm1.start("q64a", identity)
      // partition "1" of the view stream held back into holdback
      val qb0 = pm1.pausePartitions("q64b", "part", Set("1"), identity)
      qa0.awaitTermination(); qb0.awaitTermination()
      // CRASH: no stop(), no delete — the specs on disk still read
      // Ready, the queries just die with the manager
      pm1.close()

      // failover: a fresh manager on the same durable root
      val pm2 = g.track(new PipelineManager(s, ckptRoot))
      val aStatus = pm2.get("q64a").map(_.status.toString).getOrElse("LOST")
      val bStatus = pm2.get("q64b").map(_.status.toString).getOrElse("LOST")
      val bPaused = pm2.paused("q64b").toSeq.sorted.mkString(",")
      // epoch 1 arrives after the failover; continued delivery must
      // pick it up without redelivering epoch 0
      PipelineManager.epochAppend(epochOf(clicks, 1).coalesce(1), srcA, 1, "q64a")
      PipelineManager.epochAppend(epochOf(views, 1).coalesce(1), srcB, 1, "q64b")
      val qa1 = pm2.start("q64a", identity)
      val qb1 = pm2.start("q64b", identity)
      qa1.awaitTermination(); qb1.awaitTermination()
      // release the held partition: BOTH managers' held rows replay
      pm2.resumePartitions("q64b", Set("1"), identity).awaitTermination()
      val (an, ad) = g.delivered(destA)
      val (bn, bd) = g.delivered(destB)
      g.kv(
        ("spec", "a_status_after_failover", aStatus),
        ("spec", "b_status_after_failover", bStatus),
        ("paused", "b_paused_after_failover", bPaused),
        ("rows", "a_n", an),
        ("rows", "a_distinct", ad),
        ("rows", "b_n", bn),
        ("rows", "b_distinct", bd))
    }),

    // Two-LIVE-manager mutual exclusion — the guarantee q64 does NOT
    // cover (it proves sequential failover): a task has exactly ONE
    // owner among live instances. Reference: a DatastreamTask is
    // exclusively owned via a ZK ephemeral lock node
    // (DatastreamTaskImpl.java:126-139 acquire/release, lock paths
    // ZkAdapter.java:123); a second live instance's acquire fails
    // rather than double-running the task. Spark shape: two
    // PipelineManagers live on one durable root; the loser's start()
    // throws PipelineLockedException BEFORE any StreamingQuery or
    // checkpoint touch exists (no double delivery is structural, and
    // the destination count proves it); the lock is MANAGER ownership,
    // not query activity — still held after the winner's query drains
    // — and only the winner's session end (close) makes it an orphan
    // the loser can reclaim. Epoch 1 lands only after the takeover, so
    // the loser's delivery continuing from the winner's checkpoint is
    // also pinned. Oracle is closed-form: lock-event literals plus
    // exactly-once corpus counts.
    "q65_manager_mutex" -> ((s, d) => gate(s, "q65") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destDir = g.dir("dest") + "/d"
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q65src")
      val m1 = g.track(new PipelineManager(s, ckptRoot, instance = "mgr1"))
      m1.create(PipelineSpec("q65p", "parquet", "parquet", srcDir,
        destinationConnection = destDir))
      // mgr2 joins the cluster AFTER the create (a new manager loads
      // the durable spec store) — BOTH are now live on the root
      val m2 = g.track(new PipelineManager(s, ckptRoot, instance = "mgr2"))
      val sawSpec = m2.get("q65p").isDefined
      val q1 = m1.start("q65p", identity)
      // loser: clean rejection, no second query
      val rejectedBy =
        try { m2.start("q65p", identity); "NONE" }
        catch { case e: PipelineLockedException => e.lockedBy }
      val loserHasQuery = m2.queryOf("q65p").isDefined
      q1.awaitTermination()
      // ownership is the MANAGER's, not the query's: the winner's
      // query has drained, the winner is still live — still locked
      val rejectedAfterDrain =
        try { m2.start("q65p", identity); "NONE" }
        catch { case e: PipelineLockedException => e.lockedBy }
      // winner's session ends; its lock is now an orphan
      m1.close()
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q65src")
      val tookOver =
        try { m2.start("q65p", identity).awaitTermination(); true }
        catch { case _: PipelineLockedException => false }
      val (n, nd) = g.delivered(destDir)
      g.kv(
        ("cluster", "loser_sees_spec", sawSpec),
        ("lock", "loser_rejected_by", rejectedBy),
        ("lock", "loser_has_query", loserHasQuery),
        ("lock", "rejected_after_drain_by", rejectedAfterDrain),
        ("lock", "takeover_after_close", tookOver),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // Destination-reuse fan-out — D1's RUNTIME half (SURVEY §4's CSE
    // analog). Create dedups a same-source BYOT spec into the
    // existing task group (prefix inherited, own destination kept);
    // startGroup then serves the WHOLE group from ONE StreamingQuery:
    // the shared source is read and checkpointed once per epoch and
    // each micro-batch fans to the group's distinct destinations
    // (reference: SourceBasedDeduper.java:66 finds the duplicate,
    // Coordinator.java:2406-2453 reuses destination AND tasks — here
    // the destinations differ, so the task sharing is the scan, the
    // 100 TB half). Two runs over the group checkpoint prove the
    // shared offsets survive restart: epoch 1 lands in both sinks
    // with no epoch-0 redelivery. Closed-form oracle: group facts are
    // literals (incl. BOTH managers' query handles being one object),
    // and each sink holds every click exactly once.
    "q66_dest_fanout" -> ((s, d) => gate(s, "q66") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val (destX, destY) = (g.dir("destX") + "/d", g.dir("destY") + "/d")
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q66src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q66a", "parquet", "parquet", srcDir,
        destinationConnection = destX))
      val bSpec = pm.create(PipelineSpec("q66b", "parquet", "parquet", srcDir,
        destinationConnection = destY))
      val bPrefix = bSpec.metadata
        .getOrElse(PipelineManager.TaskPrefixKey, "MISSING")
      val groupSize = pm.findGroup("q66a").size
      pm.startGroup("q66a", identity).awaitTermination()
      val sharedQuery = (pm.queryOf("q66a"), pm.queryOf("q66b")) match {
        case (Some(qa), Some(qb)) => (qa eq qb).toString
        case _ => "absent"
      }
      // epoch 1 after a group restart: the group checkpoint carries
      // the shared offsets — no epoch-0 redelivery in either sink
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q66src")
      pm.startGroup("q66a", identity).awaitTermination()
      val (xn, xd) = g.delivered(destX)
      val (yn, yd) = g.delivered(destY)
      g.kv(
        ("group", "b_prefix", bPrefix),
        ("group", "size", groupSize),
        ("group", "shared_query", sharedQuery),
        ("rows", "x_n", xn),
        ("rows", "x_distinct", xd),
        ("rows", "y_n", yn),
        ("rows", "y_distinct", yd))
    }),

    // HARD-crash lease failover — the case q64 (graceful close) and
    // q65 (live mutual exclusion) leave open: the owner dies WITHOUT
    // close(), so its registration file persists and only the
    // heartbeat lease can declare it dead. With livenessLeaseMs set,
    // a peer reclaims the stale owner's lock one lease after its last
    // heartbeat (simulated by aging the registration mod-time — never
    // by sleeping), the expired owner's own heartbeat refuses to
    // resurrect it (self-demotion signal), delivery continues from
    // the shared checkpoint exactly once, and a zombie of the crashed
    // manager is rejected by the new live owner. Reference contract:
    // ZK session timeout expiring a dead instance's ephemerals
    // (ZkAdapter.java liveinstance nodes; task locks die with the
    // session). Closed-form oracle: lease-event literals plus
    // exactly-once corpus counts.
    "q67_lease_failover" -> ((s, d) => gate(s, "q67") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destDir = g.dir("dest") + "/d"
      val rec = g.records(ckptRoot)
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q67src")
      val lease = 600000L // expiry below is SIMULATED, never slept for
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA",
        livenessLeaseMs = lease))
      mA.create(PipelineSpec("q67p", "parquet", "parquet", srcDir,
        destinationConnection = destDir))
      mA.start("q67p", identity).awaitTermination()
      // HARD CRASH: no close() — the registration file stays on
      // disk; age it one lease past its last heartbeat
      rec.touch(rec.instance("mgrA"), System.currentTimeMillis() - lease - 60000L)
      // the expired session cannot heartbeat itself back
      val selfDemoted = !mA.heartbeat()
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB",
        livenessLeaseMs = lease))
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q67src")
      val tookOver =
        try { mB.start("q67p", identity).awaitTermination(); true }
        catch { case _: PipelineLockedException => false }
      // a zombie of the crashed manager cannot re-take the pipeline
      val zombieRejectedBy =
        try { mA.start("q67p", identity); "NONE" }
        catch { case e: PipelineLockedException => e.lockedBy }
      val (n, nd) = g.delivered(destDir)
      g.kv(
        ("lease", "self_demoted", selfDemoted),
        ("lease", "takeover_after_expiry", tookOver),
        ("lease", "zombie_rejected_by", zombieRejectedBy),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // Per-member pause/resume INSIDE a running destination-reuse
    // group — the reference's default pause scope: force=false pauses
    // ONE datastream of a group and leaves its siblings flowing
    // (DatastreamResources.java:355-377 — `force ?
    // getGroupedDatastreams(datastream) : singletonList(datastream)`).
    // The group keeps running as ONE shared query; the paused
    // member's destination group diverts its epochs to a durable
    // epoch-marked holdback, the sibling's destination keeps
    // receiving, and resume replays the held epochs EXACTLY ONCE
    // through the same commit markers live delivery uses (a second
    // resume is a marker no-op — the crash-between-replay-and-cleanup
    // path). Closed-form oracle: status literals plus per-destination
    // delivered counts at every phase, derived from the click corpus
    // by epoch arithmetic (event_id mod 3 = the epoch).
    "q68_group_member_pause" -> ((s, d) => gate(s, "q68") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val (destX, destY) = (g.dir("destX") + "/d", g.dir("destY") + "/d")
      val epochOf = clickEpochs(s, d, 3L)
      def n(dest: String): Long = s.read.parquet(dest).count()
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q68src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q68a", "parquet", "parquet", srcDir,
        destinationConnection = destX))
      pm.create(PipelineSpec("q68b", "parquet", "parquet", srcDir,
        destinationConnection = destY))
      pm.startGroup("q68a", identity).awaitTermination()
      // default (force=false) pause scope: ONLY q68b
      pm.pause("q68b")
      val bStatus = pm.get("q68b").get.status
      val aStatus = pm.get("q68a").get.status
      // epoch 1 while b is paused: the SIBLING keeps receiving from
      // the still-shared query; b's epochs land in durable holdback
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q68src")
      pm.startGroup("q68a", identity).awaitTermination()
      val xMid = n(destX) // epochs 0+1
      val yMid = n(destY) // epoch 0 only — held, not dropped
      // resume replays the held epoch exactly once...
      pm.resume("q68b", identity)
      val yResumed = n(destY)
      // ...and a re-replay (crash between replay and cleanup) no-ops
      pm.resume("q68b", identity)
      val yResumedAgain = n(destY)
      // both members flow again
      PipelineManager.epochAppend(epochOf(2).coalesce(1), srcDir, 2, "q68src")
      pm.startGroup("q68a", identity).awaitTermination()
      val (xn, xd) = g.delivered(destX)
      val (yn, yd) = g.delivered(destY)
      g.kv(
        ("pause", "b_status", bStatus),
        ("pause", "a_status", aStatus),
        ("rows", "x_mid", xMid),
        ("rows", "y_mid", yMid),
        ("rows", "y_resumed", yResumed),
        ("rows", "y_resumed_again", yResumedAgain),
        ("rows", "x_n", xn),
        ("rows", "x_distinct", xd),
        ("rows", "y_n", yn),
        ("rows", "y_distinct", yd))
    }),

    // MID-RUN GROUP MEMBERSHIP CHANGE — the reference reassigns tasks
    // when a datastream is added (Coordinator.java:1434 →
    // handleLeaderDoAssignment :1680); the Spark analog is a
    // manager-driven restart of the group's shared query with the
    // widened membership, triggered by create()-on-a-running-group
    // (PipelineManager.rejoinRunningGroup). Contract under test: a
    // group of two runs a CONTINUOUS (ProcessingTime) shared query;
    // a third same-source member with its own destination is created
    // while it runs; after the automatic restart the new destination
    // receives from the first post-join epoch (nothing earlier), the
    // siblings see every epoch exactly once (group checkpoint +
    // commit markers across the restart), and the old query handle is
    // dead with a live replacement under the same group name. All
    // waits poll the engine's own commit log — never sleeps sized to
    // the work.
    "q71_group_rejoin" -> ((s, d) => gate(s, "q71") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val (destX, destY, destZ) =
        (g.dir("destX") + "/d", g.dir("destY") + "/d", g.dir("destZ") + "/d")
      val ckpt = g.records(ckptRoot).groupCheckpoint("q71a")
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q71src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q71a", "parquet", "parquet", srcDir,
        destinationConnection = destX))
      pm.create(PipelineSpec("q71b", "parquet", "parquet", srcDir,
        destinationConnection = destY))
      val q0 = pm.startGroup("q71a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      // epoch 0 fully COMMITTED (not just delivered) before the join
      // — so the restart deterministically resumes at epoch 1 and
      // the new member can never replay epoch 0
      g.awaitCommit(ckpt, 0)()
      pm.create(PipelineSpec("q71c", "parquet", "parquet", srcDir,
        destinationConnection = destZ))
      val restarted = !q0.isActive
      val newLive = s.streams.active.exists(q =>
        q.name == "group-q71a" && q.isActive)
      val zAtJoin = g.committed(destZ)
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q71src")
      g.awaitCommit(ckpt, 1)()
      g.await("post-join delivery to all three")(
        g.committed(destZ) > 0 && g.committed(destX) >= 2)
      pm.stop("q71a", force = true)
      val (xn, xd) = g.delivered(destX)
      val (yn, yd) = g.delivered(destY)
      val (zn, zd) = g.delivered(destZ)
      g.kv(
        ("join", "restarted", restarted),
        ("join", "new_query_live", newLive),
        ("join", "z_rows_at_join", zAtJoin),
        ("rows", "x_n", xn),
        ("rows", "x_distinct", xd),
        ("rows", "y_n", yn),
        ("rows", "y_distinct", yd),
        ("rows", "z_n", zn),
        ("rows", "z_distinct", zd))
    }),

    // MID-RUN MEMBERSHIP REMOVAL — q71's mirror: deleting a member of
    // a RUNNING group reassigns (restarts the shared query with the
    // narrowed fan-out from the group checkpoint), because stopping
    // the member's handle necessarily stops the one query serving the
    // whole group. The reference reassigns on datastream delete
    // through the same path as add. Contract under test: after
    // delete, the survivor's destination keeps receiving exactly
    // once, the deleted member's destination receives NOTHING after
    // its last pre-delete epoch, and the old handle is dead with a
    // live replacement.
    "q72_group_member_delete" -> ((s, d) => gate(s, "q72") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val (destX, destY) = (g.dir("destX") + "/d", g.dir("destY") + "/d")
      val ckpt = g.records(ckptRoot).groupCheckpoint("q72a")
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q72src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q72a", "parquet", "parquet", srcDir,
        destinationConnection = destX))
      pm.create(PipelineSpec("q72b", "parquet", "parquet", srcDir,
        destinationConnection = destY))
      val q0 = pm.startGroup("q72a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      g.awaitCommit(ckpt, 0)()
      pm.delete("q72b")
      val restarted = !q0.isActive
      val newLive = s.streams.active.exists(q =>
        q.name == "group-q72a" && q.isActive)
      val bGone = pm.get("q72b").isEmpty
      val yFilesAtDelete = g.committed(destY)
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q72src")
      g.awaitCommit(ckpt, 1)()
      g.await("post-delete delivery to the survivor")(g.committed(destX) >= 2)
      val yFilesAfter = g.committed(destY)
      pm.stop("q72a", force = true)
      val (xn, xd) = g.delivered(destX)
      val (yn, yd) = g.delivered(destY)
      g.kv(
        ("del", "restarted", restarted),
        ("del", "new_query_live", newLive),
        ("del", "b_gone", bGone),
        ("del", "y_frozen", yFilesAfter == yFilesAtDelete),
        ("rows", "x_n", xn),
        ("rows", "x_distinct", xd),
        ("rows", "y_n", yn),
        ("rows", "y_distinct", yd))
    }),

    // MID-RUN MEMBER UPDATE — the third membership-change direction
    // after q71 (create) and q72 (delete): a DELIVERY-RELEVANT update
    // (destination re-pointed) of a running group member triggers the
    // same manager-driven restart from the group checkpoint (the
    // reference validates AND reassigns on update —
    // DatastreamResources.java:410 → Coordinator.java:1680). Contract
    // under test: after update("q73b" -> destZ), the new destination
    // receives from the first post-update epoch (nothing earlier),
    // the OLD destination receives nothing further (frozen at its
    // pre-update files), the sibling sees every epoch exactly once
    // across the restart, and the old handle is dead with a live
    // replacement under the same group name. All waits poll the
    // engine's own commit log — never sleeps sized to the work.
    "q73_group_member_update" -> ((s, d) => gate(s, "q73") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val (destX, destY, destZ) =
        (g.dir("destX") + "/d", g.dir("destY") + "/d", g.dir("destZ") + "/d")
      val ckpt = g.records(ckptRoot).groupCheckpoint("q73a")
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q73src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q73a", "parquet", "parquet", srcDir,
        destinationConnection = destX))
      pm.create(PipelineSpec("q73b", "parquet", "parquet", srcDir,
        destinationConnection = destY))
      val q0 = pm.startGroup("q73a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      // epoch 0 fully COMMITTED before the update — the restart
      // deterministically resumes at epoch 1, so the new
      // destination can never replay epoch 0
      g.awaitCommit(ckpt, 0)()
      val yFilesAtUpdate = g.committed(destY)
      pm.update("q73b", PipelineSpec("q73b", "parquet", "parquet", srcDir,
        destinationConnection = destZ)): Unit
      val restarted = !q0.isActive
      val newLive = s.streams.active.exists(q =>
        q.name == "group-q73a" && q.isActive)
      val zAtUpdate = g.committed(destZ)
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q73src")
      g.awaitCommit(ckpt, 1)()
      g.await("post-update delivery to survivor and new dest")(
        g.committed(destZ) > 0 && g.committed(destX) >= 2)
      val yFilesAfter = g.committed(destY)
      pm.stop("q73a", force = true)
      val (xn, xd) = g.delivered(destX)
      val (yn, yd) = g.delivered(destY)
      val (zn, zd) = g.delivered(destZ)
      g.kv(
        ("upd", "restarted", restarted),
        ("upd", "new_query_live", newLive),
        ("upd", "z_rows_at_update", zAtUpdate),
        ("upd", "y_frozen", yFilesAfter == yFilesAtUpdate),
        ("rows", "x_n", xn),
        ("rows", "x_distinct", xd),
        ("rows", "y_n", yn),
        ("rows", "y_distinct", yd),
        ("rows", "z_n", zn),
        ("rows", "z_distinct", zd))
    }),

    // RUNNING-SOLO UPDATE — the fourth membership-change direction
    // (q71 create, q72 delete, q73 group-member update): a destination
    // re-point of a pipeline started with plain start() restarts ITS
    // OWN query from the per-name checkpoint (the reference reassigns
    // EVERY datastream on update — DatastreamResources.java:410 →
    // Coordinator.java:1680 — not only grouped ones; before q74 the
    // solo query kept delivering to the OLD destination forever while
    // the persisted spec claimed the new one). Contract under test:
    // after update("q74a" -> destZ), the old handle is dead with a
    // live replacement under the same name, the new destination
    // receives from the first post-update epoch (nothing earlier),
    // the old destination is frozen at its pre-update files, and the
    // two destinations partition the corpus exactly once. All waits
    // poll the engine's own commit log — never sleeps sized to work.
    "q74_solo_update" -> ((s, d) => gate(s, "q74") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val (destX, destZ) = (g.dir("destX") + "/d", g.dir("destZ") + "/d")
      val ckpt = g.records(ckptRoot).checkpoint("q74a")
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q74src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q74a", "parquet", "parquet", srcDir,
        destinationConnection = destX))
      val q0 = pm.start("q74a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      // epoch 0 fully COMMITTED before the update — the restart
      // deterministically resumes at epoch 1, so the new
      // destination can never replay epoch 0
      g.awaitCommit(ckpt, 0)()
      val xFilesAtUpdate = g.committed(destX)
      pm.update("q74a", PipelineSpec("q74a", "parquet", "parquet", srcDir,
        destinationConnection = destZ)): Unit
      val restarted = !q0.isActive
      val newLive = s.streams.active.exists(q =>
        q.name == "q74a" && q.isActive)
      val zAtUpdate = g.committed(destZ)
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q74src")
      // plus post-update delivery
      g.awaitCommit(ckpt, 1)(g.committed(destZ) > 0)
      val xFilesAfter = g.committed(destX)
      pm.stop("q74a")
      val (xn, xd) = g.delivered(destX)
      val (zn, zd) = g.delivered(destZ)
      g.kv(
        ("upd", "restarted", restarted),
        ("upd", "new_query_live", newLive),
        ("upd", "z_rows_at_update", zAtUpdate),
        ("upd", "x_frozen", xFilesAfter == xFilesAtUpdate),
        ("rows", "x_n", xn),
        ("rows", "x_distinct", xd),
        ("rows", "z_n", zn),
        ("rows", "z_distinct", zd))
    }),

    // DELIVERY-RELEVANT METADATA UPDATE (q75) — the update-reassign
    // contract beyond the destination field: the cdc transport's
    // delivery closure captures cdcKeyCols at start, so re-keying a
    // RUNNING pipeline through update() must restart its query or the
    // persisted spec and the live merge diverge silently (the
    // reference validates and reassigns on ANY update). Discriminating
    // assertion: epoch 0 merges under key (k1); after the mid-run
    // re-key to (k1,k2), epoch 1's rows — same k1 values, different
    // k2 — land as NEW rows (2N final state). Had the running query
    // kept the old closure, they would have REPLACED the epoch-0 rows
    // (N final). cdcBuckets is pinned to 1 in both specs: the bucket
    // function must not change shape mid-table (a re-key changes row
    // hashing; single-bucket state is layout-invariant under it).
    "q75_metadata_update" -> ((s, d) => gate(s, "q75") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destDir = g.dir("dest") + "/st"
      val ckpt = g.records(ckptRoot).checkpoint("q75a")
      val clicks = Tables.t(s, d, "events")
        .filter(col("event_type") === "click")
      def epochOf(e: Long): DataFrame = clicks.select(
        col("event_id").as("k1"), lit(e).as("k2"),
        lit(e + 1).as("scn"), lit("INSERT").as("op"),
        col("user_id").as("v"))
      def stateCount(): Long =
        CdcMerge.currentState(s, destDir).map(_.count()).getOrElse(0L)
      val metaV1 = Map("cdcKeyCols" -> "k1", "cdcScnCol" -> "scn",
        "cdcOpcodeCol" -> "op", "cdcBuckets" -> "1")
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q75src")
      val pm = g.track(new PipelineManager(s, ckptRoot))
      pm.create(PipelineSpec("q75a", "parquet", "cdc", srcDir,
        destinationConnection = destDir, metadata = metaV1))
      val q0 = pm.start("q75a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      g.awaitCommit(ckpt, 0)()
      val nAtUpdate = stateCount()
      // re-key mid-run: (k1) -> (k1, k2). Same destination — no
      // state moves, but the running query MUST restart to pick the
      // new merge key up (q75's whole point).
      pm.update("q75a", PipelineSpec("q75a", "parquet", "cdc", srcDir,
        destinationConnection = destDir,
        metadata = metaV1 + ("cdcKeyCols" -> "k1,k2"))): Unit
      val restarted = !q0.isActive
      val newLive = s.streams.active.exists(q =>
        q.name == "q75a" && q.isActive)
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q75src")
      g.awaitCommit(ckpt, 1)()
      // the merge runs inside the epoch's foreachBatch, so commit 1
      // implies the post-update state is installed
      val nFinal = stateCount()
      val k2Final = CdcMerge.currentState(s, destDir)
        .map(_.select(countDistinct(col("k2"))).head().getLong(0))
        .getOrElse(0L)
      pm.stop("q75a")
      g.kv(
        ("upd", "restarted", restarted),
        ("upd", "new_query_live", newLive),
        ("state", "n_at_update", nAtUpdate),
        ("state", "n_final", nFinal),
        ("state", "k2_distinct_final", k2Final))
    }),

    // CROSS-MANAGER UPDATE REASSIGNMENT (q76) — the fifth
    // membership-change direction (q71 create, q72 delete, q73 group
    // update, q74 solo update): a delivery-relevant update() made on
    // a manager that does NOT run the query (B) must reach the LIVE
    // manager that does (A). The reference reassigns via ZK watches
    // on every instance (Coordinator.java:824 onAssignmentChange ←
    // handleLeaderDoAssignment :1680); here B's update persists the
    // spec and writes a durable reassign-request that A's heartbeat
    // tick consumes — B restarts nothing and moves NO old-destination
    // state (doing so would migrate destX's epoch markers away while
    // A still delivers there, eroding the replay dedup). Contract
    // under test: after B.update, A's query is untouched and the
    // request is pending; B's own tick refuses it (A is live); A
    // consumes exactly one request, restarts its own query from the
    // shared checkpoint onto the new destination exactly-once; the
    // two destinations partition the corpus; a second consume is a
    // no-op. All waits poll the engine's own commit log.
    "q76_cross_manager_update" -> ((s, d) => gate(s, "q76") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val (destX, destZ) = (g.dir("destX") + "/d", g.dir("destZ") + "/d")
      val rec = g.records(ckptRoot)
      val epochOf = clickEpochs(s, d, 2L)
      def requestPending: Boolean = rec.list(rec.reassignDir, ".req").nonEmpty
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q76src")
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA"))
      mA.create(PipelineSpec("q76a", "parquet", "parquet", srcDir,
        destinationConnection = destX))
      val q0 = mA.start("q76a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      // epoch 0 fully COMMITTED before the update — the owner's
      // restart deterministically resumes at epoch 1, so the new
      // destination can never replay epoch 0
      g.awaitCommit(rec.checkpoint("q76a"), 0)()
      val xFilesAtUpdate = g.committed(destX)
      // manager B shares the durable root but runs nothing
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB"))
      mB.update("q76a", PipelineSpec("q76a", "parquet", "parquet", srcDir,
        destinationConnection = destZ)): Unit
      val peerUntouched = q0.isActive
      val pending = requestPending
      // B's own tick must refuse the request — A's lock is live
      val bConsume = mB.consumeReassignRequests()
      val zAtUpdate = g.committed(destZ)
      // the owner's tick (driven directly — same method the
      // autoHeartbeat timer calls) consumes it and restarts
      val consumed = mA.consumeReassignRequests()
      val restarted = !q0.isActive
      val newLive = s.streams.active.exists(q =>
        q.name == "q76a" && q.isActive)
      val reconsumed = mA.consumeReassignRequests()
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q76src")
      // plus post-update delivery
      g.awaitCommit(rec.checkpoint("q76a"), 1)(g.committed(destZ) > 0)
      val xFilesAfter = g.committed(destX)
      mA.stop("q76a")
      val (xn, xd) = g.delivered(destX)
      val (zn, zd) = g.delivered(destZ)
      g.kv(
        ("req", "peer_query_untouched", peerUntouched),
        ("req", "request_pending", pending),
        ("req", "b_consume_noop", bConsume),
        ("req", "z_rows_at_update", zAtUpdate),
        ("req", "consumed", consumed),
        ("req", "reconsumed", reconsumed),
        ("upd", "restarted", restarted),
        ("upd", "new_query_live", newLive),
        ("upd", "x_frozen", xFilesAfter == xFilesAtUpdate),
        ("rows", "x_n", xn),
        ("rows", "x_distinct", xd),
        ("rows", "z_n", zn),
        ("rows", "z_distinct", zd))
    }),

    // CROSS-MANAGER PAUSE + RESUME (q77) — the lifecycle-verb
    // extension of q76's routing: a pause issued on a manager that
    // does NOT run the query (B) must reach the LIVE manager that
    // does (A), and must mutate NOTHING until A enacts it — a local
    // status flip would lie (A's query keeps delivering against a
    // spec that reads Paused). The reference routes every datastream
    // state transition through the coordinator via ZK
    // (DatastreamResources.java:355-439 → Coordinator.java:824).
    // Contract under test: after B.pause the durable status still
    // reads Ready and A's query is untouched; B's own tick refuses
    // the request (A is live); A's tick enacts it — query stopped,
    // durable status Paused, the LOCK KEPT (pause keeps the
    // assignment); B's requestResume routes back the same way and A
    // restarts from its remembered run; delivery across the whole
    // round trip is exactly-once.
    "q77_cross_manager_pause" -> ((s, d) => gate(s, "q77") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destD = g.dir("dest") + "/d"
      val rec = g.records(ckptRoot)
      val epochOf = clickEpochs(s, d, 2L)
      def durableStatus(v: String): Boolean =
        rec.read(rec.spec("q77a"))(b => Some(new String(b, "UTF-8")))
          .toOption.exists(_.contains(s""""status":"$v""""))
      def requestPending: Boolean = rec.list(rec.lifecycleDir, ".req").nonEmpty
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q77src")
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA"))
      mA.create(PipelineSpec("q77a", "parquet", "parquet", srcDir,
        destinationConnection = destD))
      val q0 = mA.start("q77a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      g.awaitCommit(rec.checkpoint("q77a"), 0)()
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB"))
      mB.pause("q77a")
      // routed verb mutated NOTHING: truthful status, live query
      val peerActive = q0.isActive
      val statusTruthful = durableStatus("Ready")
      val pending = requestPending
      val bConsume = mB.consumeLifecycleRequests()
      val aConsume = mA.consumeLifecycleRequests()
      val pausedStopped = !q0.isActive
      val pausedDurable = durableStatus("Paused")
      // pause keeps the assignment AND the lock with the owner
      val lockKept = g.exists(rec.lock("q77a"))
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q77src")
      // the return leg: resume routed from B, enacted by A from its
      // remembered run (no transform crosses managers)
      mB.requestResume("q77a")
      val resumePending = requestPending
      val aConsume2 = mB.queryOf("q77a").isEmpty &&
        mA.consumeLifecycleRequests() == 1
      // after the resume
      g.awaitCommit(rec.checkpoint("q77a"), 1)(g.committed(destD) > 0)
      val resumedLive = mA.queryOf("q77a").exists(_.isActive)
      val readyDurable = durableStatus("Ready")
      mA.stop("q77a")
      val (n, nd) = g.delivered(destD)
      g.kv(
        ("req", "peer_query_untouched", peerActive),
        ("req", "status_truthful_until_enacted", statusTruthful),
        ("req", "request_pending", pending),
        ("req", "b_consume_noop", bConsume),
        ("req", "a_consumed", aConsume),
        ("pause", "query_stopped", pausedStopped),
        ("pause", "status_paused_durable", pausedDurable),
        ("pause", "lock_kept", lockKept),
        ("resume", "request_pending", resumePending),
        ("resume", "owner_enacted", aConsume2),
        ("resume", "query_live", resumedLive),
        ("resume", "status_ready_durable", readyDurable),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // CROSS-MANAGER STOP + TAKEOVER (q78) — stop routed like q77's
    // pause, but stop RELEASES the lock (the reference's
    // STOPPING→STOPPED frees the task assignment,
    // DatastreamResources.java:462-546): once the owner enacts it,
    // the requestor itself may acquire the freed task and continue
    // from the SHARED checkpoint — exactly-once across the handoff.
    "q78_cross_manager_stop" -> ((s, d) => gate(s, "q78") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destD = g.dir("dest") + "/d"
      val rec = g.records(ckptRoot)
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q78src")
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA"))
      mA.create(PipelineSpec("q78a", "parquet", "parquet", srcDir,
        destinationConnection = destD))
      val q0 = mA.start("q78a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      g.awaitCommit(rec.checkpoint("q78a"), 0)()
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB"))
      mB.stop("q78a")
      val peerActive = q0.isActive
      val bConsume = mB.consumeLifecycleRequests()
      val aConsume = mA.consumeLifecycleRequests()
      val stopped = !q0.isActive
      // stop releases the task back to the pool: the lock is GONE
      val lockReleased = !g.exists(rec.lock("q78a"))
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q78src")
      // the freed task moves: B acquires it and resumes from the
      // SHARED checkpoint — epoch 0 never replays, epoch 1 delivers
      mB.resume("q78a", identity).awaitTermination()
      val takenOver = mB.queryOf("q78a").isDefined
      val (n, nd) = g.delivered(destD)
      g.kv(
        ("req", "peer_query_untouched", peerActive),
        ("req", "b_consume_noop", bConsume),
        ("req", "a_consumed", aConsume),
        ("stop", "query_stopped", stopped),
        ("stop", "lock_released", lockReleased),
        ("stop", "taken_over_by_requestor", takenOver),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // CROSS-MANAGER DELETE (q79) — the one routed verb that is
    // outright DESTRUCTIVE when mis-enacted: the local delete body
    // removes the per-name checkpoint directory, and before this
    // routing a non-owner delete removed it out from under the
    // peer's LIVE query. Contract under test: after B.delete NOTHING
    // is destroyed (A's query live, checkpoint and spec file intact,
    // request pending); A's tick enacts the full deletion — query
    // stopped, spec gone, checkpoint gone — while the DELIVERED data
    // at the destination is untouched; a second consume is a no-op.
    "q79_cross_manager_delete" -> ((s, d) => gate(s, "q79") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destD = g.dir("dest") + "/d"
      val rec = g.records(ckptRoot)
      val ckpt = rec.checkpoint("q79a")
      def specExists: Boolean = g.exists(rec.spec("q79a"))
      PipelineManager.epochAppend(clickEpochs(s, d, 2L)(0).coalesce(1),
        srcDir, 0, "q79src")
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA"))
      mA.create(PipelineSpec("q79a", "parquet", "parquet", srcDir,
        destinationConnection = destD))
      val q0 = mA.start("q79a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      g.awaitCommit(ckpt, 0)(g.committed(destD) > 0)
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB"))
      mB.delete("q79a")
      // nothing destroyed until the OWNER enacts
      val peerActive = q0.isActive
      val ckptIntact = g.exists(ckpt)
      val specIntact = specExists
      val bConsume = mB.consumeLifecycleRequests()
      val aConsume = mA.consumeLifecycleRequests()
      val stopped = !q0.isActive
      val specGone = !specExists
      val ckptGone = !g.exists(ckpt)
      val reconsumed = mA.consumeLifecycleRequests()
      // the DELIVERED data outlives the pipeline (delete removes
      // engine state, never the destination's committed output)
      val (n, nd) = g.delivered(destD)
      g.kv(
        ("req", "peer_query_untouched", peerActive),
        ("req", "ckpt_intact_until_enacted", ckptIntact),
        ("req", "spec_intact_until_enacted", specIntact),
        ("req", "b_consume_noop", bConsume),
        ("req", "a_consumed", aConsume),
        ("del", "query_stopped", stopped),
        ("del", "spec_gone", specGone),
        ("del", "ckpt_gone", ckptGone),
        ("del", "reconsumed_noop", reconsumed),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // SPEC RECONCILIATION (q80) — the ZK-watch stand-in that makes
    // the routed verbs (q77–q79) USABLE in a multi-manager
    // deployment: a manager constructed BEFORE a peer's create must
    // DISCOVER the spec on its reconcile tick (else authorizeLifecycle
    // says unknown pipeline and no verb can target it), must REFRESH
    // an unowned entry when the owner's enacted flip moves the spec
    // file (else its list()/get() lie forever), and must SWEEP the
    // entry once the spec is positively gone durably — on the SECOND
    // consecutive absent tick, never the first (create() registers
    // in-memory before its persist lands). Reference: every instance
    // observes datastream changes via ZK watches
    // (Coordinator.java:824); here the heartbeat tick reconciles.
    "q80_spec_reconcile" -> ((s, d) => gate(s, "q80") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destD = g.dir("dest") + "/d"
      val ckpt = g.records(ckptRoot).checkpoint("q80a")
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q80src")
      // B exists FIRST: the later create is invisible to it until
      // its reconcile tick discovers the durable spec
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB"))
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA"))
      mA.create(PipelineSpec("q80a", "parquet", "parquet", srcDir,
        destinationConnection = destD))
      val q0 = mA.start("q80a", identity,
        Trigger.ProcessingTime("50 milliseconds"))
      g.awaitCommit(ckpt, 0)()
      val invisible = mB.get("q80a").isEmpty
      mB.reconcileSpecs()
      // a live peer executes it: adopted verbatim as Ready
      val discovered = mB.get("q80a").exists(_.status == PipelineStatus.Ready)
      // the discovery is what makes the routed verb reachable at all
      mB.pause("q80a")
      val aConsumed = mA.consumeLifecycleRequests()
      val enacted = !q0.isActive
      // the owner's enacted flip moved the spec file: B's next tick
      // refreshes the unowned entry to the truthful Paused
      mB.reconcileSpecs()
      val refreshed = mB.get("q80a").exists(_.status == PipelineStatus.Paused)
      // the return leg, then drain the corpus for the closed form
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q80src")
      mB.requestResume("q80a")
      val resumed = mA.consumeLifecycleRequests() == 1
      // after the resume
      g.awaitCommit(ckpt, 1)(g.committed(destD) > 0)
      mA.stop("q80a")
      mA.delete("q80a")
      // the sweep needs TWO consecutive positively-absent ticks
      mB.reconcileSpecs()
      val gracedFirstTick = mB.get("q80a").isDefined
      mB.reconcileSpecs()
      val sweptSecondTick = mB.get("q80a").isEmpty
      val (n, nd) = g.delivered(destD)
      g.kv(
        ("rec", "invisible_before_tick", invisible),
        ("rec", "discovered_ready", discovered),
        ("req", "routed_verb_reachable", aConsumed),
        ("req", "enacted", enacted),
        ("rec", "refreshed_to_paused", refreshed),
        ("req", "resume_consumed", resumed),
        ("rec", "sweep_graced_first_tick", gracedFirstTick),
        ("rec", "swept_second_tick", sweptSecondTick),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // ROUTED RESUME SURVIVES THE OWNER'S CRASH (q81) — the one
    // lifecycle verb q77-q79 could not route across a DEAD owner:
    // restarting needs the transform, and a closure dies with the
    // owner's JVM. With the transform declared IN THE SPEC (catalog
    // name + params in metadata, trigger in metadata — the
    // reference's the-spec-is-data property: any instance
    // materializes an assigned task from the ZK-stored Datastream,
    // Coordinator.java:920 → AbstractKafkaConnector.java:152), a
    // surviving manager that never saw the owner's run enacts the
    // orphaned resume-request from the spec alone and continues from
    // the SHARED checkpoint exactly-once. Contract under test: the
    // catalog resolves the spec on both managers; the resume routes
    // (not enacts) while the owner lives; the owner's crash (lease
    // expiry) entitles the survivor, whose tick consumes the SAME
    // request file and restarts with the catalog transform + declared
    // trigger, reclaiming the orphan lock; epoch 0 (delivered by the
    // owner) is not redelivered.
    "q81_catalog_resume_after_crash" -> ((s, d) => gate(s, "q81") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destD = g.dir("dest") + "/d"
      val rec = g.records(ckptRoot)
      val epochOf = clickEpochs(s, d, 2L)
      // the shared catalog: one PARAMETERIZED transform both
      // managers' hooks carry — params ride the spec's metadata
      val catalog = PipelineHooks(transforms = Map(
        "userMod" -> (md => df =>
          df.filter(pmod(col("user_id"),
            lit(md("transform.mod").toLong)) === 0))))
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q81src")
      val lease = 600000L // expiry below is SIMULATED, never slept for
      val mA = g.track(new PipelineManager(s, ckptRoot, catalog,
        instance = "mgrA", livenessLeaseMs = lease))
      val spec = mA.create(PipelineSpec("q81a", "parquet", "parquet", srcDir,
        destinationConnection = destD,
        metadata = Map(
          PipelineManager.TransformKey -> "userMod",
          "transform.mod" -> "2",
          PipelineManager.TriggerKey -> "processingTime:50")))
      // the owner itself materializes from the spec — no BYO closure
      // anywhere in this gate
      val resolved = mA.resolveTransform(spec).isDefined
      mA.start("q81a", mA.resolveTransform(spec).get,
        PipelineManager.specTrigger(spec))
      g.awaitCommit(rec.checkpoint("q81a"), 0)()
      mA.pause("q81a") // query stopped, durable Paused, lock KEPT by A
      val mB = g.track(new PipelineManager(s, ckptRoot, catalog,
        instance = "mgrB", livenessLeaseMs = lease))
      // resume from B while A LIVES: must route, not enact — A holds
      // the lock and only A could restart cheaply from its memory
      mB.requestResume("q81a")
      val routed = rec.list(rec.lifecycleDir, ".req").nonEmpty
      val bNoopWhileLive = mB.consumeLifecycleRequests()
      // HARD CRASH of the owner: no close(); age the registration
      // one lease past its last heartbeat (q67's simulation)
      rec.touch(rec.instance("mgrA"), System.currentTimeMillis() - lease - 60000L)
      val ownerExpired = !mA.heartbeat()
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q81src")
      // the survivor never ran the pipeline: nothing remembered
      val noRunRemembered = mB.queryOf("q81a").isEmpty
      // its tick consumes the ORPHANED request and restarts from the
      // spec alone (catalog transform, declared trigger), from the
      // shared checkpoint
      val consumed = mB.consumeLifecycleRequests()
      val restarted = mB.queryOf("q81a").exists(_.isActive)
      // after the catalog resume
      g.awaitCommit(rec.checkpoint("q81a"), 1)(g.committed(destD) > 0)
      // the restart reclaimed the dead owner's lock
      val relocked = rec.fields(rec.lock("q81a")).toOption.exists(_.contains("mgrB"))
      mB.stop("q81a")
      val (n, nd) = g.delivered(destD)
      g.kv(
        ("cat", "catalog_resolves_spec", resolved),
        ("req", "routed_while_owner_live", routed),
        ("req", "b_consume_noop_while_live", bNoopWhileLive),
        ("crash", "owner_lease_expired", ownerExpired),
        ("res", "no_run_remembered_on_survivor", noRunRemembered),
        ("res", "survivor_consumed", consumed),
        ("res", "restarted_from_spec_alone", restarted),
        ("res", "relocked_by_survivor", relocked),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // CATALOG UPDATE-REASSIGN (q82) — closes the contract hole q81
    // opened: the transform recipe (metadata "transform", the
    // reserved "transform.*" params slice, "graft.trigger") is
    // delivery-relevant (DeliveryRelevantMetadataKeys +
    // TransformParamsPrefix), so updating a RUNNING catalog
    // pipeline's params restarts its query with the NEW recipe
    // re-materialized from the UPDATED spec — never the remembered
    // closure that captured the old params (reassignUpdatedMember's
    // runThunk). Reference analog: the coordinator reassigns every
    // datastream on update, re-materializing the task from the new
    // ZK spec (Coordinator.java:920 handleAssignmentChange,
    // AbstractKafkaConnector.java:152). Four recipes partition the
    // corpus by epoch: mod 2 at create, mod 3 by a local owner
    // update, mod 5 by a cross-manager update (the q76 routed path,
    // which shares the same predicate and restart), mod 7 persisted
    // while PAUSED and enacted by a survivor's routed resume after
    // the owner's CRASH — the fuzz half: the resume must enact the
    // PERSISTED recipe, with no silent switch to any earlier one.
    // Exactly-once throughout: each event delivered by exactly the
    // recipe live at its epoch.
    "q82_catalog_update_reassign" -> ((s, d) => gate(s, "q82") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destD = g.dir("dest") + "/d"
      val rec = g.records(ckptRoot)
      val mods = Array(2L, 3L, 5L, 7L)
      val epochOf = clickEpochs(s, d, 4L)
      // expected cumulative delivery through epoch e — each epoch
      // filtered by the recipe live when it was delivered
      val expAt = mods.indices.map(e =>
        epochOf(e).filter(pmod(col("user_id"), lit(mods(e))) === 0)
          .count()).scanLeft(0L)(_ + _).tail
      def delivered(): Long =
        try s.read.parquet(destD).count()
        catch { case _: Throwable => 0L }
      val catalog = PipelineHooks(transforms = Map(
        "userMod" -> (md => df =>
          df.filter(pmod(col("user_id"),
            lit(md("transform.mod").toLong)) === 0))))
      def specWith(mod: Long) = PipelineSpec("q82a", "parquet", "parquet",
        srcDir, destinationConnection = destD,
        metadata = Map(
          PipelineManager.TransformKey -> "userMod",
          "transform.mod" -> mod.toString,
          PipelineManager.TriggerKey -> "processingTime:50"))
      def requestPending: Boolean = rec.list(rec.reassignDir, ".req").nonEmpty
      val lease = 600000L // expiry below is SIMULATED, never slept for
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q82src")
      val mA = g.track(new PipelineManager(s, ckptRoot, catalog,
        instance = "mgrA", livenessLeaseMs = lease))
      val spec0 = mA.create(specWith(2))
      val q0 = mA.start("q82a", mA.resolveTransform(spec0).get,
        PipelineManager.specTrigger(spec0))
      g.await("epoch 0 delivered")(delivered() == expAt(0))
      // ---- local owner update: params change restarts the query
      // with the recipe re-materialized from the UPDATED spec ----
      mA.update("q82a", specWith(3)): Unit
      val localRestart = !q0.isActive
      val localNewLive = mA.queryOf("q82a").exists(_.isActive)
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q82src")
      g.await("epoch 1 delivered by updated recipe")(delivered() == expAt(1))
      // ---- cross-manager update (q76 path, same predicate): B
      // persists the new recipe and routes; A's tick enacts ----
      val mB = g.track(new PipelineManager(s, ckptRoot, catalog,
        instance = "mgrB", livenessLeaseMs = lease))
      mB.update("q82a", specWith(5)): Unit
      val routed = requestPending
      val bNoopWhileLive = mB.consumeReassignRequests()
      val ownerConsumed = mA.consumeReassignRequests()
      PipelineManager.epochAppend(epochOf(2).coalesce(1), srcDir, 2, "q82src")
      g.await("epoch 2 delivered by routed recipe")(delivered() == expAt(2))
      // ---- the fuzz half: persist a NEW recipe while PAUSED, then
      // CRASH the owner — the survivor's routed resume must enact
      // the PERSISTED recipe (mod 7), never a remembered one ----
      mA.pause("q82a") // query stopped, durable Paused, lock KEPT by A
      mB.reconcileSpecs() // B adopts the truthful Paused baseline
      mB.update("q82a", specWith(7)): Unit
      val pausedRouted = requestPending
      // HARD CRASH of the owner: no close(); age the registration
      // one lease past its last heartbeat (q67's simulation)
      rec.touch(rec.instance("mgrA"), System.currentTimeMillis() - lease - 60000L)
      val ownerExpired = !mA.heartbeat()
      // the orphaned reassign-request is consumable now (paused: no
      // query to restart; the persisted recipe already stands)
      val orphanConsumed = mB.consumeReassignRequests()
      PipelineManager.epochAppend(epochOf(3).coalesce(1), srcDir, 3, "q82src")
      mB.requestResume("q82a")
      val resumed = mB.queryOf("q82a").exists(_.isActive)
      g.await("epoch 3 delivered by persisted recipe")(delivered() == expAt(3))
      mB.stop("q82a")
      val (n, nd) = g.delivered(destD)
      g.kv(
        ("upd", "local_param_restart", localRestart),
        ("upd", "local_new_query_live", localNewLive),
        ("upd", "cross_manager_routed", routed),
        ("upd", "b_consume_noop_while_owner_live", bNoopWhileLive),
        ("upd", "owner_consumed", ownerConsumed),
        ("upd", "paused_update_routed", pausedRouted),
        ("crash", "owner_lease_expired", ownerExpired),
        ("res", "orphan_reassign_consumed", orphanConsumed),
        ("res", "survivor_resumed_persisted_recipe", resumed),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // Heartbeat-driven self-demotion — the RUNTIME half of the q67
    // lease contract: nothing external tells the expired manager to
    // stand down; its OWN scheduled heartbeat (interval = lease/4)
    // observes the unconfirmable lease and demotes the instance —
    // stopping its queries WITHOUT releasing locks (a reclaimer may
    // own them), flipping its specs in memory, refusing further
    // starts. Reference contract: ZK session expiry propagating into
    // Coordinator.onSessionExpired (Coordinator.java:705,783). The
    // expiry is SIMULATED by aging the registration mod-time; the
    // test waits only for the 50 ms timer tick, never for a lease.
    "q69_heartbeat_demotion" -> ((s, d) => gate(s, "q69") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destDir = g.dir("dest") + "/d"
      val rec = g.records(ckptRoot)
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q69src")
      val lease = 600000L // expiry below is SIMULATED, never slept for
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA",
        livenessLeaseMs = lease, autoHeartbeat = true,
        heartbeatIntervalMs = 50L))
      mA.create(PipelineSpec("q69p", "parquet", "parquet", srcDir,
        destinationConnection = destDir))
      mA.start("q69p", identity).awaitTermination()
      val liveBeforeExpiry = !mA.isDemoted
      // hard-expire the lease; the manager's own timer must react.
      // Re-age every iteration: a heartbeat tick's check-then-touch
      // is not atomic, so a single aging write can land between a
      // tick's freshness read and its setTimes refresh and be
      // overwritten — re-applying the aged mod-time until the timer
      // reacts converges regardless of that interleaving.
      // 90 s: the timer reacts in well under a second unloaded, but
      // the driver's bench window runs gates under load and the
      // aging write must land inside a tick's check-then-touch gap
      val deadline = System.currentTimeMillis() + 90000L
      while (!mA.isDemoted && System.currentTimeMillis() < deadline) {
        rec.touch(rec.instance("mgrA"),
          System.currentTimeMillis() - lease - 60000L)
        Thread.sleep(20L)
      }
      val selfDemoted = mA.isDemoted
      val startRefused =
        try { mA.start("q69p", identity); "NONE" }
        catch { case _: IllegalStateException => "refused" }
      // the lock is NOT released — it belongs to the reclaim path
      val lockKept = g.exists(rec.lock("q69p"))
      // failover: a live peer reclaims and delivers epoch 1 exactly
      // once from the shared checkpoint
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q69src")
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB",
        livenessLeaseMs = lease))
      val tookOver =
        try { mB.start("q69p", identity).awaitTermination(); true }
        catch { case _: PipelineLockedException => false }
      val (n, nd) = g.delivered(destDir)
      g.kv(
        ("lease", "live_before_expiry", liveBeforeExpiry),
        ("lease", "self_demoted_by_timer", selfDemoted),
        ("lease", "demoted_start", startRefused),
        ("lease", "lock_kept_for_reclaimer", lockKept),
        ("lease", "takeover", tookOver),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // Planned task handover between two LIVE managers — the third leg
    // of the ownership trio (q65 = contention, q67/q69 = crash/lease
    // failover, q70 = graceful migration): the reference's rebalance
    // moves a task by having the old instance release it and the new
    // instance acquire it (Coordinator.java task (un)assignment via
    // ZkAdapter ephemerals). Here: mgrA delivers epoch 0, stop()
    // releases the durable lock (resources returned to the pool),
    // mgrB — constructed against the same durable root — acquires the
    // released lock and RESUMES THE SAME per-name checkpoint, so it
    // delivers epoch 1 only (no redelivery of A's epoch). While B
    // runs, A's restart attempt is fenced by B's lock. Closed-form
    // oracle: lock/handover facts are literals; exactly-once across
    // the handover means the destination equals the click corpus.
    "q70_graceful_handover" -> ((s, d) => gate(s, "q70") { g =>
      val (ckptRoot, srcDir) = (g.dir("pm"), g.dir("src"))
      val destDir = g.dir("dest") + "/d"
      val lockPath = g.records(ckptRoot).lock("q70p")
      val epochOf = clickEpochs(s, d, 2L)
      PipelineManager.epochAppend(epochOf(0).coalesce(1), srcDir, 0, "q70src")
      val mA = g.track(new PipelineManager(s, ckptRoot, instance = "mgrA"))
      mA.create(PipelineSpec("q70p", "parquet", "parquet", srcDir,
        destinationConnection = destDir))
      mA.start("q70p", identity).awaitTermination()
      val heldWhileRunning = g.exists(lockPath)
      // planned drain: stop releases the lock — the task returns to
      // the pool for any live peer (contrast q67, where only lease
      // EXPIRY frees a crashed owner's lock)
      mA.stop("q70p")
      val releasedAfterStop = !g.exists(lockPath)
      val mB = g.track(new PipelineManager(s, ckptRoot, instance = "mgrB"))
      PipelineManager.epochAppend(epochOf(1).coalesce(1), srcDir, 1, "q70src")
      val tookOver =
        try { mB.start("q70p", identity).awaitTermination(); true }
        catch { case _: PipelineLockedException => false }
      // the old owner is fenced while the new owner holds the task
      val oldOwnerFencedBy =
        try { mA.start("q70p", identity); "NONE" }
        catch { case e: PipelineLockedException => e.lockedBy }
      val (n, nd) = g.delivered(destDir)
      g.kv(
        ("lock", "held_while_running", heldWhileRunning),
        ("lock", "released_after_stop", releasedAfterStop),
        ("lock", "takeover_after_release", tookOver),
        ("lock", "old_owner_fenced_by", oldOwnerFencedBy),
        ("rows", "n", n),
        ("rows", "n_distinct", nd))
    }),

    // §2.10: the full SPI lifecycle through PipelineManager — every
    // pluggable hook fires and every state transition lands where the
    // reference's Coordinator would put it: Authorizer rejects an
    // unauthorized create (api/security/Authorizer.java), the
    // source-based deduper (SourceBasedDeduper.java:66) folds a
    // same-source stream into the existing group (D1), a registered
    // custom transport carries delivery, and create → pause → resume
    // → delete emits the Ready/Paused/Ready/Deleting sequence
    // (postDatastreamStateChangeAction). The oracle is the closed
    // form of all of it.
    "q62_spi_lifecycle" -> ((s, d) => gate(s, "q62") { g =>
      import scala.jdk.CollectionConverters._
      val transitions =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val delivered = new java.util.concurrent.atomic.AtomicLong(0L)
      val hooks = PipelineHooks(
        authorize = (_, owner) => owner != "mallory",
        onStateChange = (n, st) => { transitions.add(n -> st.toString); () },
        transports = Map("list" -> (_ => (batch, _) => {
          delivered.addAndGet(batch.count()); ()
        })))
      val pm = g.track(new PipelineManager(s, g.dir("pm"), hooks))
      val authRejected =
        try { pm.create(PipelineSpec("q62x", "synthetic", "list", "100"),
          owner = "mallory"); false }
        catch { case _: IllegalArgumentException => true }
      pm.create(PipelineSpec("q62a", "synthetic", "list", "600",
        metadata = Map("batchSize" -> "250", "numPartitions" -> "4",
          "payloadSize" -> "32")))
      // D1: same source ⇒ q62b joins q62a's task group
      val b = pm.create(PipelineSpec("q62b", "synthetic", "list", "600"))
      val bPrefix = b.metadata(PipelineManager.TaskPrefixKey)
      val groupSize = pm.findGroup("q62a").size
      pm.start("q62a", identity).awaitTermination()
      pm.pause("q62a")
      pm.resume("q62a", identity).awaitTermination()
      // stop is DISTINCT from pause (STOPPING → STOPPED, resources
      // released); a stopped stream still resumes from durable state
      pm.stop("q62a")
      pm.resume("q62a", identity).awaitTermination()
      pm.delete("q62a")
      pm.close()
      val stateRows = transitions.asScala.toSeq.filter(_._1 == "q62a")
        .zipWithIndex.map { case ((_, st), i) => ("state", s"q62a:$i", st) }
      g.kv(stateRows ++ Seq(
        ("rows", "delivered", delivered.get()),
        ("validate", "unauthorized_rejected", authRejected),
        ("dedup", "q62b_prefix", bPrefix),
        ("dedup", "group_size", groupSize)): _*)
    }),

    // Stream-static enrichment: every event joined to a broadcast
    // dimension snapshot — stateless, so the streaming result equals
    // the batch join (the enrich step of T1 against a lookup table).
    "s07_stream_static_enrich" -> ((s, d) => {
      val dim = Tables.t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      runToTable("s07",
        eventsStream(s, d)
          .select(col("event_id"), col("user_id"))
          .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
          .select(col("event_id"), col("user_id"),
            col("c_mktsegment").as("segment")),
        mode = "append")
    }))

  /** Epoch-unrolled band-index admission closed form, shared by s15
    * (flat durable index) and s30 (the same semantics riding the
    * tiered EpochPartitionedStore — the storage layer is the ONLY
    * difference, so one oracle pins both). Bootstrap corpus =
    * MOD(doc, 5) < 2; streamed buckets 2..4; per epoch: verdicts
    * against the index as of the epoch, admissions exclude index
    * collisions AND intra-batch lower-id band collisions. */
  private lazy val bandAdmissionOracle: String = {
    val prefix =
      s"""WITH ${DataOpsQueries.wordsCte}, ${DataOpsQueries.shinglesCte},
         |${DataOpsQueries.minhashSigCte(16)}, ${DataOpsQueries.bandsCte(4)},
         |corpus0 AS (SELECT doc AS corpus_doc, band, bh FROM bands
         |WHERE MOD(doc, 5) < 2)""".stripMargin
    val perBatch = (2 until 5).map { b =>
      val i = b - 2
      s""",
         |b$b AS (SELECT doc, band, bh FROM bands WHERE MOD(doc, 5) = $b),
         |d$b AS (SELECT doc_id AS doc FROM documents
         |WHERE MOD(doc_id, 5) = $b),
         |h$b AS (SELECT b.doc, COUNT(DISTINCT c.corpus_doc) AS n_dups,
         |MIN(c.corpus_doc) AS first_dup
         |FROM b$b b JOIN corpus$i c ON c.band = b.band AND c.bh = b.bh
         |GROUP BY b.doc),
         |v$b AS (SELECT d.doc, COALESCE(h.n_dups, 0) AS n_dups,
         |COALESCE(h.first_dup, -1) AS first_dup
         |FROM d$b d LEFT JOIN h$b h ON h.doc = d.doc),
         |clean$b AS (SELECT b.doc, b.band, b.bh FROM b$b b
         |JOIN v$b v ON v.doc = b.doc AND v.n_dups = 0),
         |adm$b AS (SELECT doc AS corpus_doc, band, bh FROM clean$b
         |WHERE doc NOT IN (SELECT DISTINCT a.doc FROM clean$b a
         |JOIN clean$b e ON e.band = a.band AND e.bh = a.bh
         |AND e.doc < a.doc)),
         |corpus${i + 1} AS (SELECT * FROM corpus$i
         |UNION ALL SELECT * FROM adm$b)""".stripMargin
    }.mkString
    val tail =
      """
        |SELECT doc, n_dups, first_dup FROM v2
        |UNION ALL SELECT doc, n_dups, first_dup FROM v3
        |UNION ALL SELECT doc, n_dups, first_dup FROM v4""".stripMargin
    (prefix + perBatch + tail).replace("\n", " ")
  }

  private val oracles0: Map[String, String] = Map(
    "s01_stream_mirror" -> BrooklinQueries.oracles("q02_mirror_translate"),
    "s02_stream_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_total
        |FROM events GROUP BY event_type""".stripMargin.replace("\n", " "),

    // Append-mode finalization: window emitted iff window_end <= final
    // watermark (= MAX(ts) at 0-second delay).
    "s03_windowed_watermark" ->
      """SELECT date_trunc('hour', ts) AS win, event_type, COUNT(*) AS n
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT MAX(ts) FROM events)
        |GROUP BY 1, 2""".stripMargin.replace("\n", " "),

    "s04_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |AND c.event_type = 'click' AND p.event_type = 'purchase'
        |AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"""
        .stripMargin.replace("\n", " "),

    "s05_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // Gaps-and-islands sessionization; sessions whose end (last event
    // + gap) exceeds the final watermark are still open → excluded.
    "s06_session_window" ->
      """WITH o AS (SELECT user_id, ts,
        |CASE WHEN LAG(ts) OVER w IS NULL
        |OR ts - LAG(ts) OVER w > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS brk
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, SUM(brk) OVER
        |(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, MIN(ts) AS session_start,
        |MAX(ts) + INTERVAL 1 HOUR AS session_end, COUNT(*) AS n
        |FROM g GROUP BY user_id, sid
        |HAVING MAX(ts) + INTERVAL 1 HOUR <= (SELECT MAX(ts) FROM events)"""
        .stripMargin.replace("\n", " "),

    "s07_stream_static_enrich" ->
      """SELECT event_id, user_id, c_mktsegment AS segment
        |FROM events LEFT JOIN customer ON user_id = c_custkey"""
        .stripMargin.replace("\n", " "),

    // Batch-by-batch replay of the join state machine under the
    // DEFAULT AvailableNow schedule, where each run's trailing no-data
    // micro-batch persists the watermark advanced by that run's own
    // data AND sweeps state with it (verified empirically: with
    // noDataMicroBatches off, the watermark lags one batch and the
    // output diverges — see NoDataBatchContractSpec). wmt.b = the
    // watermark batch b is planned under (min over sides of the
    // ms-truncated max event time of batches < b, minus the 30-minute
    // allowance; NULL for batch 0). Rules: (1) a batch-b input row is
    // admitted iff ts >= wmt[b]; (2) a pair emits iff both admitted AND
    // the earlier side survived every sweep before the later side's
    // batch — the strongest being the trailing sweep of the previous
    // run, at wmt[later side's batch] (clicks survive while
    // cts + 1h >= w, purchases while pts >= w; same-batch pairs are
    // always co-present); (3) an admitted, unmatched click emits its
    // null row iff some sweep evicts it — by monotonicity, iff
    // cts + 1h < the FINAL trailing sweep's watermark, computed over
    // ALL batches.
    // Watermark model (restart-reset nodes): per-watermark-node maxima
    // do NOT survive an AvailableNow restart — only the global
    // watermark is restored from the offset log. Under the min policy
    // the watermark after run b is therefore
    //   we[b] = max(we[b-1], min(click max IN RUN b, purchase max IN
    //                            RUN b) - 30min)
    // — a running max of PER-RUN minima, not the min of cumulative
    // maxima (those differ whenever a run's own data for one side lags
    // the restored watermark: the run then advances nothing, runs no
    // trailing batch, and sweeps nothing — verified empirically at
    // sf0.1 where the cumulative model overpredicted 2 null rows).
    // wmt[b] = we[b-1] is the watermark batch b is planned under; the
    // final sweep watermark fw = the largest we[b] of any run that
    // actually advanced (wmd > planned), because only those runs get
    // a trailing no-data batch. Pinned by NoDataBatchContractSpec.
    "s10_stream_outer_join" ->
      """WITH f AS (SELECT event_id, user_id, ts, MOD(event_id, 3) AS b,
        |event_type, date_trunc('milliseconds', ts) AS tsm FROM events
        |WHERE event_type IN ('click', 'purchase')),
        |bm AS (SELECT b, LEAST(
        |MAX(CASE WHEN event_type = 'click' THEN tsm END),
        |MAX(CASE WHEN event_type = 'purchase' THEN tsm END))
        |- INTERVAL 30 MINUTE AS wmd FROM f GROUP BY b),
        |wme AS (SELECT b, wmd, MAX(wmd) OVER (ORDER BY b) AS we FROM bm),
        |wmt AS (SELECT b, LAG(we) OVER (ORDER BY b) AS w FROM wme),
        |fw AS (SELECT MAX(we) AS wf FROM wme LEFT JOIN wmt USING (b)
        |WHERE wmt.w IS NULL OR wme.wmd > wmt.w),
        |adm AS (SELECT f.* FROM f LEFT JOIN wmt ON wmt.b = f.b
        |WHERE wmt.w IS NULL OR f.ts >= wmt.w),
        |c AS (SELECT user_id, event_id AS click_id, ts AS cts, b AS cb
        |FROM adm WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, event_id AS purchase_id, ts AS pts,
        |b AS pb FROM adm WHERE event_type = 'purchase'),
        |m AS (SELECT c.user_id, c.click_id, p.purchase_id
        |FROM c JOIN p ON c.user_id = p.p_user
        |AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
        |LEFT JOIN wmt wp ON wp.b = p.pb
        |LEFT JOIN wmt wc ON wc.b = c.cb
        |WHERE (p.pb = c.cb)
        |OR (p.pb > c.cb AND (wp.w IS NULL OR c.cts + INTERVAL 1 HOUR >= wp.w))
        |OR (c.cb > p.pb AND (wc.w IS NULL OR p.pts >= wc.w))),
        |nl AS (SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id
        |FROM c, fw
        |WHERE c.cts + INTERVAL 1 HOUR < fw.wf
        |AND c.click_id NOT IN (SELECT click_id FROM m))
        |SELECT user_id, click_id, purchase_id FROM m
        |UNION ALL SELECT user_id, click_id, purchase_id FROM nl"""
        .stripMargin.replace("\n", " "),

    // Replay of the within-watermark dedup state machine: wmt.b = the
    // watermark batch b is planned under (max hr of batches < b, minus
    // the 30-minute delay; NULL for batch 0 — hr is hour-exact so ms
    // truncation is a no-op). A (user, event_type, hr, batch) key
    // occurrence is admitted iff hr >= wmt[b]. Because the event time
    // is PART of the key, a later occurrence of an admitted key can
    // never re-emit: it is either late (hr < wm) or inside the live
    // state window (hr + delay >= hr >= wm) — the two delays cancel.
    // So the emitted set is exactly the distinct admitted keys. The
    // re-emission path (key WITHOUT its event time, where a later
    // duplicate can outlive the first occurrence's state) is pinned by
    // DedupWithinWatermarkContractSpec.
    "s12_dedup_within_wm" ->
      """WITH f AS (SELECT user_id, event_type, date_trunc('hour', ts) AS hr,
        |MOD(event_id, 3) AS b FROM events),
        |kb AS (SELECT DISTINCT user_id, event_type, hr, b FROM f),
        |wmt AS (SELECT bb.b AS b, (SELECT MAX(hr) FROM f WHERE f.b < bb.b)
        |- INTERVAL 30 MINUTE AS w FROM (SELECT DISTINCT b FROM f) bb)
        |SELECT DISTINCT kb.user_id, kb.event_type, kb.hr
        |FROM kb LEFT JOIN wmt ON wmt.b = kb.b
        |WHERE wmt.w IS NULL OR kb.hr >= wmt.w"""
        .stripMargin.replace("\n", " "),

    // Band-admission replay, the s12 state machine over LSH buckets:
    // a (band, bh, hr, batch) occurrence is admitted iff hr >= the
    // batch's planned watermark (max synthesized hr of earlier
    // batches, minus the 30-minute delay). The event time is part of
    // the key, so admitted keys never re-emit (the s12 delay-cancel
    // argument) and the emitted set is the distinct admitted keys.
    // s15 replayed as pure SQL: three unrolled batches; corpus_i is
    // the index AS OF batch i (bootstrap ∪ earlier admissions), each
    // batch's verdicts are the d19 left-join, and admissions exclude
    // corpus dups AND intra-batch lower-id band collisions — exactly
    // Dedup.indexDedupBatch + admitBands per epoch.
    "s15_stream_index_dedup" -> bandAdmissionOracle,

    // identical semantics on the tiered store — see the shared
    // oracle's doc
    "s30_stream_dedup_store" -> bandAdmissionOracle,

    // s15's replay with the bands swapped for two 12-bit halves of the
    // e03 random-hyperplane bucket at nBits=24 (1-based list_transform
    // index i matches the Spark expression's i+1). Same per-epoch
    // composition: verdicts = d19 left-join against the index as of
    // the epoch, admissions exclude index collisions AND intra-batch
    // lower-id band collisions.
    "s16_stream_ann_admission" -> {
      val prefix =
        s"""WITH ${DataOpsQueries.vecCte},
           |proj AS (SELECT vec_id, r.range AS j,
           |list_reduce(list_transform(e, (x, i) -> x * ${DataOpsQueries.lshProjWeight("r.range")}),
           |(acc, v) -> acc + v) AS p
           |FROM v CROSS JOIN range(0, 24) r),
           |buckets AS (SELECT vec_id, CAST(SUM(CASE WHEN p > 0
           |THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
           |FROM proj GROUP BY vec_id),
           |bands AS (SELECT vec_id AS doc, r.range AS band,
           |(bucket >> CAST(r.range * 12 AS INTEGER)) & 4095 AS bh
           |FROM buckets CROSS JOIN range(0, 2) r),
           |corpus0 AS (SELECT doc AS corpus_doc, band, bh FROM bands
           |WHERE MOD(doc, 5) < 2)""".stripMargin
      val perBatch = (2 until 5).map { b =>
        val i = b - 2
        s""",
           |b$b AS (SELECT doc, band, bh FROM bands WHERE MOD(doc, 5) = $b),
           |d$b AS (SELECT vec_id AS doc FROM embeddings
           |WHERE MOD(vec_id, 5) = $b),
           |h$b AS (SELECT b.doc, COUNT(DISTINCT c.corpus_doc) AS n_dups,
           |MIN(c.corpus_doc) AS first_dup
           |FROM b$b b JOIN corpus$i c ON c.band = b.band AND c.bh = b.bh
           |GROUP BY b.doc),
           |v$b AS (SELECT d.doc, COALESCE(h.n_dups, 0) AS n_dups,
           |COALESCE(h.first_dup, -1) AS first_dup
           |FROM d$b d LEFT JOIN h$b h ON h.doc = d.doc),
           |clean$b AS (SELECT b.doc, b.band, b.bh FROM b$b b
           |JOIN v$b v ON v.doc = b.doc AND v.n_dups = 0),
           |adm$b AS (SELECT doc AS corpus_doc, band, bh FROM clean$b
           |WHERE doc NOT IN (SELECT DISTINCT a.doc FROM clean$b a
           |JOIN clean$b e ON e.band = a.band AND e.bh = a.bh
           |AND e.doc < a.doc)),
           |corpus${i + 1} AS (SELECT * FROM corpus$i
           |UNION ALL SELECT * FROM adm$b)""".stripMargin
      }.mkString
      val tail =
        """
          |SELECT doc, n_dups, first_dup FROM v2
          |UNION ALL SELECT doc, n_dups, first_dup FROM v3
          |UNION ALL SELECT doc, n_dups, first_dup FROM v4""".stripMargin
      (prefix + perBatch + tail).replace("\n", " ")
    },

    // The synthetic source is deterministic by construction: the
    // oracle regenerates all 1000 indexed payloads — equality proves
    // the two checkpointed runs covered [0,1000) exactly once.
    "s17_synthetic_resume" ->
      """SELECT i AS idx, printf('event-%012d-', i) || repeat('x', 64) AS payload
        |FROM range(1000) t(i)""".stripMargin.replace("\n", " "),

    // Every (partition, idx) exactly once; partition 1 (paused during
    // run 1) arrives only in run 2, everything else only in run 1.
    "s18_paused_source" ->
      """SELECT CAST(p.range AS INTEGER) AS partition, i.range AS idx,
        |printf('event-%012d-', i.range) || repeat('x', 16) AS payload,
        |CASE WHEN p.range = 1 THEN 2 ELSE 1 END AS run
        |FROM range(4) p CROSS JOIN range(150) i"""
        .stripMargin.replace("\n", " "),

    // identical closed form: the wrapper reproduces the native
    // pausable source's pause-survives-restart behavior exactly
    "s19_wrapped_pause" ->
      """SELECT CAST(p.range AS INTEGER) AS partition, i.range AS idx,
        |printf('event-%012d-', i.range) || repeat('x', 16) AS payload,
        |CASE WHEN p.range = 1 THEN 2 ELSE 1 END AS run
        |FROM range(4) p CROSS JOIN range(150) i"""
        .stripMargin.replace("\n", " "),

    // K3 closed form: one copy of every (click, view) row despite
    // the restart + two forced replays, one commit marker per epoch.
    "q60_epoch_barrier" ->
      """SELECT event_type, COUNT(*) AS n,
        |COUNT(DISTINCT event_id) AS n_distinct,
        |CAST(1 AS BIGINT) AS n_epochs
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY event_type""".stripMargin.replace("\n", " "),

    // K6 closed form: the memory table carries the transform's rows.
    "q61_memory_transport" ->
      """SELECT event_id, user_id, event_type,
        |'mem.' || event_type AS route
        |FROM events WHERE event_type IN ('click', 'error')"""
        .stripMargin.replace("\n", " "),

    // K7 retention closed form: aged epochs 0/2 gone (2 files
    // removed), epochs 1/3 intact.
    "q63_retention" ->
      """SELECT CAST(event_id % 4 AS BIGINT) AS bucket,
        |COUNT(*) AS n FROM events
        |WHERE event_type = 'click' AND event_id % 4 IN (1, 3)
        |GROUP BY 1
        |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(2 AS BIGINT)"""
        .stripMargin.replace("\n", " "),

    // Decontam-on-ingest closed form: the static benchmark index
    // makes verdicts epoch-order-independent, so the replay is ONE
    // left join — no batch unrolling (contrast s15, whose growing
    // index forces per-epoch corpus_i CTEs).
    "s20_stream_decontam" ->
      s"""WITH ${DataOpsQueries.wordsCte}, ${DataOpsQueries.shinglesCte},
         |${DataOpsQueries.minhashSigCte(16)}, ${DataOpsQueries.bandsCte(4)},
         |bench AS (SELECT doc AS bench_doc, band, bh FROM bands
         |WHERE MOD(doc, 10) < 2),
         |streamed AS (SELECT doc_id AS doc FROM documents
         |WHERE MOD(doc_id, 10) >= 2),
         |sb AS (SELECT b.doc, b.band, b.bh FROM bands b JOIN streamed USING (doc)),
         |hits AS (SELECT sb.doc, COUNT(DISTINCT bench_doc) AS n_hits,
         |MIN(bench_doc) AS first_hit
         |FROM sb JOIN bench ON bench.band = sb.band AND bench.bh = sb.bh
         |GROUP BY sb.doc)
         |SELECT s.doc, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |CAST(COALESCE(h.first_hit, -1) AS BIGINT) AS first_hit
         |FROM streamed s LEFT JOIN hits h USING (doc)"""
        .stripMargin.replace("\n", " "),

    // Streaming BM25 closed form: ingest scoring with the
    // corpus-trained model accumulates to exactly the batch t23
    // scorer over every doc containing a query term (the t23 sc CTE,
    // unranked).
    "s21_stream_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM tok),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl
        |FROM dl),
        |p AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |FROM (SELECT doc_id, unnest(w) AS term FROM tok)
        |WHERE term IN ('vector', 'customer', 'merge', 'scan')
        |GROUP BY doc_id, term)
        |SELECT p.doc_id,
        |round(SUM(ln((st.nd - f.df + 0.5) / (f.df + 0.5) + 1)
        |* p.tf * 2.2
        |/ (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM p JOIN dl ON p.doc_id = dl.doc_id
        |JOIN (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p
        |GROUP BY term) f ON p.term = f.term
        |CROSS JOIN st GROUP BY p.doc_id"""
        .stripMargin.replace("\n", " "),

    // Epoch-unrolled BM25 over the widening doc_id%3 prefix: after
    // epoch e the durable index holds exactly the prefix's postings
    // and the accumulator the prefix's (N, Σdl), so each epoch's
    // top-3 is the t23 closed form over buckets 0..e.
    "s23_stream_lex_index" ->
      """WITH tk AS (SELECT doc_id,
        |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |FROM documents),
        |ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |pre AS (SELECT ep.epoch, tk.doc_id, tk.w FROM tk
        |JOIN ep ON MOD(tk.doc_id, 3) <= ep.epoch),
        |dl AS (SELECT epoch, doc_id, CAST(len(w) AS DOUBLE) AS dl FROM pre),
        |st AS (SELECT epoch, CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl
        |FROM dl GROUP BY 1),
        |p AS (SELECT epoch, doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |FROM (SELECT epoch, doc_id, unnest(w) AS term FROM pre)
        |WHERE term IN ('vector', 'customer', 'merge', 'scan')
        |GROUP BY 1, 2, 3),
        |f AS (SELECT epoch, term, CAST(COUNT(*) AS DOUBLE) AS df FROM p
        |GROUP BY 1, 2),
        |sc AS (SELECT p.epoch, p.doc_id,
        |round(SUM(ln((st.nd - f.df + 0.5) / (f.df + 0.5) + 1)
        |* p.tf * 2.2
        |/ (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM p JOIN dl ON p.epoch = dl.epoch AND p.doc_id = dl.doc_id
        |JOIN f ON p.epoch = f.epoch AND p.term = f.term
        |JOIN st ON st.epoch = p.epoch GROUP BY 1, 2)
        |SELECT epoch, doc_id, rank, score FROM (SELECT epoch, doc_id, score,
        |ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY score DESC, doc_id)
        |AS rank FROM sc) WHERE rank <= 3
        |ORDER BY epoch, rank""".stripMargin.replace("\n", " "),

    // Identical closed form to s23's oracle — BM25 over the ingested
    // prefix, unrolled per epoch — but for query terms the ingest
    // NEVER saw: the full-vocabulary store serves them anyway (the
    // df/tf of the query terms and the corpus-wide N/avgdl are the
    // same whether the store is term-filtered or full-vocab).
    "s24_stream_lex_vocab" ->
      """WITH tk AS (SELECT doc_id,
        |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |FROM documents),
        |ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |pre AS (SELECT ep.epoch, tk.doc_id, tk.w FROM tk
        |JOIN ep ON MOD(tk.doc_id, 3) <= ep.epoch),
        |dl AS (SELECT epoch, doc_id, CAST(len(w) AS DOUBLE) AS dl FROM pre),
        |st AS (SELECT epoch, CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl
        |FROM dl GROUP BY 1),
        |p AS (SELECT epoch, doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |FROM (SELECT epoch, doc_id, unnest(w) AS term FROM pre)
        |WHERE term IN ('table', 'stream', 'window', 'sort')
        |GROUP BY 1, 2, 3),
        |f AS (SELECT epoch, term, CAST(COUNT(*) AS DOUBLE) AS df FROM p
        |GROUP BY 1, 2),
        |sc AS (SELECT p.epoch, p.doc_id,
        |round(SUM(ln((st.nd - f.df + 0.5) / (f.df + 0.5) + 1)
        |* p.tf * 2.2
        |/ (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM p JOIN dl ON p.epoch = dl.epoch AND p.doc_id = dl.doc_id
        |JOIN f ON p.epoch = f.epoch AND p.term = f.term
        |JOIN st ON st.epoch = p.epoch GROUP BY 1, 2)
        |SELECT epoch, doc_id, rank, score FROM (SELECT epoch, doc_id, score,
        |ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY score DESC, doc_id)
        |AS rank FROM sc) WHERE rank <= 3
        |ORDER BY epoch, rank""".stripMargin.replace("\n", " "),

    // Epoch-unrolled hybrid RRF: e20's closed form (t23 lexical CTEs +
    // e02 cosine, k-bounded lists, 1/(60+rank) fusion) computed over
    // each ingested prefix — lexical over docs with MOD(doc_id,3) <=
    // epoch, cosine candidates over vectors with MOD(vec_id,3) <=
    // epoch, probe fixed at vec 0.
    "s25_stream_hybrid" ->
      """WITH ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |tk AS (SELECT doc_id,
        |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |FROM documents),
        |pre AS (SELECT ep.epoch, tk.doc_id, tk.w FROM tk
        |JOIN ep ON MOD(tk.doc_id, 3) <= ep.epoch),
        |dl AS (SELECT epoch, doc_id, CAST(len(w) AS DOUBLE) AS dl FROM pre),
        |st AS (SELECT epoch, CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl
        |FROM dl GROUP BY 1),
        |p AS (SELECT epoch, doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |FROM (SELECT epoch, doc_id, unnest(w) AS term FROM pre)
        |WHERE term IN ('vector', 'customer', 'merge', 'scan')
        |GROUP BY 1, 2, 3),
        |f AS (SELECT epoch, term, CAST(COUNT(*) AS DOUBLE) AS df FROM p
        |GROUP BY 1, 2),
        |sc AS (SELECT p.epoch, p.doc_id,
        |round(SUM(ln((st.nd - f.df + 0.5) / (f.df + 0.5) + 1)
        |* p.tf * 2.2
        |/ (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM p JOIN dl ON p.epoch = dl.epoch AND p.doc_id = dl.doc_id
        |JOIN f ON p.epoch = f.epoch AND p.term = f.term
        |JOIN st ON st.epoch = p.epoch GROUP BY 1, 2),
        |lex AS (SELECT epoch, doc_id, rank AS lex_rank FROM (SELECT epoch,
        |doc_id, ROW_NUMBER() OVER (PARTITION BY epoch
        |ORDER BY score DESC, doc_id) AS rank FROM sc) WHERE rank <= 10),
        |ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings),
        |n AS (SELECT vec_id, e,
        |sqrt(list_reduce(list_transform(e, (x, i) -> x * (e)[i]),
        |(acc, u) -> acc + u)) AS nr FROM ve),
        |vsc AS (SELECT ep.epoch, c.vec_id AS doc_id,
        |round(list_reduce(list_transform(q.e, (x, i) -> x * (c.e)[i]),
        |(acc, u) -> acc + u) / (q.nr * c.nr), 6) AS cos
        |FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id <> 0
        |JOIN ep ON MOD(c.vec_id, 3) <= ep.epoch),
        |vec AS (SELECT epoch, doc_id, vec_rank FROM (SELECT epoch, doc_id,
        |ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY cos DESC, doc_id)
        |AS vec_rank FROM vsc) WHERE vec_rank <= 10),
        |fused AS (SELECT COALESCE(l.epoch, w2.epoch) AS epoch,
        |COALESCE(l.doc_id, w2.doc_id) AS doc_id, l.lex_rank, w2.vec_rank,
        |round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
        |+ COALESCE(CAST(1 AS DOUBLE) / (60 + w2.vec_rank), 0), 6) AS rrf
        |FROM lex l FULL JOIN vec w2
        |ON l.epoch = w2.epoch AND l.doc_id = w2.doc_id)
        |SELECT epoch, doc_id, rank, lex_rank, vec_rank, rrf FROM (SELECT
        |epoch, doc_id, lex_rank, vec_rank, rrf,
        |ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY rrf DESC, doc_id)
        |AS rank FROM fused) WHERE rank <= 10
        |ORDER BY epoch, rank""".stripMargin.replace("\n", " "),

    // Epoch-unrolled multi-query BM25: the s24 lexical closed form
    // crossed with the t26 (query, term) table — per (epoch, query)
    // the same arithmetic as independent single-query serves, since
    // df/N/avgdl are corpus-prefix facts unchanged by which query
    // asks.
    "s28_stream_multi_bm25" ->
      """WITH ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |tk AS (SELECT doc_id,
        |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |FROM documents),
        |pre AS (SELECT ep.epoch, tk.doc_id, tk.w FROM tk
        |JOIN ep ON MOD(tk.doc_id, 3) <= ep.epoch),
        |dl AS (SELECT epoch, doc_id, CAST(len(w) AS DOUBLE) AS dl FROM pre),
        |st AS (SELECT epoch, CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl
        |FROM dl GROUP BY 1),
        |qt(query_id, term) AS (VALUES
        |('qA', 'table'), ('qA', 'stream'), ('qA', 'window'), ('qA', 'sort'),
        |('qB', 'vector'), ('qB', 'customer'), ('qB', 'merge'), ('qB', 'scan'),
        |('qC', 'join'), ('qC', 'hash'), ('qC', 'fast'), ('qC', 'slow')),
        |p AS (SELECT epoch, doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |FROM (SELECT epoch, doc_id, unnest(w) AS term FROM pre)
        |WHERE term IN (SELECT term FROM qt)
        |GROUP BY 1, 2, 3),
        |f AS (SELECT epoch, term, CAST(COUNT(*) AS DOUBLE) AS df FROM p
        |GROUP BY 1, 2),
        |sc AS (SELECT p.epoch, qt.query_id, p.doc_id,
        |round(SUM(ln((st.nd - f.df + 0.5) / (f.df + 0.5) + 1)
        |* p.tf * 2.2
        |/ (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM p JOIN qt ON p.term = qt.term
        |JOIN dl ON p.epoch = dl.epoch AND p.doc_id = dl.doc_id
        |JOIN f ON p.epoch = f.epoch AND p.term = f.term
        |JOIN st ON st.epoch = p.epoch GROUP BY 1, 2, 3)
        |SELECT epoch, query_id, doc_id, rank, score FROM (SELECT epoch,
        |query_id, doc_id, score, ROW_NUMBER() OVER
        |(PARTITION BY epoch, query_id ORDER BY score DESC, doc_id) AS rank
        |FROM sc) WHERE rank <= 3
        |ORDER BY epoch, query_id, rank""".stripMargin.replace("\n", " "),

    // Epoch-unrolled indexed hybrid: the s24 lexical closed form
    // (rank <= 10) fused with the s26 IVF closed form restricted to
    // probe vec 0 (nprobe=2, rank <= 10) through e20's 1/(60+rank)
    // reciprocal-rank formula, per ingested prefix.
    "s27_stream_hybrid_indexed" ->
      """WITH ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |tk AS (SELECT doc_id,
        |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |FROM documents),
        |pre AS (SELECT ep.epoch, tk.doc_id, tk.w FROM tk
        |JOIN ep ON MOD(tk.doc_id, 3) <= ep.epoch),
        |dl AS (SELECT epoch, doc_id, CAST(len(w) AS DOUBLE) AS dl FROM pre),
        |st AS (SELECT epoch, CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl
        |FROM dl GROUP BY 1),
        |p AS (SELECT epoch, doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |FROM (SELECT epoch, doc_id, unnest(w) AS term FROM pre)
        |WHERE term IN ('table', 'stream', 'window', 'sort')
        |GROUP BY 1, 2, 3),
        |f AS (SELECT epoch, term, CAST(COUNT(*) AS DOUBLE) AS df FROM p
        |GROUP BY 1, 2),
        |sc AS (SELECT p.epoch, p.doc_id,
        |round(SUM(ln((st.nd - f.df + 0.5) / (f.df + 0.5) + 1)
        |* p.tf * 2.2
        |/ (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM p JOIN dl ON p.epoch = dl.epoch AND p.doc_id = dl.doc_id
        |JOIN f ON p.epoch = f.epoch AND p.term = f.term
        |JOIN st ON st.epoch = p.epoch GROUP BY 1, 2),
        |lex AS (SELECT epoch, doc_id, rank AS lex_rank FROM (SELECT epoch,
        |doc_id, ROW_NUMBER() OVER (PARTITION BY epoch
        |ORDER BY score DESC, doc_id) AS rank FROM sc) WHERE rank <= 10),
        |ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings),
        |n AS (SELECT vec_id, e,
        |sqrt(list_reduce(list_transform(e, (x, i) -> x * (e)[i]),
        |(acc, u) -> acc + u)) AS nr FROM ve),
        |cents AS (SELECT vec_id AS cent_id, e AS ce, nr AS cnr FROM n
        |WHERE vec_id < 8),
        |sa AS (SELECT n.vec_id, c.cent_id,
        |round(list_reduce(list_transform(n.e, (x, i) -> x * (c.ce)[i]),
        |(acc, u) -> acc + u) / (n.nr * c.cnr), 6) AS acos
        |FROM n CROSS JOIN cents c),
        |casg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn = 1),
        |pasg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn <= 2),
        |nbc AS (SELECT ep.epoch, n.vec_id, e, nr, a.cent_id FROM n
        |JOIN casg a USING (vec_id)
        |JOIN ep ON MOD(n.vec_id, 3) <= ep.epoch),
        |nbp AS (SELECT n.vec_id, e, nr, a.cent_id FROM n
        |JOIN pasg a USING (vec_id) WHERE n.vec_id = 0),
        |vsc AS (SELECT c.epoch, c.vec_id AS doc_id,
        |round(list_reduce(list_transform(q.e, (x, i) -> x * (c.e)[i]),
        |(acc, u) -> acc + u) / (q.nr * c.nr), 6) AS cos
        |FROM nbp q JOIN nbc c ON q.cent_id = c.cent_id
        |AND q.vec_id <> c.vec_id),
        |vec AS (SELECT epoch, doc_id, vec_rank FROM (SELECT epoch, doc_id,
        |ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY cos DESC, doc_id)
        |AS vec_rank FROM vsc) WHERE vec_rank <= 10),
        |fused AS (SELECT COALESCE(l.epoch, w2.epoch) AS epoch,
        |COALESCE(l.doc_id, w2.doc_id) AS doc_id, l.lex_rank, w2.vec_rank,
        |round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
        |+ COALESCE(CAST(1 AS DOUBLE) / (60 + w2.vec_rank), 0), 6) AS rrf
        |FROM lex l FULL JOIN vec w2
        |ON l.epoch = w2.epoch AND l.doc_id = w2.doc_id)
        |SELECT epoch, doc_id, rank, lex_rank, vec_rank, rrf FROM (SELECT
        |epoch, doc_id, lex_rank, vec_rank, rrf,
        |ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY rrf DESC, doc_id)
        |AS rank FROM fused) WHERE rank <= 10
        |ORDER BY epoch, rank""".stripMargin.replace("\n", " "),

    // Epoch-unrolled IVF: e06's closed form (8 fixed cells from
    // vec_id < 8, candidate cells rn=1, probe cells rn<=2, cosine
    // rounded to 6 dp, per-probe top-3) with the CANDIDATE side gated
    // to each epoch's ingested prefix. Cell assignment is
    // epoch-independent (the codebook is fixed), so only nbc carries
    // the prefix join.
    "s26_stream_ivf" ->
      """WITH ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings),
        |n AS (SELECT vec_id, e,
        |sqrt(list_reduce(list_transform(e, (x, i) -> x * (e)[i]),
        |(acc, u) -> acc + u)) AS nr FROM ve),
        |cents AS (SELECT vec_id AS cent_id, e AS ce, nr AS cnr FROM n
        |WHERE vec_id < 8),
        |sa AS (SELECT n.vec_id, c.cent_id,
        |round(list_reduce(list_transform(n.e, (x, i) -> x * (c.ce)[i]),
        |(acc, u) -> acc + u) / (n.nr * c.cnr), 6) AS acos
        |FROM n CROSS JOIN cents c),
        |casg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn = 1),
        |pasg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn <= 2),
        |nbc AS (SELECT ep.epoch, n.vec_id, e, nr, a.cent_id FROM n
        |JOIN casg a USING (vec_id)
        |JOIN ep ON MOD(n.vec_id, 3) <= ep.epoch),
        |nbp AS (SELECT n.vec_id, e, nr, a.cent_id FROM n
        |JOIN pasg a USING (vec_id) WHERE n.vec_id < 4),
        |scored AS (SELECT c.epoch, q.vec_id AS query_id,
        |q.cent_id AS cent_id, c.vec_id AS cand_id,
        |round(list_reduce(list_transform(q.e, (x, i) -> x * (c.e)[i]),
        |(acc, u) -> acc + u) / (q.nr * c.nr), 6) AS cos
        |FROM nbp q JOIN nbc c ON q.cent_id = c.cent_id
        |AND q.vec_id <> c.vec_id)
        |SELECT epoch, query_id, cent_id, cand_id, rank, cos FROM (
        |SELECT epoch, query_id, cent_id, cand_id, cos, ROW_NUMBER() OVER
        |(PARTITION BY epoch, query_id ORDER BY cos DESC, cand_id) AS rank
        |FROM scored) WHERE rank <= 3
        |ORDER BY epoch, query_id, rank""".stripMargin.replace("\n", " "),

    // Epoch-unrolled IVF+PQ with exact re-rank: s26's fixed cells
    // (vec_id < 8) gate the candidates, e11/e14's deterministic
    // first-16 codebook encodes them (both epoch-independent — only
    // the candidate prefix join carries ep), the ADC fold (list
    // ORDER BY sub, 6 dp) takes top-6 per (epoch, probe), and the
    // final top-3 re-ranks exactly those candidates by full-precision
    // cosine — the two-pass serve the PQ store runs.
    "s29_stream_pq_ivf" ->
      """WITH ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings),
        |n AS (SELECT vec_id, e,
        |sqrt(list_reduce(list_transform(e, (x, i) -> x * (e)[i]),
        |(acc, u) -> acc + u)) AS nr FROM v),
        |cents AS (SELECT vec_id AS cent_id, e AS ce, nr AS cnr FROM n
        |WHERE vec_id < 8),
        |sa AS (SELECT n.vec_id, c.cent_id,
        |round(list_reduce(list_transform(n.e, (x, i) -> x * (c.ce)[i]),
        |(acc, u) -> acc + u) / (n.nr * c.cnr), 6) AS acos
        |FROM n CROSS JOIN cents c),
        |casg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn = 1),
        |pasg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn <= 2),
        |sp AS (SELECT vec_id, r.range AS sub,
        |e[(CAST(r.range AS INTEGER) * (len(e) // 8) + 1):
        |((CAST(r.range AS INTEGER) + 1) * (len(e) // 8))] AS sv
        |FROM v CROSS JOIN range(0, 8) r),
        |cb AS (SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
        |FROM sp WHERE vec_id < 16),
        |codes AS (SELECT vec_id AS cand_id, sub, code FROM (
        |SELECT sp.vec_id, sp.sub, cb.code,
        |ROW_NUMBER() OVER (PARTITION BY sp.vec_id, sp.sub ORDER BY
        |round(list_reduce(list_transform(cb.cv, (x, i) -> x * (cb.cv)[i]),
        |(acc, u) -> acc + u)
        |- 2 * list_reduce(list_transform(sp.sv, (x, i) -> x * (cb.cv)[i]),
        |(acc, u) -> acc + u), 6), cb.code) AS rn
        |FROM sp JOIN cb USING (sub)) WHERE rn = 1),
        |adc AS (SELECT q.vec_id AS query_id, q.sub, cb.code,
        |round(list_reduce(list_transform(q.sv, (x, i) -> x * (cb.cv)[i]),
        |(acc, u) -> acc + u), 6) AS part
        |FROM sp q JOIN cb USING (sub) WHERE q.vec_id < 4),
        |nbc AS (SELECT ep.epoch, a.vec_id, a.cent_id FROM casg a
        |JOIN ep ON MOD(a.vec_id, 3) <= ep.epoch),
        |pairs AS (SELECT c.epoch, p.vec_id AS query_id, c.vec_id AS cand_id
        |FROM pasg p JOIN nbc c ON c.cent_id = p.cent_id
        |WHERE p.vec_id < 4 AND p.vec_id <> c.vec_id),
        |sc AS (SELECT pr.epoch, pr.query_id, pr.cand_id,
        |round(list_reduce(list(a.part ORDER BY a.sub),
        |(acc, x) -> acc + x), 6) AS adc_dot
        |FROM pairs pr JOIN codes co ON co.cand_id = pr.cand_id
        |JOIN adc a ON a.query_id = pr.query_id AND a.sub = co.sub
        |AND a.code = co.code
        |GROUP BY 1, 2, 3),
        |adctop AS (SELECT epoch, query_id, cand_id FROM (
        |SELECT epoch, query_id, cand_id, ROW_NUMBER() OVER
        |(PARTITION BY epoch, query_id ORDER BY adc_dot DESC, cand_id)
        |AS rn FROM sc) WHERE rn <= 6),
        |rr AS (SELECT t.epoch, t.query_id, t.cand_id,
        |round(list_reduce(list_transform(q.e, (x, i) -> x * (c.e)[i]),
        |(acc, u) -> acc + u) / (q.nr * c.nr), 6) AS cos
        |FROM adctop t JOIN n q ON q.vec_id = t.query_id
        |JOIN n c ON c.vec_id = t.cand_id)
        |SELECT epoch, query_id, cand_id, rank, cos FROM (
        |SELECT epoch, query_id, cand_id, cos, ROW_NUMBER() OVER
        |(PARTITION BY epoch, query_id ORDER BY cos DESC, cand_id) AS rank
        |FROM rr) WHERE rank <= 3
        |ORDER BY epoch, query_id, rank""".stripMargin.replace("\n", " "),

    // Drift-telemetry closed form: all literals — the matched-prefix
    // agreement is EXACTLY 1.0 by construction (normalized corpus +
    // codeword prefix: ADC == exact for every candidate), the drifted
    // value must fall below it, and the window rides along so the
    // floor is computable.
    "s34_drift_telemetry" ->
      """SELECT 'matched' AS kind, 'agreement' AS k, '1.000000' AS v
        |UNION ALL SELECT 'drifted', 'below_matched', 'true'
        |UNION ALL SELECT 'window', 'topk', '3'
        |UNION ALL SELECT 'window', 'rerank', '6'"""
        .stripMargin.replace("\n", " "),

    // Rebuild-and-cutover closed form: the s29 PQ/ADC form evaluated
    // over the FULL corpus (every serve happens after its index's
    // complete ingest — no epoch unrolling), once per codebook. The
    // old codebook is the deterministic first-16; the "retrained" one
    // is vectors 16-31 re-coded 0-15. 'pre' and 'during' are both
    // the old form (the old index must serve unchanged while the new
    // store backfills beside it); 'post' is the new form.
    "s32_pq_rebuild_cutover" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings),
        |n AS (SELECT vec_id, e,
        |sqrt(list_reduce(list_transform(e, (x, i) -> x * (e)[i]),
        |(acc, u) -> acc + u)) AS nr FROM v),
        |cents AS (SELECT vec_id AS cent_id, e AS ce, nr AS cnr FROM n
        |WHERE vec_id < 8),
        |sa AS (SELECT n.vec_id, c.cent_id,
        |round(list_reduce(list_transform(n.e, (x, i) -> x * (c.ce)[i]),
        |(acc, u) -> acc + u) / (n.nr * c.cnr), 6) AS acos
        |FROM n CROSS JOIN cents c),
        |casg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn = 1),
        |pasg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn <= 2),
        |sp AS (SELECT vec_id, r.range AS sub,
        |e[(CAST(r.range AS INTEGER) * (len(e) // 8) + 1):
        |((CAST(r.range AS INTEGER) + 1) * (len(e) // 8))] AS sv
        |FROM v CROSS JOIN range(0, 8) r),
        |cbo AS (SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
        |FROM sp WHERE vec_id < 16),
        |cbn AS (SELECT sub, CAST(vec_id - 16 AS INTEGER) AS code,
        |sv AS cv FROM sp WHERE vec_id >= 16 AND vec_id < 32),
        |pairs AS (SELECT p2.vec_id AS query_id, c.vec_id AS cand_id
        |FROM pasg p2 JOIN casg c ON c.cent_id = p2.cent_id
        |WHERE p2.vec_id < 2 AND p2.vec_id <> c.vec_id),
        |codeso AS (SELECT vec_id AS cand_id, sub, code FROM (
        |SELECT sp.vec_id, sp.sub, cbo.code,
        |ROW_NUMBER() OVER (PARTITION BY sp.vec_id, sp.sub ORDER BY
        |round(list_reduce(list_transform(cbo.cv, (x, i) -> x * (cbo.cv)[i]),
        |(acc, u) -> acc + u)
        |- 2 * list_reduce(list_transform(sp.sv, (x, i) -> x * (cbo.cv)[i]),
        |(acc, u) -> acc + u), 6), cbo.code) AS rn
        |FROM sp JOIN cbo USING (sub)) WHERE rn = 1),
        |adco AS (SELECT q.vec_id AS query_id, q.sub, cbo.code,
        |round(list_reduce(list_transform(q.sv, (x, i) -> x * (cbo.cv)[i]),
        |(acc, u) -> acc + u), 6) AS part
        |FROM sp q JOIN cbo USING (sub) WHERE q.vec_id < 2),
        |sco AS (SELECT pr.query_id, pr.cand_id,
        |round(list_reduce(list(a.part ORDER BY a.sub),
        |(acc, x) -> acc + x), 6) AS adc_dot
        |FROM pairs pr JOIN codeso co ON co.cand_id = pr.cand_id
        |JOIN adco a ON a.query_id = pr.query_id AND a.sub = co.sub
        |AND a.code = co.code
        |GROUP BY 1, 2),
        |adctopo AS (SELECT query_id, cand_id FROM (
        |SELECT query_id, cand_id, ROW_NUMBER() OVER
        |(PARTITION BY query_id ORDER BY adc_dot DESC, cand_id)
        |AS rn FROM sco) WHERE rn <= 6),
        |rro AS (SELECT t.query_id, t.cand_id,
        |round(list_reduce(list_transform(q.e, (x, i) -> x * (c.e)[i]),
        |(acc, u) -> acc + u) / (q.nr * c.nr), 6) AS cos
        |FROM adctopo t JOIN n q ON q.vec_id = t.query_id
        |JOIN n c ON c.vec_id = t.cand_id),
        |fino AS (SELECT query_id, cand_id, rank, cos FROM (
        |SELECT query_id, cand_id, cos, ROW_NUMBER() OVER
        |(PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        |FROM rro) WHERE rank <= 3),
        |codesn AS (SELECT vec_id AS cand_id, sub, code FROM (
        |SELECT sp.vec_id, sp.sub, cbn.code,
        |ROW_NUMBER() OVER (PARTITION BY sp.vec_id, sp.sub ORDER BY
        |round(list_reduce(list_transform(cbn.cv, (x, i) -> x * (cbn.cv)[i]),
        |(acc, u) -> acc + u)
        |- 2 * list_reduce(list_transform(sp.sv, (x, i) -> x * (cbn.cv)[i]),
        |(acc, u) -> acc + u), 6), cbn.code) AS rn
        |FROM sp JOIN cbn USING (sub)) WHERE rn = 1),
        |adcn AS (SELECT q.vec_id AS query_id, q.sub, cbn.code,
        |round(list_reduce(list_transform(q.sv, (x, i) -> x * (cbn.cv)[i]),
        |(acc, u) -> acc + u), 6) AS part
        |FROM sp q JOIN cbn USING (sub) WHERE q.vec_id < 2),
        |scn AS (SELECT pr.query_id, pr.cand_id,
        |round(list_reduce(list(a.part ORDER BY a.sub),
        |(acc, x) -> acc + x), 6) AS adc_dot
        |FROM pairs pr JOIN codesn co ON co.cand_id = pr.cand_id
        |JOIN adcn a ON a.query_id = pr.query_id AND a.sub = co.sub
        |AND a.code = co.code
        |GROUP BY 1, 2),
        |adctopn AS (SELECT query_id, cand_id FROM (
        |SELECT query_id, cand_id, ROW_NUMBER() OVER
        |(PARTITION BY query_id ORDER BY adc_dot DESC, cand_id)
        |AS rn FROM scn) WHERE rn <= 6),
        |rrn AS (SELECT t.query_id, t.cand_id,
        |round(list_reduce(list_transform(q.e, (x, i) -> x * (c.e)[i]),
        |(acc, u) -> acc + u) / (q.nr * c.nr), 6) AS cos
        |FROM adctopn t JOIN n q ON q.vec_id = t.query_id
        |JOIN n c ON c.vec_id = t.cand_id),
        |finn AS (SELECT query_id, cand_id, rank, cos FROM (
        |SELECT query_id, cand_id, cos, ROW_NUMBER() OVER
        |(PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        |FROM rrn) WHERE rank <= 3)
        |SELECT 'pre' AS phase, query_id, cand_id, rank, cos FROM fino
        |UNION ALL SELECT 'during', query_id, cand_id, rank, cos FROM fino
        |UNION ALL SELECT 'post', query_id, cand_id, rank, cos FROM finn
        |ORDER BY phase, query_id, rank""".stripMargin.replace("\n", " "),

    // Multi-query hybrid closed form: s27's lexical unroll lifted to
    // a (query_id, term) table — df per (epoch, term) over the UNION
    // term postings, per-query score = sum over its own terms — and
    // s29's PQ/ADC unroll with probes 0-2, re-rank window 20, vector
    // top-10; fused per (epoch, query_id) by RRF. Per query this IS
    // the s27 form — the gate's one-pass serving must not change a
    // single row of it.
    "s31_stream_hybrid_multi" ->
      """WITH ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
        |qt(query_id, term) AS (VALUES ('0', 'table'), ('0', 'stream'),
        |('1', 'window'), ('1', 'sort'), ('2', 'vector'), ('2', 'merge')),
        |tk AS (SELECT doc_id,
        |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |FROM documents),
        |pre AS (SELECT ep.epoch, tk.doc_id, tk.w FROM tk
        |JOIN ep ON MOD(tk.doc_id, 3) <= ep.epoch),
        |dl AS (SELECT epoch, doc_id, CAST(len(w) AS DOUBLE) AS dl FROM pre),
        |st AS (SELECT epoch, CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl
        |FROM dl GROUP BY 1),
        |p AS (SELECT epoch, doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |FROM (SELECT epoch, doc_id, unnest(w) AS term FROM pre)
        |WHERE term IN (SELECT term FROM qt)
        |GROUP BY 1, 2, 3),
        |f AS (SELECT epoch, term, CAST(COUNT(*) AS DOUBLE) AS df FROM p
        |GROUP BY 1, 2),
        |sc AS (SELECT p.epoch, qt.query_id, p.doc_id,
        |round(SUM(ln((st.nd - f.df + 0.5) / (f.df + 0.5) + 1)
        |* p.tf * 2.2
        |/ (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM p JOIN qt USING (term)
        |JOIN dl ON p.epoch = dl.epoch AND p.doc_id = dl.doc_id
        |JOIN f ON p.epoch = f.epoch AND p.term = f.term
        |JOIN st ON st.epoch = p.epoch GROUP BY 1, 2, 3),
        |lex AS (SELECT epoch, query_id, doc_id, rank AS lex_rank FROM (
        |SELECT epoch, query_id, doc_id, ROW_NUMBER() OVER
        |(PARTITION BY epoch, query_id ORDER BY score DESC, doc_id) AS rank
        |FROM sc) WHERE rank <= 10),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings),
        |n AS (SELECT vec_id, e,
        |sqrt(list_reduce(list_transform(e, (x, i) -> x * (e)[i]),
        |(acc, u) -> acc + u)) AS nr FROM v),
        |cents AS (SELECT vec_id AS cent_id, e AS ce, nr AS cnr FROM n
        |WHERE vec_id < 8),
        |sa AS (SELECT n.vec_id, c.cent_id,
        |round(list_reduce(list_transform(n.e, (x, i) -> x * (c.ce)[i]),
        |(acc, u) -> acc + u) / (n.nr * c.cnr), 6) AS acos
        |FROM n CROSS JOIN cents c),
        |casg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn = 1),
        |pasg AS (SELECT vec_id, cent_id FROM (
        |SELECT vec_id, cent_id, ROW_NUMBER() OVER
        |(PARTITION BY vec_id ORDER BY acos DESC, cent_id) AS rn FROM sa)
        |WHERE rn <= 2),
        |sp AS (SELECT vec_id, r.range AS sub,
        |e[(CAST(r.range AS INTEGER) * (len(e) // 8) + 1):
        |((CAST(r.range AS INTEGER) + 1) * (len(e) // 8))] AS sv
        |FROM v CROSS JOIN range(0, 8) r),
        |cb AS (SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
        |FROM sp WHERE vec_id < 16),
        |codes AS (SELECT vec_id AS cand_id, sub, code FROM (
        |SELECT sp.vec_id, sp.sub, cb.code,
        |ROW_NUMBER() OVER (PARTITION BY sp.vec_id, sp.sub ORDER BY
        |round(list_reduce(list_transform(cb.cv, (x, i) -> x * (cb.cv)[i]),
        |(acc, u) -> acc + u)
        |- 2 * list_reduce(list_transform(sp.sv, (x, i) -> x * (cb.cv)[i]),
        |(acc, u) -> acc + u), 6), cb.code) AS rn
        |FROM sp JOIN cb USING (sub)) WHERE rn = 1),
        |adc AS (SELECT q.vec_id AS query_id, q.sub, cb.code,
        |round(list_reduce(list_transform(q.sv, (x, i) -> x * (cb.cv)[i]),
        |(acc, u) -> acc + u), 6) AS part
        |FROM sp q JOIN cb USING (sub) WHERE q.vec_id < 3),
        |nbc AS (SELECT ep.epoch, a.vec_id, a.cent_id FROM casg a
        |JOIN ep ON MOD(a.vec_id, 3) <= ep.epoch),
        |pairs AS (SELECT c.epoch, p2.vec_id AS query_id, c.vec_id AS cand_id
        |FROM pasg p2 JOIN nbc c ON c.cent_id = p2.cent_id
        |WHERE p2.vec_id < 3 AND p2.vec_id <> c.vec_id),
        |vsc AS (SELECT pr.epoch, pr.query_id, pr.cand_id,
        |round(list_reduce(list(a.part ORDER BY a.sub),
        |(acc, x) -> acc + x), 6) AS adc_dot
        |FROM pairs pr JOIN codes co ON co.cand_id = pr.cand_id
        |JOIN adc a ON a.query_id = pr.query_id AND a.sub = co.sub
        |AND a.code = co.code
        |GROUP BY 1, 2, 3),
        |adctop AS (SELECT epoch, query_id, cand_id FROM (
        |SELECT epoch, query_id, cand_id, ROW_NUMBER() OVER
        |(PARTITION BY epoch, query_id ORDER BY adc_dot DESC, cand_id)
        |AS rn FROM vsc) WHERE rn <= 20),
        |rr AS (SELECT t.epoch, t.query_id, t.cand_id,
        |round(list_reduce(list_transform(q.e, (x, i) -> x * (c.e)[i]),
        |(acc, u) -> acc + u) / (q.nr * c.nr), 6) AS cos
        |FROM adctop t JOIN n q ON q.vec_id = t.query_id
        |JOIN n c ON c.vec_id = t.cand_id),
        |vec AS (SELECT epoch, CAST(query_id AS VARCHAR) AS query_id,
        |cand_id AS doc_id, rank AS vec_rank FROM (
        |SELECT epoch, query_id, cand_id, ROW_NUMBER() OVER
        |(PARTITION BY epoch, query_id ORDER BY cos DESC, cand_id) AS rank
        |FROM rr) WHERE rank <= 10),
        |fused AS (SELECT COALESCE(l.epoch, w2.epoch) AS epoch,
        |COALESCE(l.query_id, w2.query_id) AS query_id,
        |COALESCE(l.doc_id, w2.doc_id) AS doc_id, l.lex_rank, w2.vec_rank,
        |round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
        |+ COALESCE(CAST(1 AS DOUBLE) / (60 + w2.vec_rank), 0), 6) AS rrf
        |FROM lex l FULL JOIN vec w2
        |ON l.epoch = w2.epoch AND l.query_id = w2.query_id
        |AND l.doc_id = w2.doc_id)
        |SELECT epoch, query_id, doc_id, rank, lex_rank, vec_rank, rrf
        |FROM (SELECT epoch, query_id, doc_id, lex_rank, vec_rank, rrf,
        |ROW_NUMBER() OVER (PARTITION BY epoch, query_id
        |ORDER BY rrf DESC, doc_id) AS rank FROM fused) WHERE rank <= 10
        |ORDER BY epoch, query_id, rank""".stripMargin.replace("\n", " "),

    // Epoch-unrolled HLL: the running register table after epoch e is
    // exactly the registers over buckets 0..e (max-merge is
    // order-free), so each epoch row is the t24 estimate over the
    // widening doc_id%3 prefix. Same exact-arithmetic register/rho/
    // harmonic-sum forms as the t24 oracle.
    "s22_stream_hll" -> {
      val hs = graft.functions.Portable.hash64Sql("sh")
      s"""WITH tk AS (SELECT doc_id,
         |list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
         |FROM documents),
         |sg AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 3 THEN
         |list_transform(generate_series(1, len(w) - 2),
         |j -> concat_ws(' ', w[j], w[j+1], w[j+2])) ELSE [] END) AS sh
         |FROM tk),
         |ep(epoch) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
         |hv AS (SELECT ep.epoch, $hs AS hv FROM sg
         |JOIN ep ON MOD(sg.doc_id, 3) <= ep.epoch),
         |rr AS (SELECT epoch, hv % 256 AS reg,
         |CASE WHEN hv // 256 = 0 THEN CAST(25 AS BIGINT)
         |ELSE 25 - length(bin(hv // 256)) END AS rho FROM hv),
         |regs AS (SELECT epoch, reg, MAX(rho) AS mj FROM rr GROUP BY 1, 2),
         |ag AS (SELECT epoch, SUM(1.0 / CAST(1 << mj AS DOUBLE)) AS z_hit,
         |CAST(COUNT(*) AS BIGINT) AS n_regs FROM regs GROUP BY 1),
         |es AS (SELECT epoch, n_regs, 256 - n_regs AS v,
         |CAST(7213 AS DOUBLE) / 10000 / (1 + CAST(1079 AS DOUBLE) / 1000 / 256)
         |* 65536 / (z_hit + CAST(256 - n_regs AS DOUBLE)) AS e_raw FROM ag)
         |SELECT epoch, n_regs,
         |ROUND(CASE WHEN e_raw <= 640 AND v > 0
         |THEN 256 * ln(CAST(256 AS DOUBLE) / v) ELSE e_raw END, 4) AS hll_est
         |FROM es ORDER BY epoch""".stripMargin.replace("\n", " ")
    },

    // Failover closed form: reloaded specs collapse Ready->Stopped,
    // the pause set survives as the literal "1", and exactly-once
    // delivery across the crash means each pipeline's count (and
    // distinct count) equals its corpus slice.
    "q64_manager_failover" ->
      """SELECT 'spec' AS kind, 'a_status_after_failover' AS k, 'Stopped' AS v
        |UNION ALL SELECT 'spec', 'b_status_after_failover', 'Stopped'
        |UNION ALL SELECT 'paused', 'b_paused_after_failover', '1'
        |UNION ALL SELECT 'rows', 'a_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'a_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'b_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'view'
        |UNION ALL SELECT 'rows', 'b_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'view'"""
        .stripMargin.replace("\n", " "),

    // Mutual-exclusion closed form: every lock event is a literal
    // (mgr1 rejects twice, no loser query, takeover succeeds), and
    // exactly-once delivery across the ownership change means the
    // destination count equals the click corpus.
    "q65_manager_mutex" ->
      """SELECT 'cluster' AS kind, 'loser_sees_spec' AS k, 'true' AS v
        |UNION ALL SELECT 'lock', 'loser_rejected_by', 'mgr1'
        |UNION ALL SELECT 'lock', 'loser_has_query', 'false'
        |UNION ALL SELECT 'lock', 'rejected_after_drain_by', 'mgr1'
        |UNION ALL SELECT 'lock', 'takeover_after_close', 'true'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Fan-out closed form: group facts are literals; each sink holds
    // every click exactly once (one shared scan, two deliveries).
    "q66_dest_fanout" ->
      """SELECT 'group' AS kind, 'b_prefix' AS k, 'q66a' AS v
        |UNION ALL SELECT 'group', 'size', '2'
        |UNION ALL SELECT 'group', 'shared_query', 'true'
        |UNION ALL SELECT 'rows', 'x_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'x_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Lease-failover closed form: every lease event is a literal
    // (expired owner self-demotes, peer reclaims, zombie rejected by
    // the new owner), and exactly-once delivery across the hard crash
    // means the destination count equals the click corpus.
    "q67_lease_failover" ->
      """SELECT 'lease' AS kind, 'self_demoted' AS k, 'true' AS v
        |UNION ALL SELECT 'lease', 'takeover_after_expiry', 'true'
        |UNION ALL SELECT 'lease', 'zombie_rejected_by', 'mgrB'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Graceful-handover closed form: lock facts are literals (held
    // while running, released by stop, acquired by the peer, old
    // owner fenced), and exactly-once across the migration means the
    // destination equals the click corpus.
    "q70_graceful_handover" ->
      """SELECT 'lock' AS kind, 'held_while_running' AS k, 'true' AS v
        |UNION ALL SELECT 'lock', 'released_after_stop', 'true'
        |UNION ALL SELECT 'lock', 'takeover_after_release', 'true'
        |UNION ALL SELECT 'lock', 'old_owner_fenced_by', 'mgrB'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Per-member pause closed form: statuses are literals; every
    // per-destination count is click-corpus arithmetic over the epoch
    // key (event_id mod 3): the sibling's mid count spans epochs 0-1,
    // the paused member's mid count is epoch 0 only, resume brings it
    // to 0-1 exactly once (idempotent), and both finish with the full
    // corpus exactly once.
    "q68_group_member_pause" ->
      """SELECT 'pause' AS kind, 'b_status' AS k, 'Paused' AS v
        |UNION ALL SELECT 'pause', 'a_status', 'Ready'
        |UNION ALL SELECT 'rows', 'x_mid', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 3 < 2
        |UNION ALL SELECT 'rows', 'y_mid', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 3 = 0
        |UNION ALL SELECT 'rows', 'y_resumed', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 3 < 2
        |UNION ALL SELECT 'rows', 'y_resumed_again', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 3 < 2
        |UNION ALL SELECT 'rows', 'x_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'x_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Mid-run membership closed form: the join happens with epoch 0
    // committed, so the new destination holds exactly the post-join
    // epoch (event_id % 2 = 1) while the siblings hold everything
    // exactly once across the restart.
    "q71_group_rejoin" ->
      """SELECT 'join' AS kind, 'restarted' AS k, 'true' AS v
        |UNION ALL SELECT 'join', 'new_query_live', 'true'
        |UNION ALL SELECT 'join', 'z_rows_at_join', '0'
        |UNION ALL SELECT 'rows', 'x_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'x_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'z_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1
        |UNION ALL SELECT 'rows', 'z_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1"""
        .stripMargin.replace("\n", " "),

    // Membership-removal closed form: the delete happens with epoch 0
    // committed, so the deleted member's destination froze at the
    // epoch-0 slice while the survivor holds everything exactly once
    // across the narrowed restart.
    "q72_group_member_delete" ->
      """SELECT 'del' AS kind, 'restarted' AS k, 'true' AS v
        |UNION ALL SELECT 'del', 'new_query_live', 'true'
        |UNION ALL SELECT 'del', 'b_gone', 'true'
        |UNION ALL SELECT 'del', 'y_frozen', 'true'
        |UNION ALL SELECT 'rows', 'x_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'x_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'y_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0"""
        .stripMargin.replace("\n", " "),

    // Mid-run member-update closed form: the update happens with
    // epoch 0 committed, so the old destination froze at the epoch-0
    // slice, the new destination holds exactly the post-update epoch
    // (event_id % 2 = 1), and the sibling holds everything exactly
    // once across the restart.
    "q73_group_member_update" ->
      """SELECT 'upd' AS kind, 'restarted' AS k, 'true' AS v
        |UNION ALL SELECT 'upd', 'new_query_live', 'true'
        |UNION ALL SELECT 'upd', 'z_rows_at_update', '0'
        |UNION ALL SELECT 'upd', 'y_frozen', 'true'
        |UNION ALL SELECT 'rows', 'x_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'x_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'y_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'y_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'z_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1
        |UNION ALL SELECT 'rows', 'z_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1"""
        .stripMargin.replace("\n", " "),

    // Solo-update closed form (q74): the update happens with epoch 0
    // committed, so the old destination froze at the epoch-0 slice
    // (event_id % 2 = 0), the new destination holds exactly the
    // post-update epoch (event_id % 2 = 1), and nothing is delivered
    // twice.
    "q74_solo_update" ->
      """SELECT 'upd' AS kind, 'restarted' AS k, 'true' AS v
        |UNION ALL SELECT 'upd', 'new_query_live', 'true'
        |UNION ALL SELECT 'upd', 'z_rows_at_update', '0'
        |UNION ALL SELECT 'upd', 'x_frozen', 'true'
        |UNION ALL SELECT 'rows', 'x_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'x_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'z_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1
        |UNION ALL SELECT 'rows', 'z_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1"""
        .stripMargin.replace("\n", " "),

    // Cross-manager update closed form (q76): every request-protocol
    // event is a literal (peer untouched, request pending, non-owner
    // consume refused, owner consumes exactly one, replay consumes
    // zero), and the exactly-once split across the owner's restart is
    // the q74 closed form — old destination froze at the epoch-0
    // slice, new destination holds exactly the post-update epoch.
    "q76_cross_manager_update" ->
      """SELECT 'req' AS kind, 'peer_query_untouched' AS k, 'true' AS v
        |UNION ALL SELECT 'req', 'request_pending', 'true'
        |UNION ALL SELECT 'req', 'b_consume_noop', '0'
        |UNION ALL SELECT 'req', 'z_rows_at_update', '0'
        |UNION ALL SELECT 'req', 'consumed', '1'
        |UNION ALL SELECT 'req', 'reconsumed', '0'
        |UNION ALL SELECT 'upd', 'restarted', 'true'
        |UNION ALL SELECT 'upd', 'new_query_live', 'true'
        |UNION ALL SELECT 'upd', 'x_frozen', 'true'
        |UNION ALL SELECT 'rows', 'x_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'x_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'z_n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1
        |UNION ALL SELECT 'rows', 'z_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 1"""
        .stripMargin.replace("\n", " "),

    // Cross-manager pause/resume closed form (q77): every routed-verb
    // protocol event is a literal (peer untouched, durable status
    // truthful until enacted, non-owner consume refused, owner
    // consumes exactly one in each direction, lock kept across the
    // pause), and exactly-once delivery across the whole
    // pause→resume round trip means the destination equals the
    // corpus.
    "q77_cross_manager_pause" ->
      """SELECT 'req' AS kind, 'peer_query_untouched' AS k, 'true' AS v
        |UNION ALL SELECT 'req', 'status_truthful_until_enacted', 'true'
        |UNION ALL SELECT 'req', 'request_pending', 'true'
        |UNION ALL SELECT 'req', 'b_consume_noop', '0'
        |UNION ALL SELECT 'req', 'a_consumed', '1'
        |UNION ALL SELECT 'pause', 'query_stopped', 'true'
        |UNION ALL SELECT 'pause', 'status_paused_durable', 'true'
        |UNION ALL SELECT 'pause', 'lock_kept', 'true'
        |UNION ALL SELECT 'resume', 'request_pending', 'true'
        |UNION ALL SELECT 'resume', 'owner_enacted', 'true'
        |UNION ALL SELECT 'resume', 'query_live', 'true'
        |UNION ALL SELECT 'resume', 'status_ready_durable', 'true'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Cross-manager stop closed form (q78): the routed stop frees the
    // task (lock released at enactment), the requestor takes it over,
    // and exactly-once across the handoff means the destination
    // equals the corpus.
    "q78_cross_manager_stop" ->
      """SELECT 'req' AS kind, 'peer_query_untouched' AS k, 'true' AS v
        |UNION ALL SELECT 'req', 'b_consume_noop', '0'
        |UNION ALL SELECT 'req', 'a_consumed', '1'
        |UNION ALL SELECT 'stop', 'query_stopped', 'true'
        |UNION ALL SELECT 'stop', 'lock_released', 'true'
        |UNION ALL SELECT 'stop', 'taken_over_by_requestor', 'true'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Cross-manager delete closed form (q79): nothing destroyed until
    // the owner enacts (checkpoint/spec intact literals), the
    // enactment is complete and idempotent (spec and checkpoint gone,
    // re-consume 0), and the delivered epoch-0 slice outlives the
    // pipeline.
    "q79_cross_manager_delete" ->
      """SELECT 'req' AS kind, 'peer_query_untouched' AS k, 'true' AS v
        |UNION ALL SELECT 'req', 'ckpt_intact_until_enacted', 'true'
        |UNION ALL SELECT 'req', 'spec_intact_until_enacted', 'true'
        |UNION ALL SELECT 'req', 'b_consume_noop', '0'
        |UNION ALL SELECT 'req', 'a_consumed', '1'
        |UNION ALL SELECT 'del', 'query_stopped', 'true'
        |UNION ALL SELECT 'del', 'spec_gone', 'true'
        |UNION ALL SELECT 'del', 'ckpt_gone', 'true'
        |UNION ALL SELECT 'del', 'reconsumed_noop', '0'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND event_id % 2 = 0"""
        .stripMargin.replace("\n", " "),

    // Spec-reconciliation closed form (q80): every watch-analog event
    // is a literal (invisible before the tick, discovered Ready,
    // routed verb reachable and enacted, refreshed to the enacted
    // Paused, sweep graced on the first absent tick and done on the
    // second), and exactly-once across the routed round trip means
    // the destination equals the corpus.
    "q80_spec_reconcile" ->
      """SELECT 'rec' AS kind, 'invisible_before_tick' AS k, 'true' AS v
        |UNION ALL SELECT 'rec', 'discovered_ready', 'true'
        |UNION ALL SELECT 'req', 'routed_verb_reachable', '1'
        |UNION ALL SELECT 'req', 'enacted', 'true'
        |UNION ALL SELECT 'rec', 'refreshed_to_paused', 'true'
        |UNION ALL SELECT 'req', 'resume_consumed', 'true'
        |UNION ALL SELECT 'rec', 'sweep_graced_first_tick', 'true'
        |UNION ALL SELECT 'rec', 'swept_second_tick', 'true'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // Catalog-resume-after-crash closed form (q81): every protocol
    // event is a literal (catalog resolves on both managers, the verb
    // routes while the owner lives, the survivor is entitled only
    // after the lease expiry, the restart came from the spec alone
    // and re-took the orphan lock), and exactly-once across the
    // owner's crash means the destination equals the TRANSFORMED
    // corpus — the catalog filter (user_id mod 2 = 0) applied by two
    // different managers' materializations of one spec.
    "q81_catalog_resume_after_crash" ->
      """SELECT 'cat' AS kind, 'catalog_resolves_spec' AS k, 'true' AS v
        |UNION ALL SELECT 'req', 'routed_while_owner_live', 'true'
        |UNION ALL SELECT 'req', 'b_consume_noop_while_live', '0'
        |UNION ALL SELECT 'crash', 'owner_lease_expired', 'true'
        |UNION ALL SELECT 'res', 'no_run_remembered_on_survivor', 'true'
        |UNION ALL SELECT 'res', 'survivor_consumed', '1'
        |UNION ALL SELECT 'res', 'restarted_from_spec_alone', 'true'
        |UNION ALL SELECT 'res', 'relocked_by_survivor', 'true'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND user_id % 2 = 0
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND user_id % 2 = 0"""
        .stripMargin.replace("\n", " "),

    // Catalog update-reassign closed form (q82): every protocol event
    // is a literal (the local update restarted the query, the
    // cross-manager update routed and only the owner consumed it, the
    // paused-update routed, the crash expired the lease, the survivor
    // consumed the orphan and resumed), and exactly-once across four
    // recipes means the destination equals the epoch-partitioned
    // corpus, each epoch filtered by the recipe LIVE when it was
    // delivered — mod 2, then 3, then 5, then the crash-surviving
    // persisted mod 7.
    "q82_catalog_update_reassign" ->
      """SELECT 'upd' AS kind, 'local_param_restart' AS k, 'true' AS v
        |UNION ALL SELECT 'upd', 'local_new_query_live', 'true'
        |UNION ALL SELECT 'upd', 'cross_manager_routed', 'true'
        |UNION ALL SELECT 'upd', 'b_consume_noop_while_owner_live', '0'
        |UNION ALL SELECT 'upd', 'owner_consumed', '1'
        |UNION ALL SELECT 'upd', 'paused_update_routed', 'true'
        |UNION ALL SELECT 'crash', 'owner_lease_expired', 'true'
        |UNION ALL SELECT 'res', 'orphan_reassign_consumed', '1'
        |UNION ALL SELECT 'res', 'survivor_resumed_persisted_recipe', 'true'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND (
        |(event_id % 4 = 0 AND user_id % 2 = 0) OR
        |(event_id % 4 = 1 AND user_id % 3 = 0) OR
        |(event_id % 4 = 2 AND user_id % 5 = 0) OR
        |(event_id % 4 = 3 AND user_id % 7 = 0))
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click' AND (
        |(event_id % 4 = 0 AND user_id % 2 = 0) OR
        |(event_id % 4 = 1 AND user_id % 3 = 0) OR
        |(event_id % 4 = 2 AND user_id % 5 = 0) OR
        |(event_id % 4 = 3 AND user_id % 7 = 0))"""
        .stripMargin.replace("\n", " "),

    // Metadata-update closed form (q75): epoch 0 merges one row per
    // click under key (k1); the mid-run re-key to (k1,k2) makes
    // epoch 1's rows (same k1, k2=1 vs 0) NEW keys, so the final
    // state holds both epochs' images — 2N rows over 2 distinct k2
    // values. A query that silently kept the old key would have
    // replaced them (N rows, 1 k2 value).
    "q75_metadata_update" ->
      """SELECT 'upd' AS kind, 'restarted' AS k, 'true' AS v
        |UNION ALL SELECT 'upd', 'new_query_live', 'true'
        |UNION ALL SELECT 'state', 'n_at_update',
        |CAST(COUNT(*) AS VARCHAR) FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'state', 'n_final',
        |CAST(2 * COUNT(*) AS VARCHAR) FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'state', 'k2_distinct_final', '2'"""
        .stripMargin.replace("\n", " "),

    // Self-demotion closed form: every lease event is a literal (the
    // timer demotes, starts refuse, the lock survives for the
    // reclaimer, the peer takes over), and exactly-once delivery
    // across the demotion means the destination equals the corpus.
    "q69_heartbeat_demotion" ->
      """SELECT 'lease' AS kind, 'live_before_expiry' AS k, 'true' AS v
        |UNION ALL SELECT 'lease', 'self_demoted_by_timer', 'true'
        |UNION ALL SELECT 'lease', 'demoted_start', 'refused'
        |UNION ALL SELECT 'lease', 'lock_kept_for_reclaimer', 'true'
        |UNION ALL SELECT 'lease', 'takeover', 'true'
        |UNION ALL SELECT 'rows', 'n', CAST(COUNT(*) AS VARCHAR)
        |FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'rows', 'n_distinct',
        |CAST(COUNT(DISTINCT event_id) AS VARCHAR)
        |FROM events WHERE event_type = 'click'"""
        .stripMargin.replace("\n", " "),

    // §2.10 closed form: lifecycle transitions, delivered rows,
    // rejected create, dedup group facts — all literals.
    "q62_spi_lifecycle" ->
      """SELECT * FROM (VALUES
        |('state', 'q62a:0', 'Ready'),
        |('state', 'q62a:1', 'Paused'),
        |('state', 'q62a:2', 'Ready'),
        |('state', 'q62a:3', 'Stopping'),
        |('state', 'q62a:4', 'Stopped'),
        |('state', 'q62a:5', 'Ready'),
        |('state', 'q62a:6', 'Deleting'),
        |('rows', 'delivered', '600'),
        |('validate', 'unauthorized_rejected', 'true'),
        |('dedup', 'q62b_prefix', 'q62a'),
        |('dedup', 'group_size', '2')) t(kind, k, v)"""
        .stripMargin.replace("\n", " "),

    "s14_stream_banded_dedup" ->
      s"""WITH ${DataOpsQueries.wordsCte}, ${DataOpsQueries.shinglesCte},
         |${DataOpsQueries.minhashSigCte(16)}, ${DataOpsQueries.bandsCte(4)},
         |f AS (SELECT band, bh,
         |TIMESTAMP '2024-01-01 00:00:00' + MOD(doc, 97) * INTERVAL 1 HOUR AS hr,
         |MOD(doc, 3) AS bt FROM bands),
         |kb AS (SELECT DISTINCT band, bh, hr, bt FROM f),
         |wmt AS (SELECT bb.bt AS bt, (SELECT MAX(hr) FROM f WHERE f.bt < bb.bt)
         |- INTERVAL 30 MINUTE AS w FROM (SELECT DISTINCT bt FROM f) bb)
         |SELECT DISTINCT kb.band, kb.bh, kb.hr
         |FROM kb LEFT JOIN wmt ON wmt.bt = kb.bt
         |WHERE wmt.w IS NULL OR kb.hr >= wmt.w"""
        .stripMargin.replace("\n", " "),

    // Timer replay: batch b = time-range third (ms thresholds lo +
    // (hi-lo)//3 steps from a min/max aggregate — the same integer
    // arithmetic the Spark harness runs), so the run-b watermark is
    // the global max event ms over thirds <= b (delay 0). A pending
    // session (rows since the last fire) fires at run b's trailing
    // no-data batch iff wm[b] >= session_last + gap; firing clears
    // state, so the next third's rows start a new session. With 3
    // runs the composition enumerates over (fire0, fire1): f1/f2
    // carry each branch's session count and last-event ms.
    "s13_session_timeout" -> {
      val G = 86400000L
      s"""WITH raw AS (SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
         |FROM events),
         |bnd AS (SELECT MIN(ms) AS lo, (MAX(ms) - MIN(ms)) // 3 AS st FROM raw),
         |t AS (SELECT raw.*,
         |CASE WHEN ms < lo + st THEN 0
         |WHEN ms < lo + 2 * st THEN 1 ELSE 2 END AS b
         |FROM raw CROSS JOIN bnd),
         |g AS (SELECT MAX(CASE WHEN b <= 0 THEN ms END) AS g0,
         |MAX(CASE WHEN b <= 1 THEN ms END) AS g1, MAX(ms) AS g2 FROM t),
         |u AS (SELECT user_id,
         |MAX(CASE WHEN b = 0 THEN ms END) AS m0,
         |CAST(COUNT(CASE WHEN b = 0 THEN 1 END) AS BIGINT) AS c0,
         |MAX(CASE WHEN b = 1 THEN ms END) AS m1,
         |CAST(COUNT(CASE WHEN b = 1 THEN 1 END) AS BIGINT) AS c1,
         |MAX(CASE WHEN b = 2 THEN ms END) AS m2,
         |CAST(COUNT(CASE WHEN b = 2 THEN 1 END) AS BIGINT) AS c2
         |FROM t GROUP BY user_id),
         |f0 AS (SELECT u.*, g.*,
         |(m0 IS NOT NULL AND g0 >= m0 + $G) AS fire0 FROM u CROSS JOIN g),
         |f1 AS (SELECT *,
         |CASE WHEN fire0 THEN (m1 IS NOT NULL AND g1 >= m1 + $G)
         |ELSE ((m0 IS NOT NULL OR m1 IS NOT NULL)
         |AND g1 >= GREATEST(COALESCE(m0, 0), COALESCE(m1, 0)) + $G)
         |END AS fire1,
         |CASE WHEN fire0 THEN c1 ELSE c0 + c1 END AS n1,
         |CASE WHEN fire0 THEN m1
         |ELSE GREATEST(COALESCE(m0, 0), COALESCE(m1, 0)) END AS l1
         |FROM f0),
         |f2 AS (SELECT *,
         |CASE WHEN fire1 THEN (m2 IS NOT NULL AND g2 >= m2 + $G)
         |WHEN fire0 THEN ((m1 IS NOT NULL OR m2 IS NOT NULL)
         |AND g2 >= GREATEST(COALESCE(m1, 0), COALESCE(m2, 0)) + $G)
         |ELSE ((m0 IS NOT NULL OR m1 IS NOT NULL OR m2 IS NOT NULL)
         |AND g2 >= GREATEST(COALESCE(m0, 0), COALESCE(m1, 0),
         |COALESCE(m2, 0)) + $G)
         |END AS fire2,
         |CASE WHEN fire1 THEN c2 WHEN fire0 THEN c1 + c2
         |ELSE c0 + c1 + c2 END AS n2,
         |CASE WHEN fire1 THEN m2
         |WHEN fire0 THEN GREATEST(COALESCE(m1, 0), COALESCE(m2, 0))
         |ELSE GREATEST(COALESCE(m0, 0), COALESCE(m1, 0), COALESCE(m2, 0))
         |END AS l2
         |FROM f1)
         |SELECT user_id, c0 AS n_events, m0 AS last_ts_ms FROM f2 WHERE fire0
         |UNION ALL SELECT user_id, n1, l1 FROM f2 WHERE fire1
         |UNION ALL SELECT user_id, n2, l2 FROM f2 WHERE fire2"""
        .stripMargin.replace("\n", " ")
    },

    // s09's rule plus the first-seen batch: MIN(b) per user is exactly
    // what a state store that survived every restart reports as
    // first_batch.
    "s11_tws_counter" ->
      """WITH f AS (SELECT user_id, MOD(event_id, 3) AS b FROM events),
        |pb AS (SELECT user_id, b, COUNT(*) AS n FROM f GROUP BY user_id, b)
        |SELECT user_id,
        |CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY b) AS BIGINT) AS n_events,
        |CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY b) AS BIGINT)
        |AS n_batches,
        |CAST(MIN(b) OVER (PARTITION BY user_id) AS BIGINT) AS first_batch
        |FROM pb""".stripMargin.replace("\n", " "),

    // Each batch b a user appears in emits the post-batch running
    // totals: cumulative event count and 1-based batch ordinal —
    // exactly the per-(user, present-batch) window over batch counts.
    "s09_stateful_counter" ->
      """WITH f AS (SELECT user_id, MOD(event_id, 3) AS b FROM events),
        |pb AS (SELECT user_id, b, COUNT(*) AS n FROM f GROUP BY user_id, b)
        |SELECT user_id,
        |CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY b) AS BIGINT) AS n_events,
        |CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY b) AS BIGINT)
        |AS n_batches
        |FROM pb""".stripMargin.replace("\n", " "),

    // Multi-batch rule: batch b = event_id % 3; a row survives iff its
    // window was still open under the watermark established by earlier
    // batches (ms-truncated max ts of batches < b, minus the 30-minute
    // allowance); a window is emitted iff its end is <= the final
    // watermark. Batch 0 faces no watermark (correlated MAX over an
    // empty set is NULL -> the OR short-circuits).
    "s08_multibatch_watermark" ->
      """WITH f AS (SELECT ts, event_type, MOD(event_id, 3) AS b FROM events),
        |m AS (SELECT b, date_trunc('milliseconds', MAX(ts)) AS mx FROM f GROUP BY b),
        |k AS (SELECT f.ts, f.event_type FROM f WHERE f.b = 0
        |OR date_trunc('hour', f.ts) + INTERVAL 1 HOUR >
        |(SELECT MAX(m.mx) FROM m WHERE m.b < f.b) - INTERVAL 30 MINUTE)
        |SELECT date_trunc('hour', ts) AS win, event_type, COUNT(*) AS n
        |FROM k
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <=
        |(SELECT MAX(m.mx) FROM m) - INTERVAL 30 MINUTE
        |GROUP BY 1, 2""".stripMargin.replace("\n", " "))

  // The managed rebuild verb (s33) shares s32's closed form VERBATIM:
  // corpus plan, codebooks, probes, serves, and phases are identical —
  // the gate changes WHO drives the dance (three REST calls against
  // the management plane), which the oracle cannot see and must not
  // change a single row of.
  val oracles: Map[String, String] = oracles0 +
    ("s33_rebuild_verb" -> oracles0("s32_pq_rebuild_cutover"))
}

package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * Durable hive-partitioned, epoch-committed parquet store with a
 * bounded in-run view, SIZE-TIERED generation compaction, and
 * snapshot-consistent reads — the persistence half shared by
 * [[IncrementalLexIndex]] (postings partitioned by term-hash bucket)
 * and [[IncrementalVectorIndex]] (vectors partitioned by IVF cell).
 * One crash protocol, two indexes.
 *
 * Layout under `dir`:
 *  - `<partCol>=<v>/<epoch file of ns>` — epoch data, committed
 *    through [[EpochCommit.epochAppendPartitioned]] (whole-epoch
 *    marker: an epoch is visible in all partitions or none). `<ns>` is
 *    the RAW namespace (`<name>.p`) for ingest epochs and a per-level
 *    RUN namespace (`<name>.g<L>`) for compacted runs; `<name>.g`
 *    without a level digit is the legacy full-rewrite namespace, still
 *    honored on read.
 *  - [[EpochCommit]]'s epoch/run markers. Raw-epoch markers are
 *    kept FOREVER (they are the replay protection); run markers only
 *    until the run is superseded.
 *  - `_compact_state-<L>-<lo>-<hi>` — compacted run: level `L`
 *    holding the merged rows of raw epochs `[lo, hi]`. Written
 *    create-once AFTER the run's data commits, and ONLY the NAME is
 *    authoritative (the body is never parsed, so a torn write can
 *    neither brick recovery nor under-sweep). `_compact_state-<g>`
 *    (one number) is the legacy full-rewrite record, read as a
 *    level-1 run `[0, g]`.
 *
 * WHY TIERS. The previous design rewrote the ENTIRE store every
 * `compactEvery` epochs — file-count-flat, but quadratic total write
 * volume over a long ingest (Σ i·b ≈ b·E²/2 bytes for E epochs): a
 * month-long 100 TB ingest would spend ever-growing O(corpus)
 * wall-time on every cadence tick. Tiered generations bound it:
 *  - A cadence tick merges ONLY the raw epochs since the last tick
 *    into one new LEVEL-1 run (cost O(new data)).
 *  - When a level accumulates `tierFanIn` live runs, they merge into
 *    ONE run at the next level up.
 *  Each byte is rewritten at most once per level, so total write
 *  volume is O(N · levels) = O(N · log_T N), while the serving
 *  fan-out stays ≤ `tierFanIn · levels` files per partition value —
 *  still flat in epoch count.
 *
 * READ SNAPSHOTS. All fresh reads (the in-run view's bootstrap and
 * refresh, [[snapshotFrame]], cross-JVM [[EpochPartitionedStore
 * .readSnapshot]]) go through ONE live-file computation that lists
 * the durable RUN RECORDS FIRST, then data files, then keeps exactly
 * (a) raw files of marker-committed epochs beyond the compacted
 * frontier and (b) files of recorded, non-superseded runs. Because
 * records are create-once and sweeping is DEFERRED BY ONE CADENCE
 * TICK (a tick first deletes what the PREVIOUS tick superseded, then
 * merges), a snapshot's files remain on disk for at least one full
 * compaction cadence after it is taken — a concurrent reader never
 * races the sweep, without reinventing a table format. Mid-publish
 * epochs are invisible (no marker yet), mid-publish runs are
 * invisible (no record yet): snapshots are committed-prefix-exact.
 *
 * Crash contract (single maintenance thread — the foreachBatch loop;
 * recovery runs ONLY in this owner's constructor, never on a
 * read-only snapshot path):
 *  - A crashed EPOCH append left no marker; the streaming replay of
 *    that epoch redoes it through the epochAppend redo path before
 *    anything reads the store again.
 *  - A crashed RUN merge is rolled back or completed by the next
 *    constructor: run files (or markers) with no state record never
 *    happened (their inputs are still present — nothing is deleted
 *    before the NEXT tick after the record lands) and are removed;
 *    the recorded runs' sweep is re-run (idempotent).
 *
 * `onSweep(gen, upTo)` lets the owner sweep sibling artifacts on the
 * same cadence (the lexical index compacts its cumulative stats rows
 * there); it runs inside the deferred sweep and constructor recovery
 * and must be idempotent.
 */
final class EpochPartitionedStore(spark: SparkSession, val dir: String,
    partCol: String, name: String,
    refreshEvery: Int = DurableIndexView.DefaultRefreshEvery,
    compactEvery: Int = 0,
    tierFanIn: Int = EpochPartitionedStore.DefaultTierFanIn,
    onSweep: (Long, Long) => Unit = (_, _) => ()) {
  import EpochPartitionedStore._
  require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
  require(tierFanIn >= 2, s"tierFanIn must be >= 2, got $tierFanIn")
  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs = new Path(dir).getFileSystem(conf)
  private val names = StoreNames(name)
  private var view: Option[DurableIndexView] = None
  // write-amplification telemetry: bytes of input files re-read and
  // re-written by compaction, last tick and cumulative — the
  // quantities the scale probe bounds (per-tick ~ O(new data),
  // cumulative ~ O(total data · levels), never quadratic)
  private var lastTickRewrite = 0L
  private var totalRewrite = 0L
  private var totalEpochCoverage = 0L

  recover()

  // Newest epoch the store (and therefore any fresh-read view)
  // already contains: a REPLAYED epoch (epoch <= this) must not
  // extend the view — its files are already in the view's fresh read,
  // and a second union of the same rows would double every aggregate
  // computed over the store. MARKER-based (committedEpochCeiling),
  // never file-name-based: fresh reads are marker-gated, so a crashed
  // mid-publish epoch's markerless files must not raise the ceiling —
  // a view built before that epoch's replay would otherwise skip the
  // replay's extend (epoch <= ceiling) and permanently miss its rows.
  private def storeCeiling: Long =
    math.max(committedEpochCeiling, frontier(recordedRuns(fs, dir)))
  private var lastSeenEpoch: Long = storeCeiling
  // Serializes view creation/extension/reset between the maintenance
  // thread and concurrent reader threads: a reader-created fresh view
  // already contains the in-flight epoch's committed files, and an
  // unsynchronized extend right after would union them twice.
  private val viewLock = new Object

  /** Roll back unrecorded run attempts (files and markers in a run
    * namespace whose (level, hi) has no state record), then re-run
    * the recorded runs' sweep — both idempotent, both no-ops on a
    * cleanly-closed store. OWNER-ONLY: this deletes files a crashed
    * merge may have half-published; a read-only peer uses
    * [[EpochPartitionedStore.readSnapshot]], which touches nothing. */
  private def recover(): Unit = {
    val runs = recordedRuns(fs, dir)
    val keys = runs.map(runKey).toSet
    val listing = allDataFiles(fs, dir, partCol, names)
    listing.foreach {
      case (k @ (LegacyKind | LevelKind(_)), e, st) =>
        if (!keys.contains((k, e))) fs.delete(st.getPath, false): Unit
      case _ => ()
    }
    runMarkers().foreach { case (ns, k, e) =>
      if (!keys.contains((k, e))) fs.delete(EpochCommit.marker(dir, ns, e), false): Unit
    }
    // the rollback above already deleted unrecorded entries from the
    // listing's view of disk; re-deleting is a harmless false return
    sweepSuperseded(runs, listing)
  }

  /** The committed markers of every RUN namespace (legacy and
    * leveled; never the raw namespace — raw markers are the replay
    * protection and live forever), as (namespace, kind, epoch) —
    * lazily, one namespace listed at a time. */
  private def runMarkers(): Iterator[(String, Kind, Long)] =
    EpochCommit.markerNamespaces(fs, dir).iterator.flatMap { ns =>
      kindOf(ns, names) match {
        case Some(k @ (LegacyKind | LevelKind(_))) =>
          EpochCommit.committedEpochs(fs, dir, ns).map(e => (ns, k, e))
        case _ => Nil
      }
    }

  /** THE DEFERRED SWEEP: delete everything the current records
    * supersede — raw epochs at or below the compacted frontier,
    * runs covered by a recorded higher-level (or newer legacy) run,
    * their markers and their state records — and fire the owner's
    * `onSweep` at the frontier. Runs at the START of a compaction
    * tick (and in recovery), so files superseded by tick T survive
    * until tick T+1: the snapshot grace window. Idempotent. `runs`
    * and `files` are the caller's already-taken listings (ONE
    * state-record glob and ONE data-file glob serve the whole tick —
    * object stores pay real RPCs per listing; deleting an
    * already-deleted entry is a harmless false return). */
  private def sweepSuperseded(runs: Seq[Run],
      files: Seq[(Kind, Long, FileStatus)]): Unit = {
    if (runs.isEmpty) return
    val fr = frontier(runs)
    val dead = runs.filter(r => isSuperseded(r, runs))
    val deadKeys = dead.map(runKey).toSet
    files.foreach {
      case (RawKind, e, st) =>
        if (e <= fr) fs.delete(st.getPath, false): Unit
      case (k, e, st) =>
        if (deadKeys.contains((k, e))) fs.delete(st.getPath, false): Unit
    }
    runMarkers().foreach { case (ns, k, e) =>
      if (deadKeys.contains((k, e))) fs.delete(EpochCommit.marker(dir, ns, e), false): Unit
    }
    dead.foreach(r => fs.delete(stateFile(dir, r), false): Unit)
    onSweep(fr, fr)
  }

  /** Live data files, newest-records-first ordering — see
    * [[EpochPartitionedStore.liveFiles]]. */
  private[streaming] def liveDataFiles(): Seq[FileStatus] =
    liveFiles(fs, dir, partCol, names)

  /** Does the store hold any committed data files? */
  def hasData: Boolean = view.nonEmpty || liveDataFiles().nonEmpty

  /** Highest epoch DURABLY COMMITTED into the store — marker-based
    * (raw-epoch markers are kept forever), so an epoch whose batch
    * produced no data files still counts, and compaction (which
    * sweeps files but never raw-epoch markers) cannot lower it.
    * Long.MinValue before the first commit. Owners whose sibling
    * stores commit BEFORE this one (the lexical index's stats
    * accumulator) cap their cold reads here, so a crash between the
    * two commits can never serve stats describing absent data. */
  def committedEpochCeiling: Long =
    EpochCommit.committedEpochs(fs, dir, names.dataNs).foldLeft(Long.MinValue)(math.max)

  private def ensureView(): DurableIndexView = viewLock.synchronized {
    view.getOrElse {
      val v = new DurableIndexView(spark, dir, refreshEvery,
        partitioned = true,
        snapshotFiles = Some(() => liveDataFiles().map(_.getPath.toString)))
      view = Some(v)
      // everything committed so far is in the fresh read — a still-
      // running appendEpoch of the newest epoch must NOT extend again
      lastSeenEpoch = math.max(lastSeenEpoch, storeCeiling)
      v
    }
  }

  /** The bounded in-run view of the store, or None before any data —
    * readers must not force a schema inference over an empty dir. */
  def frameIfAny: Option[DataFrame] =
    if (!hasData) None else Some(ensureView().frame)

  /** One-shot snapshot read (no view state): exactly the committed,
    * non-superseded files at call time, pinned so a compaction tick
    * landing mid-job cannot pull files out from under it (grace
    * window: one full cadence). The in-process sibling of
    * [[EpochPartitionedStore.readSnapshot]]. */
  def snapshotFrame(): Option[DataFrame] = {
    val files = liveDataFiles().map(_.getPath.toString)
    if (files.isEmpty) None
    else Some(spark.read.option("basePath", dir).parquet(files: _*))
  }

  // The store's one committed schema, for the write-side
  // epoch-invariance guard below. Lazily seeded: from the first
  // append on an empty store, or from the existing view's resolved
  // schema (one footer, already paid by the view) when a fresh
  // instance appends to a dir with data.
  private var recordedShape: Option[Seq[(String, String)]] = None
  // appends between guard-pass and write-outcome; a failed first
  // append only rolls its provisional shape back when this is zero
  private var appendsInFlight = 0
  // name+type, partCol excluded (directory-encoded on disk), sorted
  // by name, nullability normalized away (parquet roundtrips may
  // tighten containsNull and must not trip the guard)
  private def dataShape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.filterNot(_.name == partCol)
      .map(f => (f.name, f.dataType.sql)).sortBy(_._1)

  /** Commit one epoch's rows (which must carry `partCol`), extend the
    * view by exactly this epoch's files (replays never double-extend),
    * and compact when the cadence lands. Idempotent per epoch.
    *
    * Schema epoch-invariance is ENFORCED here, not assumed:
    * [[EpochPartitionedStore.readSnapshot]] applies one footer's
    * schema to the whole file set, so a drifting append (column
    * added/retyped in a later epoch) would be silently masked at read
    * time — missing columns read as null — instead of failing. The
    * guard makes the drift fail loudly at the write. */
  def appendEpoch(frame: DataFrame, epoch: Long): Unit = {
    val incoming = dataShape(frame.schema)
    // check AND record under one lock hold (two concurrent first
    // appends with different shapes must not both pass the guard);
    // the LAST append out of a failed flight rolls the phantom shape
    // back when nothing was committed, so a corrected retry on an
    // empty store is not poisoned by the failed attempt
    viewLock.synchronized {
      val existing = recordedShape.orElse(
        if (hasData) Some(dataShape(ensureView().frame.schema)) else None)
      existing.foreach { e =>
        require(e == incoming, s"store $name at $dir: epoch $epoch " +
          s"schema ${incoming.mkString(",")} drifts from the store's " +
          s"committed schema ${e.mkString(",")} — an epoch-partitioned " +
          "store has ONE schema for its lifetime (readSnapshot applies " +
          "one footer to every file)")
      }
      recordedShape = Some(incoming)
      appendsInFlight += 1
    }
    val files =
      try EpochCommit.epochAppendPartitioned(
        frame, dir, partCol, epoch, names.dataPipe)
      catch {
        case t: Throwable =>
          viewLock.synchronized {
            appendsInFlight -= 1
            // NOT gated on `provisional`: when the provisional append
            // fails first (sibling in flight, rollback skipped) and
            // the SIBLING then also fails, the sibling is the last
            // one out and must do the rollback — the remaining
            // conjuncts (no one in flight, this very shape, nothing
            // committed) already confine it to the phantom case
            if (appendsInFlight == 0 &&
                recordedShape.contains(incoming) && !hasData)
              recordedShape = None
          }
          throw t
      }
    viewLock.synchronized {
      appendsInFlight -= 1
      if (epoch > lastSeenEpoch) {
        if (view.isEmpty) { if (files.nonEmpty) ensureView(): Unit }
        else view.get.extend(files)
        lastSeenEpoch = epoch
      }
    }
    if (compactEvery > 0 && (epoch + 1) % compactEvery == 0) compact(epoch)
  }

  /** Merge `inputs` into ONE run at `level` covering raw epochs
    * `[lo, hi]`: one shuffle by partition value (each directory ends
    * with ~one file for this run), committed through the partitioned
    * epoch append under the level's namespace, then recorded durably
    * by a create-once state file whose NAME is the whole truth.
    * Publish-before-delete: nothing is removed here — the inputs
    * stay until the NEXT tick's deferred sweep. */
  private def publishRun(level: Int, lo: Long, hi: Long,
      inputs: Seq[FileStatus]): (Run, Seq[FileStatus]) = {
    val in = spark.read.option("basePath", dir)
      .parquet(inputs.map(_.getPath.toString): _*)
      .repartition(col(partCol))
    val published = EpochCommit.epochAppendPartitioned(
      in, dir, partCol, hi, s"$name.g$level")
    val run = Run(level, lo, hi, legacy = false)
    val out = fs.create(stateFile(dir, run), false) // create-once: authority
    try out.write(s"$level-$lo-$hi".getBytes("UTF-8")) finally out.close()
    val bytes = inputs.map(_.getLen).sum
    lastTickRewrite += bytes
    totalRewrite += bytes
    totalEpochCoverage += hi - lo + 1
    (run, published.map(p => fs.getFileStatus(new Path(p))))
  }

  /** One compaction tick at `epoch`: close the grace window (sweep
    * what the PREVIOUS tick superseded), merge the raw backlog into a
    * new level-1 run, then cascade any level that reached `tierFanIn`
    * live runs into the next level up. A replay of the epoch that
    * already triggered a recorded run is a no-op. */
  private def compact(epoch: Long): Unit = {
    // ONE state-record listing and ONE data-file listing serve the
    // whole tick — the replay guard, the sweep, the backlog selection
    // and every cascade level (an object store pays real metadata
    // RPCs per glob). The post-sweep sets are derived, not re-listed:
    // the sweep deletes exactly the superseded records/files
    // (supersession chains end in a live run, so filtering against
    // the full set equals filtering against the survivors; the
    // backlog filter `e > fr` and the live-run key lookups never
    // touch a swept entry), and runs published below enter the map
    // from publishRun's return.
    val runs0 = recordedRuns(fs, dir)
    if (frontier(runs0) >= epoch) return // replayed trigger
    lastTickRewrite = 0L
    val listing = allDataFiles(fs, dir, partCol, names)
    sweepSuperseded(runs0, listing)
    var runs = runs0.filterNot(r => isSuperseded(r, runs0))
    val fr = frontier(runs)
    var runFiles: Map[(Kind, Long), Seq[FileStatus]] = listing
      .collect { case (k @ (LegacyKind | LevelKind(_)), e, st) =>
        ((k, e), st) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rawBacklog = listing
      .collect { case (RawKind, e, st) if e > fr && e <= epoch => st }
    if (rawBacklog.nonEmpty) {
      val (r, published) = publishRun(1, fr + 1, epoch, rawBacklog)
      runs :+= r
      runFiles += runKey(r) -> published
    }
    // cascade: merge whole levels bottom-up. Runs at one level cover
    // contiguous, disjoint epoch ranges by construction (each new
    // level-1 run starts at the global frontier + 1; a merge spans
    // whole runs), so the merged run's [min lo, max hi] has no holes.
    var merged = true
    while (merged) {
      val live = runs.filterNot(r => isSuperseded(r, runs))
      // candidate levels ascending; a level whose runs carry no files
      // (unreachable today — runs publish only from non-empty input
      // sets) is SKIPPED, never a cascade abort: aborting would
      // re-select the same empty level every future tick and
      // permanently block merges at all higher levels
      live.groupBy(_.level).filter(_._2.size >= tierFanIn)
        .keys.toSeq.sorted.iterator
        .map { l =>
          val ins = live.filter(_.level == l)
          (ins, ins.flatMap(r => runFiles.getOrElse(runKey(r), Nil)))
        }
        .find(_._2.nonEmpty) match {
        case Some((ins, files)) =>
          val (r2, published) = publishRun(ins.head.level + 1,
            ins.map(_.lo).min, ins.map(_.hi).max, files)
          runs :+= r2
          runFiles += runKey(r2) -> published
        case None => merged = false
      }
    }
    // the view's union plan may still name files a FUTURE sweep will
    // delete and now double-counts nothing only because fresh reads
    // are record-pinned — swap to one fresh (pinned) read
    viewLock.synchronized(view.foreach(_.reset()))
  }

  /** Committed LIVE data-file count across all partitions (raw
    * backlog + non-superseded runs — exactly what a snapshot reads):
    * the quantity tiered compaction keeps flat in epoch count;
    * probes and specs assert on it. */
  def fileCount: Int = liveDataFiles().size

  /** Bytes of compaction input re-read and re-written by the LAST
    * cadence tick — O(new data) except on the ticks where a tier
    * fills and one level merges up. */
  def lastTickRewriteBytes: Long = lastTickRewrite

  /** Cumulative compaction rewrite bytes over this instance's life —
    * bounded by O(total ingested bytes · levels), the quantity that
    * was quadratic under full-store rewrites. */
  def totalRewriteBytes: Long = totalRewrite

  /** Σ over every run this instance published of the number of raw
    * epochs the run covers — the scale-free write-amplification
    * measure (each epoch counts once per level it has been merged
    * into). Over E epochs at fan-in T this is ≤ E·log_T(E); the old
    * full-store rewrite was Σe ≈ E²/2. Probes and the fuzzer assert
    * on this because at toy scale parquet footer overhead swamps any
    * byte-based comparison. */
  def totalEpochsRewritten: Long = totalEpochCoverage

  /** Operator-facing store health — the numbers the probes assert,
    * readable off /diag for an index-maintaining pipeline. Disk-
    * derived facts (epoch ceiling, compaction frontier, live file/run
    * counts, deepest tier) plus this instance's rewrite counters
    * (zero on a pure reader). `lastCommittedEpoch`/`frontier` are -1
    * before the first commit/compaction. */
  def health: Map[String, Long] = {
    val runs = recordedRuns(fs, dir)
    val live = runs.filterNot(r => isSuperseded(r, runs))
    Map(
      "lastCommittedEpoch" -> math.max(committedEpochCeiling, -1L),
      "compactionFrontier" -> frontier(runs),
      "liveFiles" -> liveFiles(fs, dir, partCol, names, runs).size.toLong,
      "liveRuns" -> live.size.toLong,
      "maxLevel" -> live.map(_.level.toLong).foldLeft(0L)(math.max),
      "rewriteBytesTotal" -> totalRewrite,
      "epochsRewrittenTotal" -> totalEpochCoverage)
  }
}

object EpochPartitionedStore {
  /** Runs per level before they merge into the next level up. 4 keeps
    * serving fan-out ≤ 4·levels files per partition value while each
    * byte is rewritten only ~log₄(E) times over E epochs. */
  val DefaultTierFanIn = 4

  /** A durably-recorded compacted run: the merged rows of raw epochs
    * `[lo, hi]` at tier `level`. `legacy` marks the pre-tiered
    * full-rewrite form (record `_compact_state-<g>`, namespace
    * `<name>.g`), read as a level-1 run `[0, g]`. */
  private[streaming] final case class Run(level: Int, lo: Long, hi: Long,
      legacy: Boolean)

  /** File-name kinds under a store: raw ingest epochs, legacy
    * full-rewrite generations, and leveled runs. */
  private[streaming] sealed trait Kind
  private[streaming] case object RawKind extends Kind
  private[streaming] case object LegacyKind extends Kind
  private[streaming] final case class LevelKind(level: Int) extends Kind

  /** The store's three namespace spellings, derived once from its
    * name. Level namespaces are `dataNs`-disjoint and mutually
    * prefix-unambiguous because '-' is the structural delimiter in
    * file names and digits pass [[PipelineManager.namespaceOf]]
    * unchanged. */
  private[streaming] final case class StoreNames(name: String) {
    val dataPipe: String = s"$name.p"
    val dataNs: String = PipelineManager.namespaceOf(dataPipe)
    val genNs: String = PipelineManager.namespaceOf(s"$name.g")
  }

  private[streaming] def kindOf(ns: String,
      names: StoreNames): Option[Kind] =
    if (ns == names.dataNs) Some(RawKind)
    else if (ns == names.genNs) Some(LegacyKind)
    else if (ns.startsWith(names.genNs) && ns.length > names.genNs.length &&
        ns.drop(names.genNs.length).forall(_.isDigit))
      Some(LevelKind(ns.drop(names.genNs.length).toInt))
    else None

  /** A run's identity as carried by its FILE NAMES: (namespace kind,
    * epoch field) — `hi` for tiered runs, `g` for legacy. */
  private[streaming] def runKey(r: Run): (Kind, Long) =
    (if (r.legacy) LegacyKind else LevelKind(r.level), r.hi)

  private[streaming] def stateFile(dir: String, r: Run): Path =
    if (r.legacy) new Path(dir, s"_compact_state-${r.hi}")
    else new Path(dir, s"_compact_state-${r.level}-${r.lo}-${r.hi}")

  /** Every durably-recorded run, parsed from state-record NAMES only
    * (create-once files; bodies are never read). */
  private[streaming] def recordedRuns(fs: FileSystem,
      dir: String): Seq[Run] =
    Option(fs.globStatus(new Path(dir, "_compact_state-*")))
      .toSeq.flatten
      .flatMap { st =>
        // tolerate strays the same way arity mismatches fall through:
        // recordedRuns sits on EVERY read path (snapshots, health,
        // each tick), so one non-numeric temp/backup artifact must
        // never brick readers with a NumberFormatException
        st.getPath.getName.stripPrefix("_compact_state-").split('-') match {
          case Array(g) => g.toLongOption.map(Run(1, 0L, _, legacy = true))
          case Array(l, lo, hi) =>
            for (li <- l.toIntOption; loL <- lo.toLongOption;
                 hiL <- hi.toLongOption)
              yield Run(li, loL, hiL, legacy = false)
          case _ => None
        }
      }

  /** Does `o` make `r` redundant? A higher-level run whose range
    * contains `r`'s (merges only ever merge whole runs, so ranges
    * nest), or — legacy pair — a newer full rewrite. Same-level
    * tiered runs never supersede each other (disjoint ranges). */
  private def covers(o: Run, r: Run): Boolean =
    o != r && (o.level > r.level || (o.legacy && r.legacy)) &&
      o.lo <= r.lo && o.hi >= r.hi

  private[streaming] def isSuperseded(r: Run, all: Seq[Run]): Boolean =
    all.exists(o => covers(o, r))

  /** Highest raw epoch covered by any recorded run (coverage is
    * contiguous from 0), or -1 before the first run. */
  private[streaming] def frontier(runs: Seq[Run]): Long =
    runs.map(_.hi).maxOption.getOrElse(-1L)

  /** Every committed-contract data file under the store, classified
    * (kind, epoch, status). Files in namespaces this store does not
    * own are ignored. */
  private[streaming] def allDataFiles(fs: FileSystem, dir: String,
      partCol: String, names: StoreNames): Seq[(Kind, Long, FileStatus)] =
    Option(fs.globStatus(
        new Path(dir, s"$partCol=*/${EpochCommit.namespaceFileGlob("*")}")))
      .toSeq.flatten
      .flatMap { st =>
        val n = st.getPath.getName
        if (!EpochCommit.isCommittedEpochFile(n)) None
        else kindOf(EpochCommit.namespaceOfCommittedFile(n), names).map(k =>
          (k, EpochCommit.epochOfCommittedFile(n), st))
      }

  /** THE live-file computation every fresh read goes through.
    * Ordering is the snapshot protocol: (1) run records, (2) raw
    * commit markers, (3) data files — so a run recorded after step 1
    * is excluded while its raw inputs are still listed (they survive
    * ≥ one cadence tick past supersession: the deferred sweep), and
    * an epoch mid-publish after step 2 is excluded entirely. The
    * returned set is therefore always a committed, exactly-once
    * prefix of the ingest. */
  private[streaming] def liveFiles(fs: FileSystem, dir: String,
      partCol: String, names: StoreNames): Seq[FileStatus] =
    liveFiles(fs, dir, partCol, names, recordedRuns(fs, dir))

  /** [[liveFiles]] over an already-listed record set — callers that
    * have just listed the records (health) avoid a second state-file
    * glob. The records-BEFORE-files ordering contract then holds
    * because the caller listed them first. */
  private[streaming] def liveFiles(fs: FileSystem, dir: String,
      partCol: String, names: StoreNames,
      runs: Seq[Run]): Seq[FileStatus] = {
    val fr = frontier(runs)
    val liveKeys = runs.filterNot(r => isSuperseded(r, runs))
      .map(runKey).toSet
    val committed = EpochCommit.committedEpochs(fs, dir, names.dataNs).toSet
    allDataFiles(fs, dir, partCol, names).collect {
      case (RawKind, e, st) if e > fr && committed(e) => st
      case (k @ (LegacyKind | LevelKind(_)), e, st)
        if liveKeys.contains((k, e)) => st
    }
  }

  /**
   * READ-ONLY cross-JVM snapshot of a store another instance (or
   * JVM) maintains: the same committed-prefix live-file set the
   * owner's view reads, pinned with `basePath` so partition pruning
   * survives, touching NOTHING on disk — a standby/serving session
   * must never run the owner's recovery (it could delete a
   * half-published run the owner is about to record). Safe against a
   * concurrent compaction tick for one full cadence (the deferred
   * sweep); None before any committed data. A reader whose JOB
   * outlasts that grace window (a read slower than the owner's
   * cadence) can still lose a swept file mid-job — the contract is
   * retry-on-FileNotFound with a fresh readSnapshot call, never
   * ignoreMissingFiles (which would silently serve a torn,
   * non-prefix result). The forked-JVM reader test exercises exactly
   * this loop against an owner ticking every epoch.
   */
  def readSnapshot(spark: SparkSession, dir: String, partCol: String,
      name: String): Option[DataFrame] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val files = liveFiles(fs, dir, partCol, StoreNames(name))
      .map(_.getPath.toString)
    if (files.isEmpty) None
    else {
      // Schema from ONE footer, applied to the whole set: schema
      // inference over the full file list is both the slowest and the
      // most sweep-exposed step of a cross-JVM read (every footer is
      // a metadata RPC, and a footer vanishing to a concurrent sweep
      // kills the read before any row is touched) — and at 100 TB an
      // inference pass over thousands of files is an object-store RPC
      // storm regardless. The store's schema is epoch-invariant by
      // construction (appendEpoch commits one shape), so one footer
      // plus the basePath partition inference IS the schema.
      // CONTRACT on partCol values: one consistently-parseable type
      // across the whole store (true for every store this engine
      // writes — appendEpochPartitioned stamps a single column type),
      // because the one sampled directory's inferred type is applied
      // to all paths; a store mixing numeric and non-numeric
      // partition values would need full-set inference back.
      val schema = spark.read.option("basePath", dir)
        .parquet(files.head).schema
      Some(spark.read.option("basePath", dir).schema(schema)
        .parquet(files: _*))
    }
  }
}

package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}

import graft.model.{PipelineSpec, PipelineSpecJson, PipelineStatus}

/**
 * Thin pipeline manager: the engine's control plane.
 *
 * One datastream spec = one StreamingQuery; the coordinator, ZooKeeper
 * assignment, leader election and checkpoint providers of the reference
 * (Coordinator.java, ZkAdapter.java, ZookeeperCheckpointProvider.java)
 * collapse into the Spark driver + `checkpointLocation` offset/commit
 * logs, per SURVEY.md §3.1/§7.1. What remains is CRUD + validation +
 * destination-reuse dedup (SourceBasedDeduper.java:66) + lifecycle
 * (pause = stop query keeping checkpoints; resume = restart from them —
 * Spark's native replay contract).
 *
 * Every lifecycle mutation of a pipeline whose query runs under a
 * DIFFERENT live manager is ROUTED to that owner through a durable
 * request its heartbeat tick consumes — update via reassign-requests
 * (q76), pause/stop/resume/delete via lifecycle-requests (q77–q79) —
 * the Spark-native stand-in for the reference's ZK-watch fan-out
 * (every instance observes coordinator state transitions,
 * Coordinator.java:824). A routed verb mutates NOTHING at the
 * requestor: the request file is the durable intent, statuses flip
 * where and when the verb is ENACTED, so reads stay truthful to what
 * the owning query is actually doing.
 */
/**
 * Pluggable control-plane hooks — the engine's SPI surface (SURVEY.md
 * §2.10): Authorizer (reference: api/security/Authorizer.java, used
 * Coordinator.java:2371-2393), update validation (Connector
 * .validateUpdateDatastreams :86), post-state-change action
 * (postDatastreamStateChangeAction :163), custom connectors and
 * transports (the reference's ConnectorFactory / TransportProvider
 * Admin registries, DatastreamServer.java:133-180), and the
 * destination-reuse deduper strategy (SourceBasedDeduper.java:66 —
 * `findExistingDatastream` is an interface, source-based is only the
 * default).
 *
 * Custom connectors/transports are consulted BEFORE the built-ins, so
 * a deployment can both add new short names and override shipped ones.
 */
final case class PipelineHooks(
    authorize: (PipelineSpec, String) => Boolean = (_, _) => true,
    validateUpdate: (PipelineSpec, PipelineSpec) => Unit = (_, _) => (),
    onStateChange: (String, PipelineStatus.Value) => Unit = (_, _) => (),
    connectors: Map[String, (SparkSession, PipelineSpec) => DataFrame] = Map.empty,
    transports: Map[String, PipelineSpec => (DataFrame, Long) => Unit] = Map.empty,
    dedupe: (PipelineSpec, Iterable[PipelineSpec]) => Option[PipelineSpec] =
      (spec, existing) => existing.find(_.sourceConnection == spec.sourceConnection),
    // Declarative transform catalog (q81): name → factory taking the
    // RESERVED `transform.*` slice of the spec's metadata (the
    // transform's params live there as plain strings —
    // PipelineManager.TransformParamsPrefix; every key a factory can
    // see is delivery-relevant, so a param update reassigns a
    // running query, q82). A spec that names its transform
    // (metadata("transform")) is a COMPLETE materialization recipe —
    // any manager sharing the hooks can restart the pipeline from the
    // shared checkpoint without the owner's closure, the reference's
    // the-spec-is-data property (Coordinator.java:920
    // handleAssignmentChange materializes an assigned task from the
    // ZK-stored Datastream; AbstractKafkaConnector.java:152). BYO
    // closures still work everywhere; they just aren't routable.
    transforms: Map[String, Map[String, String] => DataFrame => DataFrame] =
      Map.empty)

/** Thrown when a LIVE manager instance already owns a pipeline's
  * execution lock — the reference's failed task acquire: a
  * DatastreamTask is exclusively owned via a ZK ephemeral lock node
  * (DatastreamTask acquire/release, DatastreamTaskImpl.java:126-139;
  * lock paths ZkAdapter.java:123) and a second live instance's
  * acquire times out rather than double-running the task. */
/** Domain steps of one managed index rebuild (the s32 protocol): the
  * implementation owns the new store's location, the raw-corpus
  * backfill plan, and the serving swap; [[PipelineManager
  * .startIndexRebuild]] owns sequencing, progress, and the cutover
  * gate. The live index must keep serving bit-identically until
  * [[cutover]] — implementations build the new store BESIDE it,
  * never re-encode in place. */
trait IndexRebuilder {
  /** Backfill epochs the plan commits (cutover requires the new
    * store's committed ceiling to reach `planEpochs - 1`). */
  def planEpochs: Long
  /** Commit raw-corpus epoch `epoch` into the NEW store. Idempotent
    * per epoch (the stores' append contract). */
  def backfillEpoch(epoch: Long): Unit
  /** The live (old) store's committed ceiling — progress telemetry. */
  def oldCeiling: Long
  /** The new store's committed ceiling — the cutover gate input. */
  def newCeiling: Long
  /** Swap serving to the new store and sweep the old one. Runs only
    * after the ceiling gate passed. */
  def cutover(): Unit
}

/** One rebuild's observable state (`/diag/{name}` + GET
  * /pipelines/{name}/rebuildIndex): `state` is backfilling →
  * complete | failed. */
final case class RebuildProgress(state: String, planEpochs: Long,
    epochsDone: Long, oldCeiling: Long, newCeiling: Long,
    error: String = "")

final case class PipelineLockedException(pipeline: String, lockedBy: String)
  extends IllegalStateException(s"pipeline $pipeline locked by live instance $lockedBy")

final class PipelineManager(spark: SparkSession, checkpointRoot: String,
    hooks: PipelineHooks = PipelineHooks(), instance: String = "",
    livenessLeaseMs: Long = 0L, autoHeartbeat: Boolean = false,
    heartbeatIntervalMs: Long = 0L) {

  /** This manager's live-instance identity — the analog of the
    * reference coordinator's ZK `/liveinstances/<id>` registration
    * (ZkAdapter.java joinLeaderElection/liveinstance nodes). Lock
    * ownership below is judged against the LIVE set: a lock whose
    * owner has no live registration is an orphan and is reclaimed. */
  val instanceId: String =
    if (instance.nonEmpty) instance
    else "inst-" + java.util.UUID.randomUUID().toString.take(8)
  // The id names this manager's registration file under the root, so
  // it must be one path component: `a/b` would nest the registration
  // and `..` would leave the root. Rejected, not encoded, so every
  // registration path stays the one managers sharing the root expect.
  require(!instanceId.contains('/') && instanceId != "." && instanceId != "..",
    s"instance id '$instanceId' must be one path component (no '/', not '.' or '..')")

  private val specs = TrieMap.empty[String, PipelineSpec]
  private val queries = new ConcurrentHashMap[String, StreamingQuery]()
  // F2/A4: admission state — (partition column, paused values) per
  // pipeline; applied by start() on EVERY (re)start so the admission
  // invariant survives pause/resume cycles. Durable as the pause-set
  // record (the reference keeps this in ZooKeeper:
  // pausedSourcePartitions on the datastream task), so a
  // NEW manager on the same checkpoint root keeps holding back —
  // otherwise a restart would deliver fresh paused-partition rows
  // while earlier ones sit in holdback.
  private val pausedPartitions = TrieMap.empty[String, (String, Set[String])]
  // Highest specVersion this manager has written OR read per
  // pipeline — the write counter [[persistSpec]] continues. Advanced
  // by every successful spec read ([[specAt]]), so a manager that
  // adopted a peer's file extends the peer's sequence instead of
  // restarting it.
  private val specVersions = TrieMap.empty[String, Long]
  // Every control-plane file under the root goes through `records`
  // (layout, framing, atomic replace); `rootFs` itself serves only the
  // data directories the records locate.
  private val rootFs = new Path(checkpointRoot)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val records = new DurableRecords(rootFs, checkpointRoot)
  loadSpecs()
  loadPausedState()

  // ---- Pipeline execution locks (D4 at the manager level): a
  // pipeline may run under exactly ONE live manager sharing a durable
  // root. The lock is an atomically-created file carrying the owner's
  // instanceId (HDFS create-without-overwrite is the atomic
  // primitive, standing in for the reference's ZK ephemeral lock
  // node); liveness is the owner's instance registration, so a dead
  // manager's locks are orphans and are reclaimed by the next
  // acquirer — the reference's cleanUpOrphanLocks sweep. close()
  // models session end (ZK ephemeral expiry): the registration
  // disappears and every lock this instance held goes stale. A
  // multi-host deployment sets livenessLeaseMs > 0 so registrations
  // also age out by heartbeat mod-time (hard-crash detection without
  // close()); in-process managers need only existence. --
  // Config validation BEFORE the registration file exists: a require
  // that fired after registerInstance() would leak a live registration
  // no close() ever removes, blocking every re-construction under the
  // same instance id (existence-only registrations never expire).
  require(!autoHeartbeat || livenessLeaseMs > 0L,
    s"autoHeartbeat requires livenessLeaseMs > 0 (got $livenessLeaseMs): " +
      "existence-only registrations have no lease to refresh or expire")
  registerInstance()

  /** Register this instance's liveness file with an EXCLUSIVE create.
    * Overwriting an existing registration would refresh a dead
    * same-id registration's mod-time and make its stale locks look
    * live again while a peer may be mid-reclaim — the "expired
    * session cannot come back" contract extends to rebirths. A
    * registration that is still LIVE (existence-only mode, or within
    * its lease) is therefore a hard construction error (duplicate
    * instanceId, or a static-named host restarting before its lease
    * ran out — the reference rejects a second coordinator joining
    * under an occupied ZK liveinstance name the same way). Only an
    * EXPIRED same-id registration is fenced: the predecessor's stale
    * locks are reclaimed FIRST through the same tombstone rename-
    * verify protocol peers use (a blind delete could remove a rival
    * reclaimer's freshly-won lock), then the stale registration is
    * replaced — so the new incarnation starts with no inherited
    * ownership at all. */
  private def registerInstance(): Unit = {
    val p = records.instance(instanceId)
    // only "the file exists" means lost-the-race; a transient IO
    // failure surfaces as itself, never misread as "already
    // registered and live"
    def tryCreate(): Boolean = records.createExclusive(p, Array.emptyByteArray)
    if (tryCreate()) return
    if (instanceLive(instanceId))
      throw new IllegalStateException(s"instance $instanceId is already " +
        s"registered and live on $checkpointRoot; a crashed predecessor " +
        "under a static name becomes replaceable one lease after its " +
        "last heartbeat")
    // expired predecessor: sweep its stale locks before re-registering
    // (once registered, those locks would read as live-owned by a
    // process that holds no queries for them)
    // (listed paths are the UNQUALIFIED lock paths acquireLock and
    // releaseLock stripe on, so this sweep runs inside the in-JVM
    // monitor the check-then-create protocol requires on local
    // filesystems)
    records.list(records.lockDir, ".lock").foreach { l =>
      PipelineManager.lockStripe(l.path.toString).synchronized {
        val owner = try lockOwner(l.path)
          catch { case _: java.io.IOException => "" }
        if (owner == instanceId)
          try reclaimLockFile(l.path, owner, l.key)
          catch { case _: PipelineLockedException => () } // a rival won it; leave it
      }
    }
    records.delete(p)
    if (!tryCreate())
      throw new IllegalStateException(s"instance $instanceId lost the " +
        s"re-registration race on $checkpointRoot (a same-id rival " +
        "registered concurrently)")
  }

  /** Is `id` a live lock owner? Existence of the registration by
    * default; with `livenessLeaseMs > 0` (the multi-host production
    * setting) the registration must ALSO have been touched within the
    * lease — a hard-crashed peer that never ran close() stops being
    * "live" one lease after its last [[heartbeat]], exactly the ZK
    * session-timeout analog. In-process managers (close() always
    * runs) keep the existence-only default.
    *
    * Only a MISSING registration reports dead; any other filesystem
    * error propagates and aborts the caller's acquire — a transient
    * RPC failure must never be read as "the owner died" (that
    * judgment steals live locks). Lease caveats a deployment must
    * size for: the mod-time is stamped by the owner's clock and read
    * against the checker's, so `livenessLeaseMs` must dominate
    * max cross-host clock skew plus the heartbeat interval (the
    * reference's ZK analog uses the single server-side clock and has
    * neither term). */
  private def instanceLive(id: String): Boolean =
    try {
      val st = records.status(records.instance(id))
      livenessLeaseMs <= 0L ||
        System.currentTimeMillis() - st.getModificationTime < livenessLeaseMs
    } catch { case _: java.io.FileNotFoundException => false }

  /** Refresh this instance's liveness lease (production deployments
    * call this on a timer well under `livenessLeaseMs`; the reference
    * analog is the ZK session heartbeat keeping ephemerals alive).
    *
    * Returns false — and never throws, so a scheduled timer task
    * survives — when the lease could NOT be confirmed: the
    * registration is missing, was already past the lease when
    * touched, or the touch itself failed. A false return is the ZK
    * session-expiry signal: the caller must SELF-DEMOTE (stop its
    * queries; a peer may have legitimately reclaimed its locks) — it
    * must NOT re-register and carry on. Delivery through epochAppend
    * transports stays idempotent across the overlap window either
    * way (commit markers); non-idempotent transports inherit their
    * documented at-least-once contract. An already-expired lease is
    * NOT refreshed — an expired session cannot heartbeat itself back
    * to life (peers may be mid-reclaim on the strength of the stale
    * mod-time), exactly as a ZK session past its timeout is gone.
    * The refresh cutoff is 3/4 of the lease, not the lease itself:
    * the check-then-touch pair is not atomic, so a heartbeat that
    * squeaked in at lease-minus-epsilon could land its touch AFTER a
    * peer's reclaim began. Demoting a quarter-lease early is safe in
    * the only direction that matters (the owner stops before anyone
    * can have reclaimed); the deployment sizes the lease so a quarter
    * of it dominates worst-case touch latency. */
  def heartbeat(): Boolean =
    try {
      val p = records.instance(instanceId)
      val st = records.status(p) // throws FNF if reclaimed/closed
      val fresh = livenessLeaseMs <= 0L ||
        System.currentTimeMillis() - st.getModificationTime <
          livenessLeaseMs - livenessLeaseMs / 4
      if (fresh) records.touch(p, System.currentTimeMillis())
      fresh
    } catch { case _: java.io.IOException => false }

  // ---- Scheduled heartbeat + enforced self-demotion: the runtime
  // loop the [[heartbeat]] contract assigns to the deployment's timer,
  // now shipped in the manager itself (`autoHeartbeat = true`). The
  // reference analog is ZK session expiry propagating into
  // Coordinator.onSessionExpired (Coordinator.java:705,783): the
  // expired coordinator stops its own work; it does not keep producing
  // on the strength of locks a peer may already have reclaimed. ----

  @volatile private var demotedFlag = false

  /** True once this manager has self-demoted on lease expiry. A
    * demoted manager refuses to start queries; its locks stay on disk
    * for peers to reclaim. */
  def isDemoted: Boolean = demotedFlag

  /** Enforce the self-demotion a false [[heartbeat]] demands: stop
    * every query WITHOUT releasing locks (a reclaimer may
    * legitimately own them by now — deleting the lock files here
    * could erase the new owner's lock), flip the affected specs to
    * Stopped IN MEMORY only (a demoted instance must not write to the
    * shared durable store — the reclaiming owner's writes are
    * authoritative), and refuse all further starts. Idempotent. */
  def demote(): Unit = {
    demotedFlag = true
    val affected = queries.keySet().asScala.toSet
    queries.values().asScala.toSet[StreamingQuery]
      .foreach(q => if (q.isActive) q.stop())
    queries.clear()
    affected.foreach { n =>
      specs.updateWith(n)(_.map(_.copy(status = PipelineStatus.Stopped)))
      hooks.onStateChange(n, PipelineStatus.Stopped)
    }
  }

  /** Heartbeat timer: every interval (default lease/4 — the refresh
    * cutoff [[heartbeat]] itself enforces, so the timer can never be
    * the reason a fresh lease reads expired) refresh the lease; on
    * the first false return, [[demote]] and stop ticking — an expired
    * session cannot come back, so there is nothing left to schedule. */
  private val heartbeatExec: Option[java.util.concurrent.ScheduledExecutorService] =
    if (!autoHeartbeat) None
    else {
      // livenessLeaseMs > 0 was validated at construction, BEFORE the
      // registration file was created (an existence-only registration
      // never expires, so a timer would be a 1 ms busy loop that can
      // never demote).
      val interval =
        if (heartbeatIntervalMs > 0L) heartbeatIntervalMs
        else math.max(livenessLeaseMs / 4, 1L)
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, s"graft-heartbeat-$instanceId")
          t.setDaemon(true); t
        })
      // The WHOLE tick body is exception-proofed: a Runnable that
      // throws CANCELS every future execution of a scheduled task, so
      // one unexpected non-IO throw (heartbeat itself never throws,
      // but demote() stops real queries and the consumes walk real
      // filesystems) would silently kill the timer — the owner then
      // never enacts another routed verb, which reads as a hung
      // deadline-poll in whatever test (or deployment) waits on the
      // tick. Log and keep ticking; a demote that failed halfway
      // re-runs on the next tick (idempotent).
      ex.scheduleWithFixedDelay(
        () => try {
          if (!heartbeat()) { demote(); ex.shutdown() }
          else
            // q76: the owner's tick consumes cross-manager
            // reassign-requests AFTER refreshing its lease. A consumed
            // reassign restarts a query inline, so deployments must
            // size livenessLeaseMs over heartbeatIntervalMs plus a
            // restart (the same envelope any slow owner operation
            // already needs); a failure here must never kill the tick.
            try consumeReassignRequests(): Unit
            catch { case scala.util.control.NonFatal(_) => () }
            finally {
              // q77–q79: lifecycle verbs routed from non-owner
              // managers, consumed with the same owner entitlement
              try consumeLifecycleRequests(): Unit
              catch { case scala.util.control.NonFatal(_) => () }
              // peer-created/deleted specs become visible (the
              // ZK-watch stand-in; discovery is what lets a routed
              // verb target a pipeline created after this manager
              // loaded)
              try reconcileSpecs()
              catch { case scala.util.control.NonFatal(_) => () }
            }
        } catch {
          case scala.util.control.NonFatal(e) =>
            Console.err.println(
              s"[graft] heartbeat tick of $instanceId failed " +
                s"(timer keeps ticking): $e")
        },
        interval, interval, java.util.concurrent.TimeUnit.MILLISECONDS): Unit
      Some(ex)
    }

  /** The instanceId a lock file names; "" when it is absent or torn
    * (a created-but-not-yet-written lock). Throws when unreadable. */
  private def lockOwner(p: Path): String = records.fields(p) match {
    case DurableRecords.Found(Seq(owner)) => owner
    case DurableRecords.Unknown(false) =>
      throw new java.io.IOException(s"lock $p unreadable")
    case _ => ""
  }

  /** Acquire (or re-enter) the pipeline's execution lock. Re-entrant
    * for this instance — pause/resume/restart cycles keep ownership,
    * matching the reference's paused-task-keeps-assignment contract.
    * Returns true when the lock was NEWLY acquired, false when this
    * instance already held it (callers rolling back a multi-lock
    * acquisition must release only what they newly took). Throws
    * [[PipelineLockedException]] when another LIVE instance owns it;
    * silently reclaims a dead instance's orphan lock.
    *
    * The exclusive create and the owner write are two steps, so a
    * reader can observe a created-but-not-yet-written lock (empty
    * owner). An empty owner within [[PipelineManager.AcquireGraceMs]]
    * of the file's mod-time is treated as a LIVE in-flight acquire —
    * never reclaimed — so a concurrent acquirer cannot steal a lock
    * whose owner bytes simply haven't landed yet; only an empty lock
    * OLDER than the grace window (a crash between create and write)
    * is an orphan.
    *
    * Atomicity is two-layer: ACROSS processes the exclusive HDFS
    * create is the primitive (atomic on HDFS; the reference's ZK
    * ephemeral create); WITHIN a JVM the per-path monitor below
    * serializes contenders, because the local filesystem's
    * create(overwrite=false) is check-then-create and two in-process
    * managers could otherwise both "win" the same lock file. */
  private[streaming] def acquireLock(name: String): Boolean =
    PipelineManager.lockStripe(records.lock(name).toString)
      .synchronized { acquireLockUnsynced(name) }

  private def acquireLockUnsynced(name: String): Boolean = {
    val p = records.lock(name)
    def tryCreate(): Boolean =
      records.createExclusive(p, DurableRecords.frame(Seq(instanceId)))
    if (tryCreate()) return true
    val owner = lockOwner(p)
    if (owner == instanceId) return false
    if (owner.nonEmpty && instanceLive(owner))
      throw PipelineLockedException(name, owner)
    if (owner.isEmpty) {
      // Grace check for an in-flight rival create. A vanished file
      // (FNF) falls through — the rename below fails cleanly and
      // tryCreate decides. ANY OTHER filesystem error propagates: the
      // same transient-error-is-not-a-death-certificate rule as
      // instanceLive — reading a hiccup as "old empty orphan" would
      // reclaim a live rival's in-flight lock.
      val age =
        try System.currentTimeMillis() - records.status(p).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age < PipelineManager.AcquireGraceMs)
        throw PipelineLockedException(name, "(acquiring)")
    }
    reclaimLockFile(p, owner, name)
    if (tryCreate()) true
    else lockOwner(p) match {
      case `instanceId` => false // another thread of this instance won
      case "" => throw PipelineLockedException(name, "(acquiring)")
      case o2 => throw PipelineLockedException(name, o2)
    }
  }

  /** Remove a lock file judged to belong to dead `owner` — by ATOMIC
    * RENAME to a unique tombstone, then VERIFYING the moved bytes, not
    * a blind delete: rename fails when the source is gone, so of N
    * cross-process reclaimers exactly one moves a given lock file
    * aside (the FS analog of ZK's versioned delete; a blind delete
    * could remove a RIVAL reclaimer's freshly created lock and mint
    * two owners). Moved-content cases:
    *  - matches the dead owner we judged → legitimate reclaim;
    *  - a DIFFERENT written owner → we yanked a rival's fresh lock:
    *    restore it and report that rival live;
    *  - EMPTY but young → a rival's create-to-write window (it won a
    *    reclaim race just before us): restore and report in-flight —
    *    deleting it would mint two owners;
    *  - empty and past the grace window → crashed mid-create, a
    *    genuine orphan.
    * A failed restore NEVER deletes the tombstone (the rival's lock
    * bytes are the audit trail; a stranded _reclaim-* file is
    * reclaim-age garbage, not a lock). Returns normally when the dead
    * lock is gone; throws [[PipelineLockedException]] when the file
    * turned out to be a rival's live or in-flight lock. Callers that
    * go on to acquire still have to win the exclusive create — a
    * rival that created in between is a live owner. */
  private def reclaimLockFile(p: Path, owner: String, name: String): Unit =
    records.moveAside(p).foreach { tombstone =>
      def restoreAndReject(as: String): Nothing = {
        records.restore(tombstone, p): Unit // keep tombstone if dest exists
        throw PipelineLockedException(name, as)
      }
      val moved =
        try lockOwner(tombstone)
        catch { case _: java.io.IOException => restoreAndReject("(acquiring)") }
      if (moved != owner) {
        if (moved.nonEmpty) restoreAndReject(moved)
        val tombAge =
          try System.currentTimeMillis() - records.status(tombstone).getModificationTime
          catch { case _: java.io.IOException => restoreAndReject("(acquiring)") }
        if (tombAge < PipelineManager.AcquireGraceMs)
          restoreAndReject("(acquiring)")
      }
      records.delete(tombstone)
    }

  /** Release the lock if this instance holds it (stop/delete — the
    * task returns to the pool; the reference's task release). The
    * owner-check-then-delete pair cannot delete a peer's lock: a peer
    * can only reclaim while this instance is NOT live, so release
    * first re-confirms its own liveness and SKIPS the delete when its
    * lease has already expired (the lock may legitimately belong to a
    * reclaimer by then; the stale lock it leaves behind is reclaimable
    * by construction). The residual window is one owner-read RPC
    * against the lease length — size `livenessLeaseMs` accordingly. */
  private[streaming] def releaseLock(name: String): Unit = {
    val p = records.lock(name)
    PipelineManager.lockStripe(p.toString).synchronized {
      if (instanceLive(instanceId) && lockOwner(p) == instanceId)
        records.delete(p)
    }
  }

  /** Stop and unregister `name`'s query. A GROUP query (one object
    * registered under several member names by [[startGroup]]) is
    * stopped once and unregistered from EVERY member — otherwise the
    * other members would keep a handle to a dead query while their
    * specs still read Ready, and a later status()/metrics read would
    * report a phantom stream. This is the FORCE scope — [[pause]]/
    * [[stop]]/[[resume]] default to per-member admission inside a
    * group run and only sweep through here under `force = true` (or
    * when stopping the last remaining member). */
  private def stopQueryOf(name: String): Unit =
    Option(queries.remove(name)).foreach { q =>
      q.stop()
      queries.entrySet().removeIf(e => e.getValue eq q)
    }

  // ---- Durable spec store (the reference's
  // ZookeeperBackedDatastreamStore role): every registered spec lives
  // as one JSON record ([[DurableRecords.spec]]), replaced on every
  // mutation and reloaded by a new manager on the same root — a
  // restarted driver sees every pipeline it had, with durable state
  // (checkpoints, holdback, pause sets) intact. ----

  /** Persist `spec` with a MONOTONIC write counter, reflected into the
    * file's modification time: the (mtime, length) stamp
    * [[reconcileSpecs]]'s listing already pays for becomes an EXACT
    * version compare, closing the blind spot where two writes inside
    * one wall-clock mtime granule that leave the file the same length
    * were invisible until a later write moved the stamp.
    * Equality-compared only — nothing anywhere reads a spec file's
    * mtime as a wall-clock time. A filesystem refusing setTimes
    * degrades to the wall-clock stamp (the JSON body still carries the
    * exact specVersion). Cross-writer: the counter is maxed against
    * the version already IN the file before minting, so two managers
    * that both last observed version N can no longer both mint N+1 —
    * the second writer reads the first's N+1 and mints N+2, keeping a
    * third observer's (mtime, length) stamp distinguishing. (Two
    * writers racing INSIDE this read-then-write window can still tie;
    * their enactments were already serialized by the execution lock.)
    * The write is a [[DurableRecords.replace]]: a crash mid-write
    * leaves the previous spec, never a torn one. */
  private def persistSpec(spec: PipelineSpec): Unit = {
    val p = records.spec(spec.name)
    val onDisk = specAt(p).toOption.fold(0L)(_._2)
    val v = specVersions.updateWith(spec.name)(o =>
      Some(math.max(o.getOrElse(0L), onDisk) + 1L)).get
    records.replace(p,
      PipelineSpecJson.writeVersioned(spec, v).getBytes("UTF-8"), mtime = v)
  }

  /** THE spec read: the spec record at `p` with its specVersion (0
    * when unversioned), tri-state. Every complete read advances this
    * manager's [[specVersions]] watermark, so a later [[persistSpec]]
    * continues the file's write sequence instead of restarting it. */
  private def specAt(p: Path): DurableRecords.Read[(PipelineSpec, Long)] = {
    val r = records.read(p) { bytes =>
      val text = new String(bytes, "UTF-8")
      Some((PipelineSpecJson.read(text), PipelineSpecJson.versionOf(text)))
    }
    r.toOption.foreach { case (s, v) =>
      if (v > 0L) specVersions.updateWith(s.name)(o =>
        Some(math.max(o.getOrElse(0L), v))): Unit
    }
    r
  }

  /** `name`'s persisted spec — the durable truth every manager wrote
    * through. Destructive callers act only on positive knowledge:
    * Found, or Absent (the record positively does not exist); Unknown
    * keeps their hands off. */
  private def durableSpec(name: String): DurableRecords.Read[PipelineSpec] =
    specAt(records.spec(name)).map(_._1)

  /** THE spec snapshot: one listing, every record read once. Throws
    * when the listing fails. */
  private def specSnapshot(): Seq[DurableRecords.Read[PipelineSpec]] =
    records.list(records.specDir, ".json").map(l => specAt(l.path).map(_._1))

  /** Every persisted spec — or None when ANYTHING was unreadable
    * (listing or any record): guards that forfeit or re-point holdback
    * state keyed by "destination out of service" must not treat a
    * throttled store as an empty one. Callers doing per-dir checks
    * take this once, not once per dir. */
  private def durableSpecs(): Option[Seq[PipelineSpec]] =
    try {
      val snap = specSnapshot()
      if (!snap.exists(_.isInstanceOf[DurableRecords.Unknown]))
        Some(snap.flatMap(_.toOption))
      else {
        // loud, because the consequence is invisible: while ANY record
        // is unreadable, every forfeit/repair guard holds off
        // (correctly — fail toward keep), so a PERMANENTLY torn record
        // silently disables them all
        Console.err.println(s"[graft] spec snapshot of $checkpointRoot has " +
          "an unreadable record — holdback forfeit/repair suspended " +
          "until it is fixed or removed")
        None
      }
    } catch { case _: java.io.IOException => None }

  private def loadSpecs(): Unit =
    specSnapshot().foreach {
      case DurableRecords.Found(spec) => spec.status match {
        // a mid-flight delete finishes now
        case PipelineStatus.Deleting => records.delete(records.spec(spec.name))
        // a restored spec has no live query: READY/STOPPING collapse
        // to STOPPED (the query died with the previous process;
        // resume() replays from the checkpoint)
        case PipelineStatus.Ready | PipelineStatus.Stopping =>
          specs.put(spec.name, spec.copy(status = PipelineStatus.Stopped))
        case _ => specs.put(spec.name, spec)
      }
      // a record no writer completed must not make every later
      // manager on this root fail to construct
      case DurableRecords.Unknown(_) =>
        Console.err.println(s"[graft] unreadable spec record under " +
          s"$checkpointRoot skipped at load")
      case DurableRecords.Absent => ()
    }

  /** Pause-set record: the name, the partition column, then the
    * paused values; removed once no value is paused. */
  private def persistPausedState(name: String): Unit =
    pausedPartitions.get(name) match {
      case Some((pcol, values)) if values.nonEmpty =>
        records.replace(records.paused(name),
          DurableRecords.frame(name +: pcol +: values.toSeq.sorted))
      case _ => records.delete(records.paused(name))
    }

  private def loadPausedState(): Unit =
    records.list(records.rootDir, ".paused").foreach { l =>
      records.fields(l.path) match {
        case DurableRecords.Found(name +: pcol +: values) if values.nonEmpty =>
          pausedPartitions.put(name, (pcol, values.toSet)): Unit
        case DurableRecords.Found(_) | DurableRecords.Absent => ()
        // a torn record, or one in the unframed pre-store format: its
        // partitions deliver again, so say so
        case DurableRecords.Unknown(_) =>
          Console.err.println(s"[graft] unreadable pause record ${l.path} " +
            "skipped at load: its paused partitions are not restored")
      }
    }

  // The transform/trigger of each group prefix's LAST startGroup call
  // — what a membership-change reassignment restarts with (the
  // reference's Coordinator re-runs assignment with the persisted
  // connector config; here the group query's shape lives in caller
  // code, so the manager remembers it per prefix).
  private val groupRuns =
    TrieMap.empty[String, (DataFrame => DataFrame, Trigger)]

  // The transform/trigger of each pipeline's LAST solo start() — the
  // solo analog of [[groupRuns]]: what a delivery-relevant update()
  // of a RUNNING solo pipeline restarts with (q74). Without it the
  // persisted spec and the running query diverge silently: the
  // delivery closure captured the OLD spec at start. Dropped on
  // stop/delete (closure-retention hygiene, same as groupRuns).
  private val soloRuns =
    TrieMap.empty[String, (DataFrame => DataFrame, Trigger)]

  // A6/A7: last observed per-epoch metrics per pipeline (fed by the
  // observe() aggregation through a StreamingQueryListener).
  private val lastMetrics = TrieMap.empty[String, Map[String, Long]]

  private val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val row = e.progress.observedMetrics.get("graft_metrics")
      // only queries owned by THIS manager — several managers can
      // share one session without cross-polluting each other's metrics.
      // Matched by run id, not query name: a group query ("group-<prefix>")
      // is registered under every member, and each member reports it.
      if (row != null) {
        val m = Map("events" -> row.getAs[Long]("events"),
          "bytes" -> Option(row.getAs[Any]("bytes"))
            .map(_.asInstanceOf[Long]).getOrElse(0L))
        queries.forEach((n, q) =>
          if (q.runId == e.progress.runId) lastMetrics.put(n, m): Unit)
      }
    }
  }
  spark.streams.addListener(listener)

  /** Stop all queries and unregister the listener (managers are
    * session-scoped resources; leaking listeners retains the manager
    * and slows every future progress event). */
  def close(): Unit = {
    heartbeatExec.foreach(_.shutdownNow(): Unit)
    queries.values().asScala.foreach(q => if (q.isActive) q.stop())
    queries.clear()
    groupRuns.clear()
    soloRuns.clear()
    spark.streams.removeListener(listener)
    // Session end (the reference's ZK session close/expiry): the
    // live-instance registration disappears, so every lock this
    // instance held is now an orphan that the next live acquirer
    // reclaims — deliberately NOT deleting the lock files themselves,
    // so the q64 crash-failover path exercises orphan reclamation.
    records.delete(records.instance(instanceId))
  }

  /** Validate + authorize + dedup + register (the "create" DDL).
    * Owner is checked by the Authorizer hook before any resource is
    * provisioned (Coordinator.java:2371-2393 ordering). */
  def create(spec: PipelineSpec, owner: String = "anonymous"): PipelineSpec = {
    requireNotDemoted()
    require(spec.name.nonEmpty, "pipeline name required")
    // "default" is the epoch namespace of anonymous library writers;
    // the rest name top-level entries of the checkpoint root
    require(!DurableRecords.ReservedNames(PipelineManager.namespaceOf(spec.name)),
      s"pipeline name '${spec.name}' is reserved " +
        s"(${DurableRecords.ReservedNames.toSeq.sorted.mkString(", ")})")
    require(hooks.authorize(spec, owner), s"owner $owner not authorized for ${spec.name}")
    require(!specs.contains(spec.name), s"duplicate pipeline ${spec.name}")
    require(spec.sourceConnection.nonEmpty, "source connection required")
    // BYOT conflict (D2): a user-managed destination may serve one
    // pipeline only (Coordinator.java:2416-2432).
    val byotConflict = spec.destinationConnection.nonEmpty &&
      specs.values.exists(_.destinationConnection == spec.destinationConnection)
    require(!byotConflict, s"destination ${spec.destinationConnection} already in use")
    // Destination-reuse dedup (D1): strategy is pluggable; the default
    // is source-based (same source ⇒ share destination).
    val deduped = hooks.dedupe(spec, specs.values) match {
      case Some(existing) if spec.destinationConnection.isEmpty =>
        // Inherits the group's task prefix along with the destination
        // (Coordinator.java:2470-2472): the two streams now form one
        // task group, discoverable via [[findGroup]].
        spec.copy(destinationConnection = existing.destinationConnection,
          metadata = spec.metadata +
            (PipelineManager.TaskPrefixKey -> prefixOf(existing)))
      case Some(existing) =>
        // BYOT with its own destination but a deduped (shared) source
        // still joins the task group — the runtime half of D1 (SURVEY
        // §4's CSE analog): [[startGroup]] can then serve the whole
        // group from ONE query, fanning each micro-batch to the
        // group's distinct destinations instead of scanning the
        // source once per member.
        spec.copy(metadata = spec.metadata +
          (PipelineManager.TaskPrefixKey -> prefixOf(existing)))
      case _ if spec.destinationConnection.isEmpty =>
        // auto-provision a destination (the analog of the reference's
        // Coordinator.createTopic): durable sinks get a real path.
        spec.copy(destinationConnection =
          if (spec.transport == "memory") s"dest-${spec.name}"
          else records.defaultDest(spec.name))
      case _ => spec
    }
    // A unique-source (or BYOT) stream starts its own group: task
    // prefix defaults to the stream's name unless the caller set one
    // (Coordinator.java:2444-2448).
    val prefixed =
      if (deduped.metadata.contains(PipelineManager.TaskPrefixKey)) deduped
      else deduped.copy(metadata =
        deduped.metadata + (PipelineManager.TaskPrefixKey -> deduped.name))
    val ready = prefixed.copy(status = PipelineStatus.Ready)
    // registration is ATOMIC (putIfAbsent): the duplicate require at
    // the top is a fast-fail courtesy; two racing creates of one name
    // must not both succeed (the reference's ZK store gives the same
    // guarantee via the create-znode atomicity)
    require(specs.putIfAbsent(spec.name, ready).isEmpty,
      s"duplicate pipeline ${spec.name}")
    persistSpec(ready)
    provisionDestination(ready)
    hooks.onStateChange(spec.name, PipelineStatus.Ready)
    rejoinRunningGroup(ready)
    ready
  }

  /** Membership-change reassignment (q71): a create() that joined a
    * group whose shared query is CURRENTLY RUNNING restarts that
    * query with the widened membership — the Spark analog of the
    * reference reassigning on datastream add (Coordinator.java:1434 →
    * handleLeaderDoAssignment :1680). The restart resumes from the
    * group checkpoint, so the siblings' destinations see every epoch
    * exactly once (commit markers make any interrupted epoch's replay
    * a no-op) and the new member's destination receives from the
    * first epoch committed after the join. Without a running query
    * there is nothing to reassign: the next startGroup call fans out
    * to the widened membership anyway (destGroups is computed per
    * start). The restart reuses the transform/trigger the running
    * query was started with ([[groupRuns]]). */
  private def rejoinRunningGroup(spec: PipelineSpec): Unit = {
    val prefix = prefixOf(spec)
    PipelineManager.membershipStripe(prefix).synchronized {
      val siblings = findGroup(spec.name).filterNot(_.name == spec.name)
      val runningShared = siblings
        .flatMap(m => Option(queries.get(m.name)))
        .exists(q => q.isActive && q.name == s"group-$prefix")
      if (runningShared) groupRuns.get(prefix).foreach {
        case (transform, trigger) =>
          // startGroup stops the running shared query itself
          // (stopQueryOf per member) before starting the widened one;
          // reAdmitStopped=false — joining a member must not
          // resurrect a sibling its owner explicitly stopped. The new
          // member can never steal a shared destination's marker
          // namespace mid-epoch: destLeader keeps leadership with the
          // namespace that already holds markers.
          // A restart failure must not leave the previously-running
          // siblings silently stopped while create() throws with the
          // spec persisted: unregister the new member (create stays
          // atomic — the caller can retry it) and put the ORIGINAL
          // membership back in service before rethrowing.
          try startGroup(spec.name, transform, trigger,
            reAdmitStopped = false): Unit
          catch {
            case e: Throwable =>
              specs.remove(spec.name)
              try records.delete(records.spec(spec.name))
              catch { case e2: Throwable => e.addSuppressed(e2) }
              // observers saw Ready at registration; tell them the
              // member is gone again (same signal delete() sends)
              try hooks.onStateChange(spec.name, PipelineStatus.Deleting)
              catch { case e2: Throwable => e.addSuppressed(e2) }
              // a failed restore leaves the siblings Stopped too
              // (delete()'s analogous failure path)
              try stoppedOnFailure(siblings.map(_.name))(
                startGroup(siblings.head.name, transform, trigger,
                  reAdmitStopped = false): Unit)
              catch { case e2: Throwable => e.addSuppressed(e2) }
              throw e
          }
      }
    }
  }

  /**
   * K7: destination provisioning admin — the analog of
   * KafkaTransportProviderAdmin.createTopic :285-331 (partition count,
   * replication factor, retention config). For filesystem-backed
   * transports the destination directory is created eagerly and a
   * `_provision.properties` manifest records the requested layout;
   * [[enforceRetention]] applies the retention policy the way the
   * broker would. A Kafka deployment delegates all of this to the
   * broker via the sink's own admin path.
   */
  private def provisionDestination(spec: PipelineSpec): Unit =
    if (spec.transport != "memory" && spec.transport != "kafka" &&
        spec.destinationConnection.startsWith("/")) {
      val dest = new Path(spec.destinationConnection)
      val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dest)
      val partitions = spec.metadata.getOrElse("destPartitions",
        spec.sourcePartitions.max(1).toString)
      val replication = spec.metadata.getOrElse("replicationFactor", "1")
      val retention = spec.metadata.getOrElse("retentionMs",
        PipelineManager.DefaultRetentionMs.toString)
      val out = fs.create(new Path(dest, "_provision.properties"), true)
      try out.write(
        s"partitions=$partitions\nreplication=$replication\nretentionMs=$retention\n"
          .getBytes("UTF-8"))
      finally out.close()
    }

  /**
   * Enforce the provisioned retention on a pipeline's destination:
   * delete data files whose modification time is past the retention
   * window (the broker-side `retention.ms` behavior for the
   * filesystem transports). Returns the number of files removed.
   */
  def enforceRetention(name: String,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val spec = specs.getOrElse(name, sys.error(s"unknown pipeline $name"))
    val dest = new Path(spec.destinationConnection)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(dest, "_provision.properties")
    if (!fs.exists(manifest)) 0
    else {
      val in = fs.open(manifest)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val retentionMs = text.linesIterator
        .collectFirst { case l if l.startsWith("retentionMs=") =>
          l.stripPrefix("retentionMs=").trim.toLong }
        .getOrElse(PipelineManager.DefaultRetentionMs)
      val cutoff = nowMs - retentionMs
      fs.listStatus(dest).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".") && s.getModificationTime < cutoff)
        .count(s => fs.delete(s.getPath, false))
    }
  }

  /**
   * Update a registered spec (the reference's update path,
   * DatastreamResources update :410 → validateUpdateDatastreams).
   *
   * Reassignment contract (q73): a DELIVERY-RELEVANT update — the
   * destination re-pointed — of a member whose group's shared query
   * is RUNNING in this manager triggers the same membership-change
   * restart as create/delete on a running group (the reference
   * reassigns on update through Coordinator.java:1680
   * handleLeaderDoAssignment): the shared query restarts from the
   * group checkpoint, the new destination receives from the first
   * post-update epoch, the old destination receives nothing further,
   * and siblings see every epoch exactly once across the restart
   * (the updated member's old-destination markers migrate to that
   * destination's next leader first, so a delivered-but-uncommitted
   * epoch's replay still no-ops there). A RUNNING SOLO pipeline gets
   * the same treatment (q74): its own query restarts from the
   * per-name checkpoint with the updated spec, so the new destination
   * receives from the first post-update epoch — the reference
   * reassigns every datastream on update, not only grouped ones.
   * Metadata-only updates (pause pins, labels) do NOT restart — the
   * management plane persists pin tables through this path mid-run;
   * delivery-relevant METADATA (cdc shape, directory ordering, flow
   * keys) DOES — see [[PipelineManager.DeliveryRelevantMetadataKeys]].
   */
  def update(name: String, newSpec: PipelineSpec,
      owner: String = "anonymous"): PipelineSpec = {
    requireNotDemoted()
    val existing = specs.getOrElse(name, sys.error(s"unknown pipeline $name"))
    // EVERY judgment below compares against the last-PERSISTED spec,
    // not this manager's map: the map is loaded once at construction
    // and goes stale the moment a peer mutates (q76 opened exactly
    // that door). A stale baseline would (a) skip the reassign when
    // the client's PUT happens to match the stale view while the
    // durable truth differs, and (b) silently REVERT a peer's
    // re-point through the empty-destination carry-over. The local
    // spec only fills in when the durable read fails — in which case
    // it is also the best available truth.
    val baseline = durableSpec(name).toOption.getOrElse(existing)
    require(newSpec.name == name, "pipeline name is immutable")
    require(newSpec.sourceConnection.nonEmpty, "source connection required")
    // same authorize-before-mutate ordering as create (the reference
    // authorizes every mutating call, Coordinator.java:2371-2393)
    require(hooks.authorize(newSpec, owner),
      s"owner $owner not authorized to update $name")
    hooks.validateUpdate(baseline, newSpec)
    // BYOT conflict (D2) holds on the update path too: re-pointing a
    // pipeline at a destination another pipeline already uses would
    // silently interleave two streams into one sink. The reference
    // validates updates as strictly as creates (DatastreamResources
    // update :410 → validateDatastreamsUpdate).
    if (newSpec.destinationConnection.nonEmpty &&
        newSpec.destinationConnection != baseline.destinationConnection) {
      // judged against the DURABLE population, not just this
      // manager's map — a peer-created pipeline's destination is
      // invisible locally, and accepting it would interleave two
      // streams into one sink. FAIL-CLOSED on an unreadable store:
      // rejecting is a retryable error; accepting a conflict is
      // silent data corruption.
      val durable = durableSpecs()
      require(durable.isDefined, "spec store unreadable; cannot " +
        s"validate destination ${newSpec.destinationConnection} for " +
        "conflicts — retry the update")
      val inUse = (specs.values ++ durable.get).exists(s =>
        s.name != name &&
          s.destinationConnection == newSpec.destinationConnection)
      require(!inUse,
        s"destination ${newSpec.destinationConnection} already in use")
    }
    // SOURCE IDENTITY (connector + sourceConnection) is immutable
    // WHILE THE PIPELINE'S EXECUTION LOCK IS HELD: Spark's checkpoint
    // binds the source — on restart the engine re-fetches the last
    // batch from the source metadata log's OLD absolute paths, which
    // a re-pointed file source cannot serve ("Wrong basePath"), and
    // the SS migration guide calls any input-source parameter change
    // across a checkpoint unsupported. Rejecting is the only truthful
    // option (a silent persist diverges forever; a restart crashes
    // the query): stop the pipeline first, then update — the
    // reference likewise surfaces connector-rejected updates as 400s
    // (Coordinator.validateDatastreamsUpdate →
    // DatastreamValidationException, DatastreamResources.java:
    // 296-300). The DURABLE LOCK is the liveness signal, not this
    // manager's queries map: it covers a query running under ANOTHER
    // live manager (the spec store is shared), every member of a
    // running group (startGroup locks each member), and a PAUSED
    // pipeline (pause keeps the lock AND the checkpoint — a resume
    // after a source re-point would hit the same crash). A STOPPED
    // pipeline released its lock and keeps the old contract: the
    // spec persists and the CALLER owns making the next start's
    // checkpoint consistent with it. (Residual cross-JVM window: a
    // start that read the spec and acquires the lock exactly between
    // this check and the persist below — the launcher re-reads the
    // spec after acquiring, so only a sub-RPC interleaving can still
    // pair an old-source query with a new-source spec.)
    if (newSpec.connector != baseline.connector ||
        newSpec.sourceConnection != baseline.sourceConnection) {
      // A GROUPED spec never re-points its source at all: the task
      // group exists because its members share one source (create's
      // dedup), startGroup requires exactly one, and the reference
      // rejects inconsistent sources within an update outright
      // (DatastreamResources.java:268-274 "Sources must be
      // consistent"). Accepting it would leave a group no startGroup
      // can ever run again — and a per-member-stopped member's
      // released lock would otherwise sneak it past the lock check
      // below while the siblings' shared query still runs.
      val prefix = prefixOf(baseline)
      // sibling scan over the DURABLE population too (a peer-created
      // group member is invisible in this manager's map), fail-closed
      // on an unreadable store — wrongly accepting a grouped source
      // re-point leaves a group startGroup can never run again
      val durableForGroup = durableSpecs()
      require(durableForGroup.isDefined, "spec store unreadable; " +
        s"cannot validate $name's task-group membership — retry")
      require(!(specs.values ++ durableForGroup.get).exists(s =>
          s.name != name && prefixOf(s) == prefix),
        s"pipeline $name belongs to task group '$prefix'; group " +
          "sources must stay consistent — delete and recreate to " +
          "re-point the source")
      // An absent lock (a concurrent release just freed it) IS the
      // free case; an unreadable one propagates (reading a hiccup as
      // "free" could accept an update a live query makes wrong).
      val o = lockOwner(records.lock(name))
      require(o.isEmpty || (o != instanceId && !instanceLive(o)),
        s"pipeline $name is running or paused (execution lock held by " +
          s"${if (o == instanceId) "this manager" else o}); its source " +
          "identity (connector/sourceConnection) is bound to the " +
          "retained checkpoint — stop it before re-pointing the source")
    }
    // Server-managed metadata (task prefix, applied partition pins)
    // survives a PUT that was not round-tripped from GET: when the
    // incoming spec omits one of these keys, the existing value is
    // carried over (mirroring how status/destinationConnection are
    // carried); a spec that DOES carry the key — e.g. movePartitions
    // persisting a new pin table through this path — keeps its value.
    val managed = PipelineManager.ServerManagedMetadataKeys.iterator
      .flatMap(k => baseline.metadata.get(k).map(k -> _)).toMap
    val updated = newSpec.copy(status = baseline.status,
      metadata = managed ++ newSpec.metadata,
      destinationConnection =
        if (newSpec.destinationConnection.nonEmpty) newSpec.destinationConnection
        else baseline.destinationConnection)
    // persist first: its watermark bump must precede the map change
    // (see reconcileSpecs)
    persistSpec(updated)
    specs.put(name, updated)
    val destChanged =
      updated.destinationConnection != baseline.destinationConnection
    // q75: delivery-relevant METADATA changes reassign exactly like a
    // destination re-point — the running query's closures captured the
    // old values at start, so only a restart makes the update take
    // effect (the reference reassigns on any update). Server-managed
    // and cosmetic metadata (pin tables, labels) never restart. The
    // same holds for ANY first-class spec field the source/delivery
    // closures capture at start (transport, source partition hint,
    // serde fields — custom connector/transport hooks receive the
    // whole spec); these leave the checkpointed SOURCE untouched, so
    // a restart is safe — unlike source identity, which update()
    // rejects while running (above). One shared predicate
    // ([[deliveryRelevantChange]]) serves this path and the q76
    // cross-manager consumer so the two can never diverge.
    if (destChanged)
      provisionDestination(updated) // a re-point gets the same K7 layout
    if (destChanged || deliveryRelevantChange(updated, baseline))
      reassignUpdatedMember(updated, baseline)
    updated
  }

  // ---- q76: cross-manager update reassignment. A delivery-relevant
  // update() made on a manager that does NOT run the pipeline's query
  // must still reach the manager that does: the reference reassigns
  // via ZK watches on every instance (Coordinator.java:824
  // onAssignmentChange ← handleLeaderDoAssignment :1680). Here the
  // durable store carries a REASSIGN-REQUEST record the OWNING
  // manager consumes on its heartbeat tick: re-read the persisted
  // spec (the requestor already wrote it), then the same
  // stop → move state → restart discipline as a local update. The
  // requestor must NOT run the state move itself — moveOldDestState
  // would migrate the old destination's epoch markers away while the
  // owner still delivers there, eroding the replay dedup they
  // provide. ----

  /** The live manager (not this one) whose locks run `name`'s query,
    * if any — public so control planes (REST) can choose the routed
    * verb BEFORE acting, instead of unwinding a half-applied local
    * one. Checks every group member's lock, not just the updatee's
    * own: a per-member-stopped member holds no lock while the shared
    * query still runs under its siblings'. */
  def liveForeignExecutor(name: String): Option[String] = {
    val memberNames =
      (try findGroup(name).map(_.name) catch { case _: Throwable => Nil }) match {
        case Nil => Seq(name)
        case ms => ms
      }
    memberNames.iterator
      .map(n => lockOwner(records.lock(n)))
      .find(o => o.nonEmpty && o != instanceId && instanceLive(o))
  }

  /** Durable reassign-request: name inside (the file name is the
    * sanitized namespace, not the authority), requestor for
    * diagnostics, and the PREVIOUS destination — the one piece of
    * state a crashed owner takes with it. A surviving manager that
    * consumes the orphan has the persisted NEW spec in its own map
    * too (it may even be the requestor), so without the recorded old
    * destination it would see nothing changed and skip the state
    * move, stranding the old destination's holdback. Overwrite
    * semantics: a second update before consumption just re-requests —
    * the consumer re-reads the persisted spec, so the latest update
    * wins (the oldest recorded previous destination still governs the
    * state move; intermediate destinations never received a lock
    * owner's delivery). */
  private def writeReassignRequest(name: String, prevDest: String): Unit = {
    val p = records.reassign(name)
    // keep the FIRST request's previous destination across overwrites:
    // the owner has been running against it the whole time
    val oldDest = records.fields(p).toOption
      .collect { case Seq(_, _, old) if old.nonEmpty => old }
      .getOrElse(prevDest)
    records.replace(p, DurableRecords.frame(Seq(name, instanceId, oldDest)))
  }

  /** Is `dest` POSITIVELY out of service — no local spec and a fully
    * readable durable snapshot with no match? Unreadable → false
    * (not known unserved; the destructive caller keeps its hands
    * off). Callers with several destinations to judge pass one
    * shared snapshot. */
  private def destinationKnownUnserved(dest: String,
      durable: Option[Seq[PipelineSpec]]): Boolean =
    !specs.values.exists(_.destinationConnection == dest) &&
      durable.exists(!_.exists(_.destinationConnection == dest))

  /** Positive knowledge for the holdback churn guards: `owner`'s spec
    * points at `dest`, or `owner` is positively gone. Unreadable →
    * false — callers fail toward "keep", never toward
    * forfeit/drain/restamp. */
  private def deliversToOrGone(owner: DurableRecords.Read[PipelineSpec],
      dest: String): Boolean = owner match {
    case DurableRecords.Found(s) => s.destinationConnection == dest
    case r => r == DurableRecords.Absent
  }

  /** Consume pending reassign-requests this manager is entitled to
    * act on ([[consumeRequests]]). For each, the persisted spec
    * (written by the requestor's update()) replaces the in-memory
    * one — status kept from the LOCAL view, which is what the running
    * query truthfully reflects — and the standard update-reassign
    * discipline runs ([[reassignUpdatedMember]]: stop → move old-dest
    * state → restart from the shared checkpoint, exactly-once across
    * the restart). The update stands whether the restart succeeds or
    * not, exactly as on the local path (a failed restart leaves
    * truthful Stopped members). Wired to the heartbeat tick; public so
    * deployments with their own timers (and gates) can drive it
    * directly. Returns the number of requests consumed. */
  def consumeReassignRequests(): Int =
    consumeRequests(records.reassignDir, arity = 3) { (req, local, persisted) =>
      // `previous` must describe what the OWNER's query was delivering
      // with. The request RECORDS that destination at request time
      // (kept across overwrites), and it always wins over this
      // manager's map: the requestor's map already carries the new
      // spec (a local read would no-op the consume), and a third
      // manager's map can be arbitrarily stale (a local read would move
      // state from a destination the owner left long ago, stranding the
      // true old destination's holdback). The local spec only fills in
      // for a request that predates the field.
      val recordedOld = req(2)
      val previous =
        if (recordedOld.nonEmpty) local.copy(destinationConnection = recordedOld)
        else local
      val updated = persisted.copy(status = previous.status)
      specs.put(req.head, updated)
      val destChanged = updated.destinationConnection !=
        previous.destinationConnection
      if (destChanged) provisionDestination(updated)
      if (destChanged || deliveryRelevantChange(updated, previous))
        reassignUpdatedMember(updated, previous)
    }

  // ---- Cross-manager lifecycle routing (q77–q79): pause / stop /
  // resume / delete of a pipeline whose query runs under a DIFFERENT
  // live manager. The reference routes every datastream state
  // transition through the coordinator — a REST verb on any instance
  // writes ZK state that the owning instance's watch enacts
  // (DatastreamResources.java:355-546 pause/stop/resume →
  // Coordinator.java:824 onAssignmentChange). Here the verb writes a
  // durable lifecycle-request that the owner's heartbeat tick
  // consumes — the same routing q76 gave update(). Without it a
  // non-owner pause/stop flipped the durable status while the peer's
  // query kept delivering (status lies, delivery diverges), and a
  // non-owner DELETE destroyed the checkpoint out from under the
  // peer's LIVE query. Contract: the routed verb mutates NOTHING —
  // the request file is the durable intent, and statuses flip only
  // where (and when) the verb is enacted, so reads stay truthful
  // everywhere.
  //
  // The queue is APPEND-ONLY (create-once unique files, enacted in
  // write order), NOT one overwritten file per pipeline: the verb IS
  // the intent here, and with overwrite semantics a verb written
  // between the consumer's parse and its delete would be silently
  // LOST (a stop overwriting a pause mid-consume never enacts — the
  // exact lost-update a ZK versioned znode would have rejected;
  // plain filesystems have no compare-and-swap, so the queue removes
  // the race instead of narrowing it). The reassign-request keeps
  // its documented overwrite semantics because ITS authority is the
  // persisted spec, re-read at consume time — nothing is lost with
  // the file overwritten. ----

  private val lifecycleSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Durable lifecycle-request: name (the file name is uniqueness
    * plus intra-requestor order, never the authority), requestor for
    * diagnostics, verb, force flag. Create-once: a burst of verbs
    * from one requestor lands as distinct files whose zero-padded
    * sequence (within the requestor's prefix) preserves issue order;
    * cross-requestor order follows file modification time, the same
    * approximation any two uncoordinated writers already have. The
    * create advances the sequence past any collision: a RESTARTED
    * manager's in-memory sequence starts over, and an overwriting
    * create would destroy a predecessor's still-pending request under
    * the same name. */
  private def writeLifecycleRequest(name: String, verb: String,
      force: Boolean): Unit = {
    val bytes = DurableRecords.frame(Seq(name, instanceId, verb, force.toString))
    while (!records.createExclusive(
        records.lifecycle(name, instanceId, lifecycleSeq.getAndIncrement()), bytes)) ()
  }

  /** Consume pending lifecycle-requests this manager is entitled to
    * act on ([[consumeRequests]]), in WRITE ORDER, so "pause then
    * stop" enacts both, finishing Stopped. Enactment runs the very
    * same local verb core a direct call runs, with locks this manager
    * actually holds; a failed enactment still consumes the request (a
    * failed group-restart inside delete leaves truthful Stopped
    * survivors, and the deletion itself completed). A resume-request
    * restarts from the remembered run when this manager has one, else
    * from the spec's CATALOG transform ([[catalogRun]], q81 — how a
    * resume survives the owner's crash: the spec is data any manager
    * can materialize); only when NEITHER exists is it dropped LOUDLY,
    * enacting nothing — resume locally with [[resume]]
    * (bring-your-own-transform) instead. Wired to the heartbeat tick
    * beside the reassign consume; public so deployments with their
    * own timers (and gates) can drive it directly. Returns the
    * number of requests consumed. */
  def consumeLifecycleRequests(): Int =
    consumeRequests(records.lifecycleDir, arity = 4) { (req, _, _) =>
      val (name, verb, force) = (req.head, req(2), req(3) == "true")
      verb match {
        case "pause" => pauseLocal(name, force)
        case "stop" => stopLocal(name, force)
        case "resume" =>
          try resumeRemembered(name, force)
          catch {
            case e: IllegalStateException =>
              Console.err.println(s"[graft] lifecycle-request " +
                s"resume($name) dropped: ${e.getMessage}")
          }
        case "delete" => deleteLocal(name)
        case other =>
          Console.err.println(s"[graft] lifecycle-request " +
            s"$other($name) dropped: unknown verb")
      }
    }

  /** THE request-queue consumer behind [[consumeReassignRequests]] and
    * [[consumeLifecycleRequests]]: enact, in write order (mod-time,
    * then file name), every complete request (`arity` fields, the
    * pipeline name first) this manager is entitled to act on —
    * pipelines it knows whose queries no LIVE PEER owns (normally the
    * owner; after an owner crash, whichever live manager's tick sees
    * the orphan first — every enactment is idempotent). `enact`
    * receives the request, the local spec and the persisted one; the
    * request is deleted whether it succeeds or not.
    *  - A request whose spec is POSITIVELY gone durably is stale for
    *    everyone and dropped without enacting (enacting would
    *    RESURRECT a deleted spec: pause/stop persist a status flip);
    *    an unreadable spec store keeps it for a later tick — a read
    *    failure must never drop the recorded intent.
    *  - A torn frame (a crashed writer's partial) is GC'd once older
    *    than the create-to-write grace (younger may still be
    *    mid-write); an unreadable one is retried whole on a later
    *    tick. */
  private def consumeRequests(dir: Path, arity: Int)(
      enact: (Seq[String], PipelineSpec, PipelineSpec) => Unit): Int = {
    requireNotDemoted()
    var consumed = 0
    records.list(dir, ".req").sortBy(l => (l.mtime, l.path.getName)).foreach { l =>
      records.fields(l.path).filter(f => f.length == arity && f.head.nonEmpty) match {
        case DurableRecords.Unknown(true) =>
          if (System.currentTimeMillis() - l.mtime > PipelineManager.AcquireGraceMs)
            records.delete(l.path)
        case DurableRecords.Found(req) =>
          val name = req.head
          specs.get(name) match {
            case None =>
              // not this manager's pipeline to judge — unless it is
              // positively gone
              if (durableSpec(name) == DurableRecords.Absent) records.delete(l.path)
            case Some(local) if liveForeignExecutor(name).isEmpty =>
              durableSpec(name) match {
                case DurableRecords.Absent => records.delete(l.path)
                case DurableRecords.Found(persisted) =>
                  try enact(req, local, persisted)
                  finally { records.delete(l.path); consumed += 1 }
                case _ => () // unreadable store: judge on a later tick
              }
            case _ => () // a live peer owns it; their tick consumes
          }
        case _ => () // unreadable, or consumed meanwhile
      }
    }
    consumed
  }

  // names positively absent durably on the PREVIOUS reconcile tick —
  // the two-tick sweep grace (see [[reconcileSpecs]])
  private val sweepCandidates =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // names judged owner-dead-while-Ready on the PREVIOUS reconcile
  // tick — the liveness collapse's own two-tick grace (separate from
  // sweepCandidates: a raw pipeline name could collide with any
  // prefix-encoded key)
  private val collapseCandidates =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // last spec-file (modification time, length) each reconcile acted
  // on, by namespace: refresh reads a file only when the listing
  // (already paid for) shows either moved — zero extra RPCs on quiet
  // ticks. [[persistSpec]] writes its monotonic specVersion INTO the
  // mtime, so this stamp is an exact per-write version compare, not a
  // wall-clock approximation: two writes inside one clock granule
  // that leave the length equal still differ here
  private val specModSeen = TrieMap.empty[String, (Long, Long)]

  // last lock-file (mtime, length) stamp and content per namespace —
  // the locks-dir analog of [[specModSeen]], feeding the tick-scoped
  // owner snapshot below so quiet ticks re-read no lock contents
  private val lockContentSeen = TrieMap.empty[String, ((Long, Long), String)]

  /** One locks-dir listing → namespace → owner (the tick-scoped lock
    * snapshot; round 20's control-plane scale fix): the collapse and
    * sweep hygiene in [[reconcileSpecs]] would otherwise read every
    * foreign-Ready pipeline's lock file — and its owner's
    * registration — EVERY tick: O(pipelines) small-file RPCs per tick
    * per manager at fleet scale, where the reference pays nothing (ZK
    * watches push; Coordinator.java:572 onDatastreamAddOrDrop).
    * Content reads are (mtime, length)-gated against the cache, with
    * one guard the spec store doesn't need: two same-length owner
    * writes inside one mtime granule are indistinguishable by stamp
    * (instance ids often share a length; a release-and-reclaim can
    * complete in under a millisecond), so only stamps older than
    * [[PipelineManager.AcquireGraceMs]] — which no in-granule write
    * can still move — are cached across ticks; younger locks are
    * re-read while young. Inner value None = content unreadable this
    * tick (callers treat it conservatively); outer None = the listing
    * itself failed (callers fall back to the direct per-name reads
    * this snapshot replaced). */
  private def snapshotLockOwners(): Option[Map[String, Option[String]]] =
    try {
      val now = System.currentTimeMillis()
      val m = records.list(records.lockDir, ".lock").map { l =>
        val stamp = (l.mtime, l.len)
        val owner = lockContentSeen.get(l.key) match {
          case Some((s, o)) if s == stamp => Some(o)
          case _ =>
            try {
              val o = lockOwner(l.path)
              if (now - l.mtime > PipelineManager.AcquireGraceMs)
                lockContentSeen.put(l.key, (stamp, o)): Unit
              Some(o)
            } catch { case _: java.io.IOException => None }
        }
        l.key -> owner
      }.toMap
      // released locks leave the cache with their files
      lockContentSeen.keys.foreach(k =>
        if (!m.contains(k)) lockContentSeen.remove(k): Unit)
      Some(m)
    } catch { case _: java.io.IOException => None }

  /** Eventually-consistent local-map hygiene for the multi-manager
    * deployment — the reference's ZK watches keep every instance's
    * datastream view current (ZkAdapter children watches feeding
    * Coordinator.java:824); with no watch primitive on a plain
    * filesystem, the heartbeat tick reconciles instead:
    *
    *  - DISCOVER + REFRESH: durable specs this manager has never seen
    *    (created by a peer after this manager's constructor load)
    *    enter the map via putIfAbsent, and existing UNOWNED entries —
    *    no local query handle, lock not this manager's — re-adopt the
    *    durable copy when its file mod-time moved (the owner persists
    *    every status flip, so the durable spec IS the truth for a
    *    pipeline someone else runs; without the refresh a peer's
    *    enacted pause left this manager's list()/get() saying Ready
    *    forever). OWNED entries are never touched — the local map is
    *    what this manager's own query truthfully reflects. A
    *    READY/STOPPING spec whose lock no LIVE peer holds collapses
    *    to STOPPED (its query died with its owner — the
    *    constructor-load rule); one a live peer executes is adopted
    *    verbatim; a Deleting one is skipped (the file vanishes next;
    *    the sweep handles it). Reads are MOD-TIME GATED against the
    *    listing already paid for: quiet ticks cost one listing, no
    *    per-file RPCs. Without discovery a routed verb (q77–q79)
    *    could never target a peer-created pipeline at all —
    *    authorizeLifecycle would say "unknown pipeline".
    *  - SWEEP: local entries whose spec file is POSITIVELY absent on
    *    TWO CONSECUTIVE ticks, while this manager runs no query and
    *    holds no lock for them, leave the map (a peer's delete
    *    completed; this manager must stop offering the ghost in
    *    list()/get()). The two-tick grace plus the per-name re-check
    *    exists because create() registers in-memory BEFORE its
    *    persistSpec lands — a single-pass sweep could remove a
    *    mid-create entry. An unreadable store sweeps nothing (the
    *    tri-state discipline every destructive guard here follows).
    *
    * Local-only: never writes durable state, never fires hooks (those
    * fire where a verb is ENACTED). Wired to the heartbeat tick;
    * public for deployments with their own timers (and tests). */
  def reconcileSpecs(): Unit = {
    if (demotedFlag) return
    val listing =
      try records.list(records.specDir, ".json")
      catch { case _: java.io.IOException => return } // judge later
    val durableNs = listing.map(_.key).toSet
    // The spec watermarks as the tick began (an O(1) TrieMap snapshot).
    // A watermark now past both that and a file's version means an
    // update or delete on this manager landed after the file was read:
    // persistSpec and deleteLocal move it BEFORE they change `specs`.
    val heldAtStart = specVersions.readOnlySnapshot()
    // ---- tick-scoped read bounding (round 20, the control-plane
    // scale pass): lock owners come from ONE locks-dir listing
    // ([[snapshotLockOwners]]), instance liveness is memoized for the
    // tick (liveness is lease-granular; sub-tick staleness is
    // immaterial), and group membership is indexed once (findGroup is
    // O(specs) per call — per-spec calls made the loops below
    // O(specs²)). The snapshot SCREENS; every DESTRUCTIVE act
    // (collapse flip, sweep removal) re-confirms with the direct
    // reads this replaced, so act-time semantics are exactly the old
    // ones — quiet ticks just stop paying O(pipelines) RPCs for them.
    val lockSnap = snapshotLockOwners()
    val liveMemo = scala.collection.mutable.HashMap.empty[String, Boolean]
    def liveNow(id: String): Boolean =
      liveMemo.getOrElseUpdate(id, instanceLive(id))
    def snapOwner(name: String): Option[String] = lockSnap match {
      case Some(m) =>
        m.getOrElse(PipelineManager.namespaceOf(name), Some(""))
      case None => // listing failed: the direct read this replaced
        try Some(lockOwner(records.lock(name)))
        catch { case _: java.io.IOException => None }
    }
    val byPrefix: Map[String, Seq[String]] =
      specs.values.toSeq
        .groupBy(prefixOf)
        .map { case (p, ms) => p -> ms.map(_.name) }
    def membersOf(name: String): Seq[String] =
      specs.get(name)
        .flatMap(_.metadata.get(PipelineManager.TaskPrefixKey))
        .map(p => byPrefix.getOrElse(p, Seq(name)))
        .getOrElse(Seq(name))
    // snapshot twin of [[liveForeignExecutor]]; an unreadable lock
    // reads as foreign-live (unsure → never collapse on a hiccup)
    def foreignLiveNow(name: String): Boolean =
      membersOf(name).exists(m => snapOwner(m) match {
        case Some(o) => o.nonEmpty && o != instanceId && liveNow(o)
        case None => true
      })
    def ownedLocallySnap(name: String): Boolean =
      Option(queries.get(name)).isDefined ||
        (snapOwner(name) match {
          case Some(o) => o == instanceId
          case None => true // unsure → hands off
        })
    // act-time confirmation: direct reads, exactly the pre-snapshot
    // judgment — paid only for entries a destructive act is about to
    // touch (normally none)
    def ownedLocally(name: String): Boolean =
      Option(queries.get(name)).isDefined ||
        (try lockOwner(records.lock(name)) == instanceId
         catch { case _: java.io.IOException => true }) // unsure → hands off
    // DISCOVER + REFRESH (gated on (mod-time, length) from the listing)
    listing.foreach { l =>
      val stamp = (l.mtime, l.len)
      if (!specModSeen.get(l.key).contains(stamp)) try {
        specAt(l.path).toOption.foreach { case (spec, v) =>
          // the read is stale: putting it would undo the newer write
          def superseded = specVersions.get(spec.name)
            .exists(_ > math.max(v, heldAtStart.getOrElse(spec.name, 0L)))
          val restored = spec.status match {
            case PipelineStatus.Ready | PipelineStatus.Stopping
                if !foreignLiveNow(spec.name) =>
              spec.copy(status = PipelineStatus.Stopped)
            case _ => spec
          }
          if (spec.status != PipelineStatus.Deleting && !superseded) {
            // snapshot screens, direct read confirms (changed files
            // only — a lock this manager acquired AFTER the snapshot
            // listing must still block the overwrite, exactly as the
            // per-name read it replaced did). Re-judged after each
            // step, and the overwrite is a compare-and-set, so a write
            // landing mid-step is never undone either.
            specs.putIfAbsent(spec.name, restored) match {
              case None =>
                if (superseded) specs.remove(spec.name, restored): Unit
              case Some(cur) =>
                if (!ownedLocallySnap(spec.name) &&
                    !ownedLocally(spec.name) && !superseded)
                  specs.replace(spec.name, cur, restored): Unit
            }
          }
          // recorded only after a complete read, so a torn or
          // unreadable record is retried next tick
          specModSeen.put(l.key, stamp): Unit
        }
      } catch { case _: Exception => () } // unsure: next tick
    }
    // LIVENESS COLLAPSE, re-judged EVERY tick (an owner's death moves
    // no file, so it can never be mod-time-gated): an unowned local
    // entry claiming Ready/Stopping whose lock no LIVE peer holds has
    // no query behind it anywhere — its query died with its owner.
    // Local-only collapse to the truthful Stopped (the constructor
    // load's rule); the durable flip belongs to whoever reclaims the
    // pipeline. TWO-TICK grace, like the sweep: a freshly-created
    // pipeline is momentarily Ready with no lock (create → start gap
    // on its own manager), and a one-tick collapse could flip it mid
    // start — start() flips it back, but the grace avoids the flap.
    // Cost (round 20): judged from the tick's lock snapshot + the
    // per-tick liveness memo — zero per-pipeline RPCs on quiet ticks
    // (ControlPlaneScaleProbe measured the pre-snapshot form at
    // O(pipelines) lock+registration reads per tick per manager);
    // only an entry about to FLIP pays the act-time direct reads.
    specs.foreach { case (n, s) =>
      if ((s.status == PipelineStatus.Ready ||
            s.status == PipelineStatus.Stopping) &&
          !ownedLocallySnap(n) && !foreignLiveNow(n)) {
        if (collapseCandidates.remove(n)) {
          // act-time confirmation at direct-read exactness (the
          // snapshot is one listing old; a flip on stale evidence
          // would be the status lie this hygiene exists to fix)
          if (!ownedLocally(n) && liveForeignExecutor(n).isEmpty)
            specs.replace(n, s, s.copy(status = PipelineStatus.Stopped)): Unit
        } else collapseCandidates.add(n): Unit
      } else collapseCandidates.remove(n): Unit
    }
    // SWEEP (two-tick grace; the in-memory listing-membership test
    // runs FIRST so quiet ticks read no locks at all)
    specs.keys.foreach { n =>
      val absentNow = !durableNs.contains(PipelineManager.namespaceOf(n)) &&
        durableSpec(n) == DurableRecords.Absent // positive re-check, fresh RPC
      if (absentNow && !ownedLocallySnap(n)) {
        if (sweepCandidates.remove(n)) {
          if (!ownedLocally(n)) { // act-time confirmation, direct read
            specs.remove(n): Unit
            specModSeen.remove(PipelineManager.namespaceOf(n)): Unit
          }
        } else sweepCandidates.add(n): Unit
      } else sweepCandidates.remove(n): Unit
    }
  }

  /** Delivery-relevant difference beyond the destination field —
    * shared by [[update]] and [[consumeReassignRequests]] so the two
    * paths can never diverge on what restarts a query. */
  private def deliveryRelevantChange(updated: PipelineSpec,
      previous: PipelineSpec): Boolean = {
    val deliveryMetaChanged =
      (updated.metadata.keySet ++ previous.metadata.keySet).exists(k =>
        PipelineManager.isDeliveryRelevantMetadataKey(k) &&
          updated.metadata.get(k) != previous.metadata.get(k))
    deliveryMetaChanged ||
      updated.transport != previous.transport ||
      updated.sourcePartitions != previous.sourcePartitions ||
      updated.keySerde != previous.keySerde ||
      updated.payloadSerde != previous.payloadSerde ||
      updated.envelopeSerde != previous.envelopeSerde
  }

  /** The update-side membership-change restart (q73 group member,
    * q74 running solo, q75 delivery-relevant metadata) — see
    * [[update]]'s reassignment contract. Mirrors [[delete]]'s shape:
    * on a destination re-point the old destination's exactly-once
    * state moves UNCONDITIONALLY (all idempotent) — whether the
    * shared query is live, stopped, or running under a sibling's
    * handle after a per-member stop removed the updatee's own — and
    * survivors flip to Stopped (locks released) when the restart
    * itself fails; the update stands either way, as the deletion
    * does. Old-destination state is two things: the epoch-marker
    * namespace (migrates to the old destination's next leader when
    * siblings still deliver there) and the durable group holdback
    * (restamped to the NEW destination when nobody does — held epochs
    * are the member's own undelivered data and must follow its
    * stream, never strand: the pause contract's "never dropped").
    * A metadata-only reassignment restarts the query but moves no
    * state (same destination, same markers). */
  private def reassignUpdatedMember(updated: PipelineSpec,
      previous: PipelineSpec): Unit = {
    val name = updated.name
    // q76: the query runs under ANOTHER LIVE manager — this manager
    // can restart nothing there, and running moveOldDestState here
    // would migrate the old destination's markers away while the
    // peer still delivers to it. Hand the whole reassignment to the
    // owner via a durable request its heartbeat tick consumes; the
    // spec is already persisted, so the owner re-reads it and runs
    // this very method with locks it actually holds.
    val foreignOwner = liveForeignExecutor(name)
    if (foreignOwner.isDefined) {
      writeReassignRequest(name, previous.destinationConnection)
      return
    }
    val prefix = prefixOf(updated)
    // q82: a catalog-named pipeline's reassignment restart must
    // materialize the UPDATED spec's recipe — the remembered closure
    // captured the OLD params at the last start, so restarting it
    // would persist the new recipe while delivering the old one, the
    // exact silent divergence this reassignment exists to prevent.
    // Resolution is DEFERRED into the stop-rollback scope (a thunk):
    // a recipe this manager cannot materialize (unregistered name, a
    // throwing factory, a bad trigger) fails AFTER the stop, into the
    // truthful Stopped state with locks released — never a live old
    // closure under a spec claiming the new recipe. Only an UNCHANGED
    // recipe may keep the remembered run when the name no longer
    // resolves here (the closure captured the same recipe). For a
    // GROUP, the updated member's recipe is this update's authority
    // (most-recent-write-wins); sibling specs now diverge durably,
    // so a crash-time routed resume drops loudly (catalogGroupRun)
    // until the operator aligns them — loud and recoverable, never
    // silent.
    val recipeChanged = recipeOf(updated) != recipeOf(previous)
    val declared = updated.metadata.get(PipelineManager.TransformKey)
    val resolvable = declared.exists(n =>
      n == "identity" || hooks.transforms.contains(n))
    def runThunk(remembered: Option[(DataFrame => DataFrame, Trigger)])
        : Option[() => (DataFrame => DataFrame, Trigger)] =
      if (declared.isEmpty) remembered.map(r => () => r)
      else if (resolvable) Some(() => catalogRun(name).getOrElse(
        throw new IllegalStateException(
          s"catalog recipe for $name vanished between judgment and " +
            "materialization")))
      else if (recipeChanged) Some(() => throw new IllegalStateException(
        s"update changed $name's transform recipe to " +
          s"'${declared.get}', which this manager's catalog cannot " +
          "materialize; restart refused — register the transform or " +
          "revert the spec"))
      else remembered.map(r => () => r)
    PipelineManager.membershipStripe(prefix).synchronized {
      val members = findGroup(name)
      // the one shared query may be registered under ANY member's
      // handle — a per-member-stopped updatee no longer holds one,
      // but its update must still restart the live query (the frozen
      // fan-out would deliver a later-resumed member to the OLD
      // destination)
      val sharedLive = members
        .flatMap(m => Option(queries.get(m.name)))
        .exists(q => q.isActive && q.name == s"group-$prefix")
      // Old-destination state moves ONLY on a destination re-point: a
      // metadata-only reassignment (q75) keeps the member delivering
      // to the same destination — migrating its markers or restamping
      // its holdback would break the very dedup they exist for.
      def moveOldDestState(): Unit = if (
          updated.destinationConnection != previous.destinationConnection) {
        val sharingOld = members.filterNot(_.name == name)
          .filter(_.destinationConnection == previous.destinationConnection)
        if (sharingOld.nonEmpty)
          // siblings keep delivering to the old destination: if the
          // updatee led its marker namespace, hand the markers to the
          // next leader so a replayed in-flight epoch no-ops there
          migrateDestMarkers(previous.destinationConnection, name,
            destLeader(sharingOld).name)
        else
          // nobody delivers to the old destination anymore: held
          // epochs stamped for it could never drain — re-point them
          // at the member's new destination
          restampHoldbackDest(previous.destinationConnection,
            updated.destinationConnection)
      }
      (sharedLive, runThunk(groupRuns.get(prefix))) match {
        case (true, Some(thunk)) =>
          // stop FIRST so no further epoch marker can land under the
          // old-destination namespace after the state moves. The
          // state move sits INSIDE the rollback scope: a restamp IO
          // failure after the stop must flip the group to Stopped
          // (locks released) exactly like a restart failure — never
          // Ready-with-no-query members holding locks.
          members.foreach(m => stopQueryOf(m.name))
          // the update stands either way
          stoppedOnFailure(members.map(_.name)) {
            val (transform, trigger) = thunk()
            moveOldDestState()
            startGroup(name, transform, trigger,
              reAdmitStopped = false): Unit
          }
        case _ =>
          // q74: a RUNNING SOLO pipeline's re-point restarts its own
          // query — the reference reassigns EVERY datastream on update
          // (DatastreamResources.java:410 → Coordinator.java:1680
          // handleLeaderDoAssignment), not only group members. The
          // delivery closure captured the OLD spec at start
          // ([[holdbackSplit]]'s transportWriter), so without a restart
          // the persisted spec and the running delivery diverge
          // silently, forever. Excluded ONLY when both sides are
          // memory: a memory sink cannot be (re)started on an
          // existing checkpoint, so a memory→memory delivery-relevant
          // update has nothing restartable (old contract: spec
          // persists, caller owns the cycle). memory→durable DOES
          // restart — the foreachBatch sink recovers from the memory
          // run's checkpoint fine; epochs that were delivered only to
          // the ephemeral table are forfeited, the stop contract's
          // released-resources semantics. durable→memory restarts and
          // fails truthfully into Stopped (never a live durable query
          // under a spec that claims a memory sink).
          val soloLive = Option(queries.get(name))
            .exists(q => q.isActive && q.name == name) &&
            !(previous.transport == "memory" &&
              updated.transport == "memory")
          (if (soloLive) runThunk(soloRuns.get(name)) else None) match {
            case Some(thunk) =>
              // stop FIRST so no further epoch marker can land under
              // the old-destination namespace after the state moves;
              // the state move sits INSIDE the rollback scope — same
              // discipline as the group branch above
              stopQueryOf(name)
              stoppedOnFailure(Seq(name)) {
                val (transform, trigger) = thunk()
                moveOldDestState()
                // restart from the per-name checkpoint: committed
                // epochs are never replayed; an uncommitted epoch
                // replays into the NEW destination (the update's
                // contract — the stream follows its spec)
                start(name, transform, trigger): Unit
              }
            case _ =>
              // no running query to reassign (or no remembered run to
              // restart it with): the durable state still moves, so
              // the NEXT start inherits a consistent old destination
              moveOldDestState()
          }
      }
    }
  }

  /** Re-point every durable group-holdback directory stamped for
    * `fromDest` at `toDest` (q73: the held epochs are the re-pointed
    * member's own undelivered data — they follow its stream). The
    * dir-owner namespace inside is untouched, so the eventual replay
    * still dedups by the owner's markers at the destination.
    *
    * The stamp is an AUTHORITY record, so it is never overwritten in
    * place (a truncating rewrite's crash window would leave a torn
    * stamp no reader accepts and no writer repairs — the held epochs
    * would strand forever): [[DurableRecords.replace]] stages it, and
    * every intermediate state reads as the old or the new stamp.
    * Serialized against concurrent drains of BOTH destinations
    * (stripes taken in ascending index order — two restamps can never
    * deadlock).
    *
    * Only dirs whose OWNER's current spec points at `toDest` move —
    * or whose owner no longer exists (a deleted past leader's dir
    * carries the DEST GROUP's held epochs, which follow the surviving
    * member's re-point; the stamp contract's membership-churn
    * clause). The filter exists because the holdback root is global:
    * two LIVE owners' crashed re-points can strand holdbacks at the
    * same old destination with DIFFERENT new destinations, and an
    * unfiltered restamp would ship one owner's held epochs to the
    * other's destination. (Both call sites persist the updatee's
    * spec before restamping, so the filter admits it.) */
  private def restampHoldbackDest(fromDest: String, toDest: String): Unit =
    if (fromDest != toDest && fromDest.nonEmpty) {
      val pool = PipelineManager.holdbackStripe
      val stripes = Seq(pool.index(fromDest), pool.index(toDest)).distinct.sorted
      def locked(body: => Unit): Unit = stripes match {
        case Seq(one) => pool.at(one).synchronized(body)
        case Seq(a, b) =>
          pool.at(a).synchronized(pool.at(b).synchronized(body))
        case _ => body // unreachable: 1 or 2 distinct stripes
      }
      locked {
        records.stamps().foreach {
          case (d, Some((owner, `fromDest`)))
              // positive DURABLE knowledge only (this can run on a
              // manager whose own map is stale): found pointing at
              // toDest, or positively absent; unreadable → leave the
              // dir (repair re-runs at the next drain)
              if deliversToOrGone(durableSpec(owner), toDest) =>
            records.writeStamp(d, owner, toDest)
          case _ => ()
        }
      }
    }

  def get(name: String): Option[PipelineSpec] = specs.get(name)
  /** The live StreamingQuery for a started pipeline, if any. */
  def queryOf(name: String): Option[StreamingQuery] = Option(queries.get(name))
  def list(start: Int, count: Int): Seq[PipelineSpec] =
    specs.values.toSeq.sortBy(_.name).slice(start, start + count)

  /**
   * All pipelines in the same task group as `name` — the streams that
   * share its task prefix (destination-reuse dedup joins a group by
   * inheriting the prefix; see [[create]]). The reference's findGroup
   * finder (DatastreamResources.java:879-901 over
   * getGroupedDatastreams :1043-1053). A spec without a task prefix
   * (pre-group legacy state) is a precondition failure, as in the
   * reference (412).
   */
  def findGroup(name: String): Seq[PipelineSpec] = {
    val spec = specs.getOrElse(name, sys.error(s"unknown pipeline $name"))
    val prefix = spec.metadata.getOrElse(PipelineManager.TaskPrefixKey,
      throw new IllegalArgumentException(
        s"pipeline $name has no task prefix"))
    specs.values.toSeq
      .filter(_.metadata.get(PipelineManager.TaskPrefixKey).contains(prefix))
      .sortBy(_.name)
  }

  /**
   * Build the source DataFrame for a spec (batch-testable subset).
   *
   * Flow control (A5): the reference pauses partitions when in-flight
   * exceeds a threshold (KafkaMirrorMakerConnectorTask.java:316-333);
   * Spark's equivalent is per-trigger admission — metadata keys
   * `maxFilesPerTrigger` / `maxOffsetsPerTrigger` bound each
   * micro-batch, which is the same backpressure contract enforced at
   * the source instead of the producer.
   */
  private def source(spec: PipelineSpec): DataFrame =
    hooks.connectors.get(spec.connector) match {
      case Some(custom) => custom(spark, spec)
      case None => builtinSource(spec)
    }

  private def builtinSource(spec: PipelineSpec): DataFrame = spec.connector match {
    case "rate" =>
      spark.readStream.format("rate")
        .option("rowsPerSecond", spec.sourcePartitions.max(1) * 10).load()
    case "parquet" =>
      val reader = spark.readStream
        .schema(PipelineManager.parquetSchema(spark, spec.sourceConnection))
      val withFlow = spec.metadata.get("maxFilesPerTrigger")
        .fold(reader)(v => reader.option("maxFilesPerTrigger", v))
      withFlow.parquet(spec.sourceConnection)
    case "kafka" =>
      spark.readStream.format("kafka")
        .options(PipelineManager.kafkaSourceOptions(spec)).load()
    case "dirwatch" =>
      // S6: listing-diff directory watch — emits CREATED/MODIFIED/
      // DELETED events per file (graft.sources.DirWatchProvider).
      spark.readStream
        .format(classOf[graft.sources.DirWatchProvider].getName)
        .option("path", spec.sourceConnection).load()
    case "synthetic" =>
      // S8: indexed synthetic events; sourceConnection = totalEvents.
      spark.readStream
        .format(classOf[graft.sources.SyntheticProvider].getName)
        .option("totalEvents", spec.sourceConnection)
        .options(spec.metadata.view
          .filterKeys(Set("batchSize", "payloadSize", "numPartitions")).toMap)
        .load()
    case "pausable" =>
      // F2/A4 source layer: per-partition offset holds driven by the
      // pause-control file named in metadata("pauseFile");
      // sourceConnection = rowsPerPartition.
      spark.readStream
        .format(classOf[graft.sources.PausableProvider].getName)
        .option("rowsPerPartition", spec.sourceConnection)
        .options(spec.metadata.view
          .filterKeys(Set("numPartitions", "batchPerPartition", "payloadSize",
            "pauseFile")).toMap)
        .load()
    case "pausing" =>
      // F2 for FOREIGN DSv2 sources: sourceConnection names the inner
      // TableProvider class; pauseFile/offsetCodec plus every inner
      // option ride metadata (unconsumed keys pass through harmlessly
      // — DSv2 options are an open map).
      spark.readStream
        .format(classOf[graft.sources.PausingProvider].getName)
        .option("innerFormat", spec.sourceConnection)
        .options(spec.metadata)
        .load()
    case other => throw new IllegalArgumentException(s"unknown connector $other")
  }

  /**
   * Pause source partitions WITHOUT losing their records (F2/A4).
   *
   * The reference defers paused partitions and rewinds to the last
   * checkpoint so nothing is dropped (AbstractKafkaBasedConnectorTask
   * .java:275-307, seekToLastCheckpoint :742-756). The Spark-native
   * equivalent here is holdback-and-replay: the sink-side split in
   * [[start]] diverts paused rows to a durable holdback table, keyed
   * by partition value, BEFORE the epoch commits — so the checkpoint
   * may advance, but every held record is on disk and is replayed into
   * the destination by [[resumePartitions]]. Delivery is at-least-once
   * across crashes, exactly the reference's contract.
   *
   * The set is recorded and applied by start() on EVERY (re)start —
   * including later pause()/resume() cycles — so the admission
   * invariant survives restarts. Pausing the same pipeline again
   * merges the new values into the recorded set (same partition
   * column; a different column replaces the set).
   */
  def pausePartitions(name: String, partitionCol: String, values: Set[String],
      transform: DataFrame => DataFrame,
      owner: String = "anonymous"): StreamingQuery = {
    authorizeLifecycle(name, owner)
    pausedPartitions.updateWith(name) {
      case Some((pc, vs)) if pc == partitionCol => Some((pc, vs ++ values))
      case _ => Some((partitionCol, values))
    }
    persistPausedState(name)
    stopQueryOf(name)
    start(name, transform)
  }

  /**
   * Resume previously-paused partition values: replay their held-back
   * records into the destination, drop them from the holdback table,
   * shrink the pause set, and restart the query. A crash between
   * replay and holdback cleanup re-replays on the next call
   * (at-least-once); records of still-paused partitions are never
   * touched — each value owns its own holdback subdirectory.
   */
  def resumePartitions(name: String, values: Set[String],
      transform: DataFrame => DataFrame,
      owner: String = "anonymous"): StreamingQuery = {
    authorizeLifecycle(name, owner)
    stopQueryOf(name)
    replayHoldback(name, values)
    shrinkPauseSet(name, values)
    persistPausedState(name)
    start(name, transform)
  }

  /** Replay the held-back records of the given partition values into
    * the destination and drop their holdback subdirectories (the
    * deliver-then-delete half of [[resumePartitions]]). */
  private def replayHoldback(name: String, values: Set[String]): Unit = {
    val spec = specs.getOrElse(name, sys.error(s"unknown pipeline $name"))
    val hb = records.holdback(name)
    if (rootFs.exists(hb)) {
      val deliver = transportWriter(spec)
      rootFs.listStatus(hb).toSeq
        .filter(_.getPath.getName.startsWith("__pp="))
        .foreach { st =>
          val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(st.getPath.getName.stripPrefix("__pp="))
          if (values.contains(value)) {
            // Subdir files carry the full original row (only the
            // derived __pp partition key was projected away). One
            // materialization serves delivery AND the sketch fold.
            val held = spark.read.parquet(st.getPath.toString).persist()
            try {
              deliver(held, -1L)
              // replayed rows ARE deliveries: the cardinality sketch
              // must fold them in, or keys unique to a paused
              // partition undercount forever
              updateCardinalitySketch(spec, held)
            } finally held.unpersist(): Unit
            rootFs.delete(st.getPath, true)
          }
        }
    }
  }

  private def shrinkPauseSet(name: String, values: Set[String]): Unit =
    pausedPartitions.updateWith(name) {
      case Some((pc, vs)) if (vs -- values).nonEmpty => Some((pc, vs -- values))
      case _ => None
    }

  /**
   * The per-epoch batch writer for a spec's transport — the engine's
   * TransportProvider registry. Every durable transport is a
   * `foreachBatch` body (K3: the epoch commits only after the batch
   * lands — the flush barrier), which is also what lets [[start]]
   * divert paused-partition rows and [[resumePartitions]] replay them
   * through the same write path. Parquet-backed transports are
   * exactly-once across epoch replays via
   * [[EpochCommit]]'s commit markers; the rest
   * (kafka, directoryOps, custom) are at-least-once, matching the
   * reference's base guarantee.
   */
  private def transportWriter(spec: PipelineSpec): (DataFrame, Long) => Unit =
    hooks.transports.get(spec.transport) match {
      case Some(custom) => custom(spec)
      case None => builtinTransport(spec)
    }

  private def builtinTransport(spec: PipelineSpec): (DataFrame, Long) => Unit = {
    val dest = spec.destinationConnection
    spec.transport match {
      case "parquet" =>
        (batch, epoch) => EpochCommit.epochAppend(batch, dest, epoch, spec.name)
      case "noop" =>
        (batch, _) => batch.write.format("noop").mode("overwrite").save()
      case "kafka" =>
        val opts = spec.metadata.filter(_._1.startsWith("kafka."))
        (batch, _) => batch.write.format("kafka")
          .options(opts).option("topic", dest).save()
      case "directory" =>
        // K5: directory sink. With `directoryOps` metadata the batch is
        // a change feed (key = relative path, value = CREATED/MODIFIED/
        // DELETED, optional content) applied as filesystem operations —
        // the reference's DirectoryTransportProvider mirror; otherwise
        // a plain parquet append.
        if (spec.metadata.get("directoryOps").contains("true"))
          (batch, _) => PipelineManager.applyDirectoryOps(batch, dest,
            orderCol = spec.metadata.get("directoryOrderCol"))
        else
          (batch, epoch) => EpochCommit.epochAppend(batch, dest, epoch, spec.name)
      case "cdc" =>
        // T7 materialization: each epoch's change records upsert into
        // the bucketed keyed state table (crash-safe per-bucket swap in
        // CdcMerge). Key/scn/opcode columns come from spec.metadata.
        val keyCols = spec.metadata.getOrElse("cdcKeyCols", "key").split(",").toSeq
        val scnCol = spec.metadata.getOrElse("cdcScnCol", "scn")
        val opcodeCol = spec.metadata.getOrElse("cdcOpcodeCol", "opcode")
        val buckets = spec.metadata.getOrElse("cdcBuckets",
          CdcMerge.DefaultBuckets.toString).toInt
        val sess = spark
        (batch, _) =>
          CdcMerge.applyBatch(sess, batch, dest, keyCols, scnCol, opcodeCol, buckets)
      case other => throw new IllegalArgumentException(s"unknown transport $other")
    }
  }

  /**
   * Start the query for a created spec with a transform chain.
   * Checkpointing (the reference's ZookeeperCheckpointProvider) is the
   * built-in offset/commit log under [[DurableRecords.checkpoint]].
   * Jobs run in the pipeline's own scheduler pool `graft-<name>`;
   * [[launch]] documents the whole start protocol.
   */
  def start(name: String, transform: DataFrame => DataFrame,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spec = specs.getOrElse(name, sys.error(s"unknown pipeline $name"))
    launch(name, s"graft-$name", records.checkpoint(name),
      foreign = Seq(records.groupCheckpoint(prefixOf(spec))),
      members = Seq(name), locked = Seq(name), readmit = Seq(name),
      (transform, trigger), soloRuns, name) { live =>
      // the memory sink is test-only and non-durable (it cannot
      // recover from a checkpoint), so paused-partition holdback does
      // not apply — use a durable transport for pause/resume semantics
      if (live.head.transport == "memory") None
      else Some(holdbackSplit(live.head))
    }
  }

  /**
   * D1's runtime half (SURVEY §4's destination-reuse / CSE analog):
   * run `name`'s WHOLE task group as ONE StreamingQuery. The shared
   * source is read and checkpointed once per epoch (group-scoped
   * checkpoint), and each micro-batch is delivered to every DISTINCT
   * member destination — members sharing a destination deliver once,
   * the reference's duplicate-stream contract where consumers fan in
   * on the shared topic (SourceBasedDeduper.java:66;
   * Coordinator.java:2406-2453 reuses destination AND tasks). The
   * batch is pinned with persist() around the sink loop so N sinks
   * cost one source scan plus N writes, never N scans — at 100 TB the
   * scan is the expensive half, which is why the group runs as one
   * query at all. Every member's execution lock is acquired first:
   * single-owner applies to the whole group.
   *
   * Members with admission holdback (paused partitions) should run
   * individually via [[start]] — this is the plain fan-out path.
   *
   * Membership is (re)computed HERE, per start: the per-destination
   * fan-out below is frozen for the query's lifetime, so a member
   * created while the query runs joins through
   * [[rejoinRunningGroup]]'s restart (create() triggers it), and a
   * member created between runs joins on the next start.
   *
   * An explicit group (re)start runs every member that is not held
   * back: members stopped per-member in an earlier run rejoin here
   * (their stop forfeited the epochs delivered while stopped — that
   * is stop's released-resources contract; a member that must NOT
   * lose epochs is paused, not stopped). Reassignment restarts
   * (`reAdmitStopped = false`: create/delete/update on a running
   * group) keep them stopped: an unrelated member's membership change
   * must never resurrect a sibling its owner explicitly stopped, nor
   * pull its lock back from the pool (another live manager may own
   * it — that would abort a restart the member takes no part in).
   */
  def startGroup(name: String, transform: DataFrame => DataFrame,
      trigger: Trigger = Trigger.AvailableNow(),
      reAdmitStopped: Boolean = true): StreamingQuery = {
    val members = findGroup(name)
    require(members.nonEmpty, s"unknown pipeline $name")
    val srcs = members.map(_.sourceConnection).distinct
    require(srcs.size == 1,
      s"task group spans ${srcs.size} sources; group fan-out needs exactly one")
    val prefix = prefixOf(members.head)
    val names = members.map(_.name)
    val stopped = members.filter(_.status == PipelineStatus.Stopped).map(_.name)
    launch(s"group-$prefix", s"graft-$prefix", records.groupCheckpoint(prefix),
      foreign = names.map(records.checkpoint), members = names,
      locked = if (reAdmitStopped) names else names.diff(stopped),
      readmit = if (reAdmitStopped) stopped else Nil,
      (transform, trigger), groupRuns, prefix)(live => Some(fanOut(live)))
  }

  /**
   * THE start protocol behind [[start]] and [[startGroup]]: one run is
   * one StreamingQuery `queryName` over checkpoint `ckpt`, registered
   * under every name in `members`. The callers pass only what differs
   * between a solo and a group run; the order is this launcher's:
   *  1. The demote fence refuses a demoted manager.
   *  2. Single owner BEFORE any query exists (D4;
   *     DatastreamTaskImpl.java:126-139 acquire): the locks of
   *     `locked` are taken all-or-nothing. A failure anywhere later
   *     releases the locks this call newly took, and only those (a
   *     lock held before the call, as across a pause, stays held): an
   *     instance must never sit on a lock while running no query.
   *  3. The member specs are re-read under the locks: an update()
   *     that persisted between the caller's read and the acquire wins,
   *     and a concurrent delete() fails this start instead of being
   *     resurrected. (Cross-manager mutations are routed to the lock
   *     owner, q76–q79.)
   *  4. The checkpoint-kind guard: `ckpt` absent while one of `foreign`
   *     (the checkpoints of the other run kind) exists means the
   *     members' offsets live elsewhere — starting here would redeliver
   *     every epoch their destinations already received. Refused: a
   *     group run restarts with startGroup, a solo one with start.
   *  5. Multi-tenant isolation (SURVEY §7.3 hard part 4): the run's
   *     jobs — the query's, inherited by its micro-batch thread at
   *     start — go to scheduler pool `pool`, the counterpart of the
   *     reference running each task in its own connector thread
   *     (AbstractKafkaConnector.java:222-245), so one hot pipeline
   *     cannot starve the others under the FAIR scheduler. The
   *     caller's pool is restored (not cleared) afterwards.
   *  6. The query is built, then every member's previous query is
   *     stopped and unregistered (no double delivery beside the new
   *     one, and no writer left in `ckpt`), the checkpoint's orphan
   *     temps are swept and the query starts with `sink`'s
   *     `foreachBatch` body (None: the memory sink), through
   *     [[StreamStart]]: a restarted run reuses the classes the
   *     session already compiled for its plan.
   *  7. The handles are registered, and the demote fence is checked
   *     again: the entry check and the registration are not atomic,
   *     so either demote() finds the handles and stops them, or this
   *     thread sees the flag and unwinds (query stopped, handles and
   *     new locks dropped).
   *  8. The run is remembered under `runKey` for reassignment
   *     restarts (only a run that produced a live query), and the
   *     `readmit` members not already Ready flip to Ready — only now,
   *     so a start that fails leaves them as they were, and with no
   *     hook for a member already Ready (create→start reports no
   *     duplicate transition). No batch body runs before this step is
   *     done, so the first epoch's admission already sees the flips.
   */
  private def launch(queryName: String, pool: String, ckpt: Path,
      foreign: Seq[Path], members: Seq[String], locked: Seq[String],
      readmit: Seq[String], run: (DataFrame => DataFrame, Trigger),
      runs: TrieMap[String, (DataFrame => DataFrame, Trigger)], runKey: String)(
      sink: Seq[PipelineSpec] => Option[(DataFrame, Long) => Unit]): StreamingQuery = {
    requireNotDemoted()
    val prevPool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    val launched = new java.util.concurrent.CountDownLatch(1)
    try {
      val newlyLocked = scala.collection.mutable.ListBuffer.empty[String]
      var started = Option.empty[StreamingQuery]
      val q = try {
        locked.foreach(n => if (acquireLock(n)) newlyLocked += n)
        val live = members.map(n =>
          specs.getOrElse(n, sys.error(s"unknown pipeline $n")))
        if (!rootFs.exists(ckpt)) foreign.find(rootFs.exists).foreach { other =>
          throw new IllegalStateException(s"$queryName: $ckpt does not " +
            s"exist but $other does — the pipeline last ran as the other " +
            "run kind (solo vs task group), and starting here would " +
            "redeliver its delivered epochs; restart it with the verb it " +
            "last ran under (start or startGroup)")
        }
        val out = observed(run._1(source(live.head)))
        members.foreach(stopQueryOf)
        sweepCheckpointTemps(ckpt)
        val q = StreamStart(out) { w =>
          val writer = w.queryName(queryName)
            .outputMode("append")
            .option("checkpointLocation", ckpt.toString)
            .trigger(run._2)
          sink(live).fold(writer.format("memory")) { body =>
            writer.foreachBatch { (batch: DataFrame, epoch: Long) =>
              launched.await(); body(batch, epoch)
            }
          }
        }
        started = Some(q)
        members.foreach(queries.put(_, q))
        if (demotedFlag) throw new IllegalStateException(s"manager " +
          s"$instanceId demoted during start; the query was stopped")
        q
      } catch {
        case e: Throwable =>
          started.foreach { q =>
            try if (q.isActive) q.stop()
            finally members.foreach(queries.remove(_, q))
          }
          newlyLocked.foreach(releaseLock)
          throw e
      }
      runs.put(runKey, run)
      readmit.foreach(n => if (!specs.get(n).exists(_.status == PipelineStatus.Ready))
        transition(n, PipelineStatus.Ready))
      q
    } finally {
      launched.countDown()
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", prevPool)
    }
  }

  /** The solo `foreachBatch` body: rows of paused partition values go
    * to the pipeline's durable holdback, the rest deliver. */
  private def holdbackSplit(spec: PipelineSpec): (DataFrame, Long) => Unit = {
    val deliver = transportWriter(spec)
    val hbPath = records.holdback(spec.name).toString
    (batch, epoch) => pausedPartitions.get(spec.name) match {
      case Some((pcol, values)) if values.nonEmpty =>
        val isPaused = col(pcol).isin(values.toSeq: _*)
        // Held rows land BEFORE the epoch commits: the offset log may
        // advance past them, but they are durable and replayed by
        // resumePartitions — never dropped. Each partition value owns
        // a subdirectory (__pp=<value>) so resuming one value never
        // rewrites another's rows.
        batch.filter(isPaused)
          .withColumn("__pp", col(pcol).cast("string"))
          .write.mode("append").partitionBy("__pp").parquet(hbPath)
        deliver(batch.filter(!isPaused), epoch)
        updateCardinalitySketch(spec, batch.filter(!isPaused))
      case _ =>
        deliver(batch, epoch)
        updateCardinalitySketch(spec, batch)
    }
  }

  /** The group `foreachBatch` body: one materialization of the batch
    * delivered once per DISTINCT member destination. The leader of each
    * destination group carries the transport identity: its name
    * namespaces the destination's epoch markers AND the dest-group's
    * holdback, so held epochs replay into exactly the namespace live
    * delivery uses — exactly-once by the same markers. Leadership is
    * STICKY ([[destLeader]]): a membership change never silently moves
    * the marker namespace out from under an uncommitted epoch. */
  private def fanOut(members: Seq[PipelineSpec]): (DataFrame, Long) => Unit = {
    val destGroups = members.groupBy(_.destinationConnection).toSeq
      .sortBy(_._1)
      .map { case (_, ms) =>
        val leader = destLeader(ms)
        (ms, leader, transportWriter(leader))
      }
    (batch, epoch) => {
      // one materialization serves every sink
      batch.persist()
      try destGroups.foreach { case (ms, leader, write) =>
        // Per-member admission (q68; the reference's force=false
        // pause scope, DatastreamResources.java:355-377), judged
        // at batch time from the live spec store:
        //  - any member Ready → the destination receives (and any
        //    held epochs drain first — self-healing after a
        //    resume that raced an in-flight batch);
        //  - members only Paused → the epoch lands in the
        //    dest-group's durable holdback, never dropped;
        //  - members only Stopped/absent → skipped (stop released
        //    the member's resources; its sink forfeits epochs
        //    until it rejoins).
        val statuses = ms.flatMap(m => specs.get(m.name)).map(_.status)
        if (statuses.contains(PipelineStatus.Ready)) {
          replayGroupHoldback(ms)
          write(batch, epoch)
          ms.filter(_.metadata.contains(PipelineManager.SketchColumnKey))
            .foreach(updateCardinalitySketch(_, batch))
        } else if (statuses.contains(PipelineStatus.Paused)) {
          val hbDir = records.groupHoldback(leader.name)
          stampHoldbackOwner(hbDir, leader.name,
            leader.destinationConnection)
          EpochCommit.epochAppend(batch,
            hbDir.toString, epoch, leader.name): Unit
        }
      }
      finally { batch.unpersist(); () }
    }
  }

  /** The member whose namespace carries a destination's epoch
    * markers. STICKY: prefer the members whose marker namespace
    * already exists at the destination (lexicographically first among
    * them), so a membership change — an earlier-sorting member
    * joining (q71), or any reshuffle short of deleting the leader —
    * never silently moves the exactly-once namespace out from under
    * an epoch that delivered but has not yet checkpoint-committed.
    * Falls back to the lexicographically-first member (the historical
    * rule, so fresh destinations behave exactly as before). Deleting
    * the leader itself is handled by [[delete]]'s marker migration. */
  private def destLeader(ms: Seq[PipelineSpec]): PipelineSpec = {
    val sorted = ms.sortBy(_.name)
    val dest = sorted.head.destinationConnection
    val withMarkers =
      if (!dest.startsWith("/")) Nil // memory/logical transports
      else {
        val fs = destFs(dest)
        sorted.filter { m =>
          try fs.exists(EpochCommit.markerDir(dest,
            PipelineManager.namespaceOf(m.name)))
          catch { case _: java.io.IOException => false }
        }
      }
    withMarkers.headOption.getOrElse(sorted.head)
  }

  /** Copy every epoch marker of `fromName`'s namespace at `dest` into
    * `toName`'s namespace (idempotent; markers are empty files). Run
    * BEFORE a restart that moves dest-group leadership — a replayed
    * in-flight epoch must find its marker under the NEW leader's
    * namespace and no-op, or the destination double-receives. */
  private def migrateDestMarkers(dest: String, fromName: String,
      toName: String): Unit = if (dest.startsWith("/")) {
    val fs = destFs(dest)
    val fromDir = EpochCommit.markerDir(dest, PipelineManager.namespaceOf(fromName))
    val toDir = EpochCommit.markerDir(dest, PipelineManager.namespaceOf(toName))
    if (fs.exists(fromDir)) {
      fs.mkdirs(toDir)
      fs.listStatus(fromDir).toSeq.filter(_.isFile).foreach { st =>
        val target = new Path(toDir, st.getPath.getName)
        if (!fs.exists(target)) fs.create(target, false).close()
      }
    }
  }

  /** The filesystem of destination `dest` — the one its commits were
    * written through, which need not be the checkpoint root's. */
  private def destFs(dest: String) =
    new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Has `name`'s task group ever run as ONE shared query? True once
    * the group checkpoint exists (only [[startGroup]] creates it, and
    * solo restarts are rejected from then on) — the state in which
    * lifecycle verbs on a member mean per-member admission, not
    * query-wide control. */
  private def isGroupRun(name: String): Boolean =
    specs.get(name).exists(s => rootFs.exists(records.groupCheckpoint(prefixOf(s))))

  /** Durable holdback of a destination group inside a running group
    * ([[DurableRecords.groupHoldback]]): epochs withheld while every
    * member of the destination was paused, written with the SAME epoch
    * markers as live delivery so replay is exactly-once. Keyed by the
    * name of the dest-group leader AT APPEND TIME and stamped (once)
    * with that owner and its destination: the owner names the epoch
    * namespace inside the dir AND the destination-marker namespace its
    * epochs replay under; the destination lets replay enumerate dirs by
    * destination instead of by live member list, so a dir whose owner
    * was deleted (or whose leadership moved to an earlier-named
    * dedup'd member) still drains — "never dropped" survives
    * membership churn. Write-once against the READABLE stamp, not bare
    * existence: inside a restamp's replace window the staged stamp is
    * the authority, and a fresh OLD-destination stamp would outrank
    * it. */
  private def stampHoldbackOwner(dir: Path, owner: String, dest: String): Unit =
    if (records.stamp(dir).isEmpty) records.writeStamp(dir, owner, dest)

  /** Deliver (then remove) every held-back epoch of a dest group, in
    * epoch order — for parquet transports each replayed epoch
    * re-enters [[EpochCommit.epochAppend]] with its ORIGINAL
    * epoch number UNDER ITS DIR-OWNER'S NAMESPACE, so a crash between
    * deliver and cleanup re-replays into a no-op (the destination's
    * commit marker already exists) no matter which caller view
    * (frozen batch-loop destGroups, live resume findGroup) retries:
    * exactly-once end to end, independent of leadership drift.
    *
    * Drains EVERY stamped holdback dir of this DESTINATION, found by
    * enumerating the group-holdback store — not the caller's member
    * list: a destination-reuse create() can add an earlier-named
    * member mid-lifecycle (moving leadership), and delete() can
    * remove a dir's owner entirely; epochs held under any past
    * leader's dir must still replay, never strand ("never dropped" is
    * the pause contract). Serialized per DESTINATION (a resume() on
    * the caller thread and the group query's self-healing drain may
    * race; two concurrent epochAppends of one epoch would collide in
    * the staging directory) — on a DEDICATED monitor pool, never the
    * lock stripes: this method runs whole Spark read+deliver jobs,
    * and sharing the lock layer's stripes would stall a
    * hash-colliding acquire for the replay's duration. */
  private def replayGroupHoldback(members: Seq[PipelineSpec]): Unit = {
    if (members.isEmpty) return
    val anchor = members.minBy(_.name)
    val dest = anchor.destinationConnection
    // BEFORE the stripe lock (restampHoldbackDest takes its own
    // stripes in ascending order; acquiring ours first could invert
    // that order against a concurrent restamp): re-drive any crashed
    // restamp whose held epochs belong to THIS destination's stream
    repairStrandedHoldbackStamps(dest)
    PipelineManager.holdbackStripe(dest).synchronized {
      records.stamps().foreach {
        // The stamp must not be a STRAND awaiting repair: an owner
        // whose spec points at a DIFFERENT destination re-pointed
        // away with the restamp crashed (old stamp authoritative) —
        // if this old destination was since reclaimed by another
        // pipeline, draining the dir here would deliver the stranded
        // owner's held epochs into the new tenant's stream
        // (cross-stream leakage). Skipped, not dropped: the owner's
        // own destination's next drain repairs the stamp
        // ([[repairStrandedHoldbackStamps]]) and delivers there. A
        // dir whose owner no longer EXISTS still drains — the stamp
        // contract's membership-churn clause ("never dropped"
        // survives leadership drift and leader deletion); delete()
        // forfeits such dirs when their destination goes out of
        // service, so a later tenant can never inherit them.
        // POSITIVE knowledge required to deliver: owner found with a
        // spec pointing here, or owner positively absent (deleted
        // leader — the churn clause). An unreadable spec store skips
        // the dir THIS tick (retried next drain); it must never
        // default into delivering a live strand owner's epochs.
        // Local-FIRST lookup is sound on this hot path: the draining
        // manager holds the group's locks, so every reassignment of a
        // member delivering here was consumed by THIS manager (its
        // map saw it); the durable fallback covers owners it never
        // loaded.
        case (hb, Some((owner, `dest`))) if deliversToOrGone(specs.get(owner)
            .fold(durableSpec(owner))(DurableRecords.Found(_)), dest) =>
          val ns = PipelineManager.namespaceOf(owner)
          val hbDir = hb.toString
          val epochs = EpochCommit.committedEpochs(rootFs, hbDir, ns).sorted
          if (epochs.nonEmpty) {
            // deliver under the dir OWNER's identity: the destination
            // markers then dedup retries from every caller view
            lazy val deliver = transportWriter(anchor.copy(name = owner))
            epochs.foreach { e =>
              val files = Option(rootFs.globStatus(
                new Path(hb, EpochCommit.epochFileGlob(ns, e)))).toSeq.flatten
              if (files.nonEmpty) {
                // one materialization serves the delivery and every
                // member's sketch fold (the batch-loop persist rule)
                val held = spark.read
                  .parquet(files.map(_.getPath.toString): _*).persist()
                try {
                  deliver(held, e)
                  // held epochs that finally deliver count toward the
                  // members' delivered-corpus cardinality sketches too
                  members
                    .filter(_.metadata
                      .contains(PipelineManager.SketchColumnKey))
                    .foreach(updateCardinalitySketch(_, held))
                } finally held.unpersist(): Unit
              }
              files.foreach(f => rootFs.delete(f.getPath, false))
              rootFs.delete(EpochCommit.marker(hbDir, ns, e), false): Unit
            }
          }
        case _ => ()
      }
    }
  }

  /** Re-drive a crashed [[restampHoldbackDest]] from DURABLE state
    * (its stage-then-delete-then-rename leaves one unrecoverable
    * window: a crash after `create(.next)` but before `delete(meta)`
    * keeps the OLD stamp authoritative, and re-running update() is a
    * no-op because the spec already carries the new destination — the
    * held epochs would strand forever). The detection replicates
    * [[reassignUpdatedMember]]'s restamp branch exactly: a holdback
    * stamped for a destination NO current member serves, whose owner's
    * current spec destination is `dest`, is an interrupted re-point of
    * the owner's stream — finish it. Runs at every drain of `dest`
    * (idempotent; the common no-strand case is one stamp read per
    * dir), so a strand heals at the latest when its new destination
    * next drains. */
  private def repairStrandedHoldbackStamps(dest: String): Unit = {
    // ONE durable snapshot serves every dir's out-of-service check (an
    // object store pays a real RPC per spec read), taken lazily — the
    // common no-strand case never pays it
    lazy val durable = durableSpecs()
    records.stamps().foreach {
      case (_, Some((owner, stampDest))) if stampDest != dest &&
          // both checks answered from the DURABLE snapshot (this
          // manager's map may be stale, and the snapshot is already
          // paid for): positive knowledge only — an unreadable store
          // must not look like a strand (the re-drive re-runs at every
          // later drain)
          durable.exists(_.exists(s => s.name == owner &&
            s.destinationConnection == dest)) &&
          destinationKnownUnserved(stampDest, durable) =>
        restampHoldbackDest(stampDest, dest)
      case _ => ()
    }
  }

  /** A6/A7: per-epoch throughput metrics ride the query itself via
    * observe() — no second pass over the data; the listener collects
    * them (the reference's EventProducer SLA counters). */
  private def observed(transformed: DataFrame): DataFrame =
    if (transformed.columns.contains("value")) {
      // octet_length: true payload size for binary AND string values
      // (cast-to-string re-encoded binary and miscounted multi-byte
      // characters).
      val bytes = transformed.schema("value").dataType match {
        case BinaryType => octet_length(col("value"))
        case _ => octet_length(col("value").cast("string"))
      }
      transformed.observe("graft_metrics",
        count(lit(1)).as("events"), sum(bytes.cast("long")).as("bytes"))
    } else
      transformed.observe("graft_metrics",
        count(lit(1)).as("events"), max(lit(0L)).as("bytes"))

  /** A sketch table's (live, staged, aside) dirs: the register table,
    * its next version while written, and the previous version while
    * it is swapped out ([[EpochCommit.replaceDir]]). */
  private def sketchDirs(name: String): (Path, Path, Path) = {
    val dir = records.sketch(name)
    (new Path(dir), new Path(dir + ".staging"), new Path(dir + ".old"))
  }

  /** The sketch table to read — the live dir, else the previous table a
    * crash mid-swap left aside — when it holds register data. */
  private def sketchTable(name: String): Option[Path] = {
    val (live, _, aside) = sketchDirs(name)
    EpochCommit.liveDir(rootFs, live, aside).filter(p =>
      rootFs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.startsWith("part-")))
  }

  /** Max-merge the delivered batch's HLL registers into the
    * pipeline's durable register table (the s22 ingest shape) when
    * the spec opted in via [[PipelineManager.SketchColumnKey]]. State
    * is 256 rows forever; max-merge is idempotent AND commutative, so
    * a crash-replayed epoch re-merging the same batch is a natural
    * no-op — no epoch markers needed. The table is REPLACED by
    * [[EpochCommit.replaceDir]] (never an in-place overwrite, whose
    * delete-before-commit window would silently reset the cumulative
    * registers to one batch on a crash); a crash mid-swap leaves the
    * previous table aside, which the replayed epoch merges into. */
  private def updateCardinalitySketch(spec: PipelineSpec,
      batch: DataFrame): Unit =
    spec.metadata.get(PipelineManager.SketchColumnKey).foreach { c =>
      PipelineManager.sketchStripe(records.sketch(spec.name)).synchronized {
        val (live, staged, aside) = sketchDirs(spec.name)
        val bregs = graft.sketch.Sketch.hllRegisters(
          batch.select(col(c)), col(c))
        val merged = sketchTable(spec.name)
          .fold(bregs)(t => spark.read.parquet(t.toString).unionByName(bregs))
          .groupBy(col("reg")).agg(max(col("mj")).as("mj"))
        // the staging job reads the table before the swap moves it
        merged.coalesce(1).write.mode("overwrite").parquet(staged.toString)
        EpochCommit.replaceDir(rootFs, staged, live, aside)
      }
    }

  /** Running delivered-corpus cardinality: (occupied registers,
    * estimate) from the pipeline's sketch table, or None before any
    * delivery / for pipelines without the sketch opt-in.
    *
    * STRICTLY READ-ONLY: this can be called from any manager sharing
    * the checkpoint root (a standby's /diag), while only the
    * execution-lock owner delivers, so it only reads: the live table,
    * else the previous one set aside mid-swap. */
  def cardinality(name: String): Option[(Long, Double)] =
    PipelineManager.sketchStripe(records.sketch(name)).synchronized {
      try sketchTable(name).map { t =>
        val r = graft.sketch.Sketch.hllEstimate(spark.read.parquet(t.toString)).head()
        (r.getAs[Long]("n_regs"), r.getAs[Double]("hll_est"))
      } catch {
        // ONLY swap-race shapes read as "no estimate yet" (a dir
        // renamed away between the existence probe and the read): IO,
        // a parquet listing/analysis failure, or a Spark job killed by
        // the vanished files. Anything else — OOM, interrupt, a
        // genuine bug — propagates.
        case _: java.io.IOException => None
        case _: org.apache.spark.sql.AnalysisException => None
        case _: org.apache.spark.SparkException => None
      }
    }

  /** Remove orphan atomic-write temp files (`.<name>.<uuid>.tmp`)
    * from a checkpoint's METADATA-LOG dirs before (re)starting a
    * query on it. Spark's CheckpointFileManager commits each log
    * entry by temp-write + rename, so a query stopped BETWEEN the two
    * — a pause/stop racing batch 0's initialization, observed in a
    * full-battery run — strands a temp file; the logs themselves
    * ignore it, but Spark 4's fresh-checkpoint verification
    * (MicroBatchExecution.verifyNewCheckpointDirectory) refuses to
    * start batch 0 over a non-empty offsets dir, so the RESTART dies
    * with STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY even though every
    * real entry is absent. Swept only in the metadata-log dirs
    * (offsets/commits, plus the sources log one level down) — never
    * the state stores, whose own files are large and self-managed —
    * and only from [[launch]], which holds the execution lock with
    * the previous query stopped. */
  private def sweepCheckpointTemps(ckpt: Path): Unit = {
    def sweepFlat(dir: Path): Unit =
      if (rootFs.exists(dir))
        rootFs.listStatus(dir).foreach { st =>
          if (st.isFile && st.getPath.getName.startsWith(".") &&
              st.getPath.getName.endsWith(".tmp"))
            rootFs.delete(st.getPath, false): Unit
        }
    sweepFlat(new Path(ckpt, "offsets"))
    sweepFlat(new Path(ckpt, "commits"))
    val sources = new Path(ckpt, "sources")
    if (rootFs.exists(sources))
      rootFs.listStatus(sources).filter(_.isDirectory)
        .foreach(d => sweepFlat(d.getPath))
  }

  /**
   * Apply a batch of A4 auto-pause/resume decisions (the output of
   * [[FlowControl.autoPause]]) to this pipeline's admission state —
   * the reconciliation step the reference runs pre-poll
   * (preConsumerPollHook :855+). The WHOLE batch — pauses and resumes
   * together — folds into a single stop/replay/start cycle: a mixed
   * batch under partition flapping costs one checkpoint replay, not
   * two. Later decisions win over earlier ones for the same partition
   * (decisions arrive seq-ordered), so a partition never appears in
   * both the pause and the resume set.
   */
  def applyFlowDecisions(name: String, partitionCol: String,
      decisions: Seq[FlowControl.PauseDecision],
      transform: DataFrame => DataFrame): Unit = {
    requireNotDemoted()
    val finalAction = decisions.groupBy(_.partition)
      .map { case (p, ds) => p -> ds.last.action }
    val toPause = finalAction.collect { case (p, "PAUSE") => p }.toSet
    val toResume = finalAction.collect { case (p, "RESUME") => p }.toSet
    if (toPause.isEmpty && toResume.isEmpty) return
    stopQueryOf(name)
    if (toPause.nonEmpty) pausedPartitions.updateWith(name) {
      case Some((pc, vs)) if pc == partitionCol => Some((pc, vs ++ toPause))
      case _ => Some((partitionCol, toPause))
    }
    if (toResume.nonEmpty) {
      replayHoldback(name, toResume)
      shrinkPauseSet(name, toResume)
    }
    persistPausedState(name)
    start(name, transform)
  }

  /** Last observed per-epoch metrics for a pipeline (A6/A7). */
  def metrics(name: String): Map[String, Long] =
    lastMetrics.getOrElse(name, Map.empty)

  /** Currently paused partitions (F2/A4 diagnostics surface). */
  def paused(name: String): Set[String] =
    pausedPartitions.get(name).map(_._2).getOrElse(Set.empty)

  // ---- Index observability (A10 surface for index-maintaining
  // pipelines): an ingest loop that maintains a durable index
  // (IncrementalLexIndex / IncrementalVectorIndex / IncrementalPqIndex)
  // registers its `health` here; /diag/{name} then serves the store's
  // committed epoch, compaction frontier, live file/run counts,
  // deepest tier, rewrite counters, and (lexical) corpus stats — the
  // numbers the scale probes assert, available to operators live. ----
  private val indexHealthProviders =
    TrieMap.empty[String, () => Map[String, Double]]

  /** Register (or replace) the index-health provider for `name`.
    * The provider is invoked on each /diag read — it must be cheap
    * (the store's health is FS metadata + in-memory counters, no
    * Spark job) and exception-safe reads are the caller's problem
    * only insofar as [[indexHealth]] surfaces the failure as an
    * absent payload. */
  def registerIndexHealth(name: String,
      provider: () => Map[String, Double]): Unit =
    indexHealthProviders.put(name, provider): Unit

  /** Drop the provider (pipeline deleted / ingest stopped). */
  def unregisterIndexHealth(name: String): Unit =
    indexHealthProviders.remove(name): Unit

  /** The registered index's current health, or None when the
    * pipeline maintains no index or its provider failed (a dying
    * provider must not take /diag down with it). */
  def indexHealth(name: String): Option[Map[String, Double]] =
    indexHealthProviders.get(name).flatMap { p =>
      try Some(p())
      catch { case _: Exception => None }
    }

  // ---- Managed index rebuild (the s32 retrain-and-rebuild protocol
  // as a management-plane operation — the reference likewise routes
  // destination re-provisioning through the management plane,
  // KafkaTransportProviderAdmin.createTopic:285 called from the
  // coordinator, never by hand). A pipeline that maintains a durable
  // index registers an [[IndexRebuilder]]; POST
  // /pipelines/{name}/rebuildIndex then drives: backfill a NEW store
  // from the raw corpus BESIDE the live one (the old index serves
  // bit-identically throughout), gate the cutover on the new store's
  // committed ceiling covering the backfill plan, then swap serving
  // and sweep the old store. Never an in-place re-encode — mixed
  // code spaces make ADC silently wrong for every pre-retrain row. ----

  private val rebuilders = TrieMap.empty[String, IndexRebuilder]
  private val rebuilds = TrieMap.empty[String, RebuildProgress]

  /** Register (or replace) the rebuild protocol for `name`'s index.
    * The rebuilder owns the domain steps (new store location, raw
    * corpus plan, the serving swap); the manager owns sequencing,
    * progress, and the cutover gate. */
  def registerIndexRebuilder(name: String, r: IndexRebuilder): Unit =
    rebuilders.put(name, r): Unit

  def unregisterIndexRebuilder(name: String): Unit = {
    rebuilders.remove(name): Unit
    rebuilds.remove(name): Unit
  }

  /** Rebuild progress for /diag and GET rebuildIndex — live ceilings
    * come from the rebuilder so pollers see the backfill advance. A
    * throwing ceiling getter (often the same root cause as a backfill
    * failure) degrades to the last recorded values: a diag poll must
    * never 500 because the store under rebuild is sick. */
  def rebuildProgress(name: String): Option[RebuildProgress] =
    rebuilds.get(name).map { p =>
      rebuilders.get(name) match {
        case Some(r) if p.state == "backfilling" =>
          try p.copy(oldCeiling = r.oldCeiling, newCeiling = r.newCeiling)
          catch { case scala.util.control.NonFatal(_) => p }
        case _ => p
      }
    }

  /** Start (or run, with `await = true`) the registered rebuild.
    * Rejected while one is already backfilling — two concurrent
    * backfills of the same index would interleave epoch commits. A
    * completed/failed record is replaced by the new run. */
  def startIndexRebuild(name: String, owner: String = "anonymous",
      await: Boolean = false): RebuildProgress = {
    authorizeLifecycle(name, owner): Unit
    val r = rebuilders.getOrElse(name, sys.error(
      s"unknown index rebuilder for pipeline $name (none registered)"))
    // ceiling getters can throw with a sick store; every read below
    // degrades to the last recorded value rather than killing the
    // driver thread or a poll (a rebuild must always end in a
    // RECORDED complete/failed state — a thread that dies before
    // writing one wedges every later POST behind the running-check)
    def ceilings(fallback: RebuildProgress): (Long, Long) =
      try (r.oldCeiling, r.newCeiling)
      catch { case scala.util.control.NonFatal(_) =>
        (fallback.oldCeiling, fallback.newCeiling) }
    val seed = RebuildProgress("backfilling", r.planEpochs, 0L,
      Long.MinValue, Long.MinValue)
    val (oc0, nc0) = ceilings(seed)
    val start = seed.copy(oldCeiling = oc0, newCeiling = nc0)
    val prior = rebuilds.putIfAbsent(name, start)
    prior.foreach { p =>
      if (p.state == "backfilling" || !rebuilds.replace(name, p, start))
        // the house 409 shape: the running rebuild owns the index
        // exactly as a live instance owns an execution lock
        throw PipelineLockedException(name, "index-rebuild")
    }
    // plan captured ONCE (it fed `start` above): drive's loop bound
    // and BOTH terminal records reuse the captured value, so a
    // planEpochs getter that starts throwing mid-rebuild (open def —
    // an implementation may compute it from a now-sick store) can
    // never escape the catch before the terminal state is recorded
    val plan = start.planEpochs
    def drive(): Unit = {
      try {
        var e = 0L
        while (e < plan) {
          r.backfillEpoch(e)
          // fallback = the LAST RECORDED progress, not the seed: a
          // getter failing mid-backfill must not make the published
          // ceilings jump backward while epochsDone advances
          val (oc, nc) = ceilings(rebuilds.get(name).getOrElse(start))
          rebuilds.put(name, RebuildProgress("backfilling", plan,
            e + 1, oc, nc)): Unit
          e += 1
        }
        // THE CUTOVER GATE (s32's require): reads move only when the
        // new store's durable ceiling covers the backfill plan — a
        // lost epoch must fail the rebuild, never serve a hole
        require(r.newCeiling >= plan - 1,
          s"rebuild of $name incomplete (ceiling ${r.newCeiling} < " +
            s"plan $plan); refusing cutover")
        r.cutover()
        val (oc, nc) = ceilings(rebuilds.get(name).getOrElse(start))
        rebuilds.put(name, RebuildProgress("complete", plan,
          plan, oc, nc)): Unit
      } catch {
        case e: Throwable =>
          val last = rebuilds.get(name).getOrElse(start)
          val (oc, nc) = ceilings(last)
          rebuilds.put(name, RebuildProgress("failed", plan,
            last.epochsDone, oc, nc,
            Option(e.getMessage).getOrElse(e.getClass.getName))): Unit
          if (await) throw e
      }
    }
    if (await) drive()
    else {
      val t = new Thread(() => drive(), s"graft-rebuild-$name")
      t.setDaemon(true)
      t.start()
    }
    rebuildProgress(name).getOrElse(start)
  }

  /** THE demote refusal. A demoted instance must not start a query
    * or run ANY state-mutating verb: each of them writes the shared
    * durable spec store (persistSpec) — and resume/applyFlowDecisions
    * additionally DELIVER held epochs — on the strength of locks a
    * reclaiming peer may legitimately own by now; the reclaimer's
    * writes are authoritative. Guards [[launch]], the lifecycle verbs,
    * create/update, applyFlowDecisions and the request consumers. */
  private def requireNotDemoted(): Unit =
    if (demotedFlag) throw new IllegalStateException(s"manager $instanceId " +
      "is demoted (lease expired); it must not start queries or mutate " +
      "pipeline state")

  /** Authorize a mutating lifecycle call against the Authorizer hook
    * — the reference authorizes EVERY DMS mutation, not just
    * create/update (Coordinator.java:2371-2393). */
  private def authorizeLifecycle(name: String, owner: String): PipelineSpec = {
    requireNotDemoted()
    val spec = specs.getOrElse(name, sys.error(s"unknown pipeline $name"))
    require(hooks.authorize(spec, owner),
      s"owner $owner not authorized for $name")
    spec
  }

  /** `s`'s task-group prefix: the TaskPrefixKey create() stamps, else
    * (pre-group legacy state) its own name. */
  private def prefixOf(s: PipelineSpec): String =
    s.metadata.getOrElse(PipelineManager.TaskPrefixKey, s.name)

  /** THE persisted status transition: the local spec, the durable
    * record, then the state-change hook (which fires even for a name
    * no longer registered). */
  private def transition(name: String, to: PipelineStatus.Value): Unit = {
    specs.updateWith(name)(_.map(_.copy(status = to)))
    specs.get(name).foreach(persistSpec)
    hooks.onStateChange(name, to)
  }

  /** Run a restart of `names`; if it fails, no query runs for them, so
    * each falls into the truthful Stopped state — lock released,
    * Stopped persisted and notified — never Ready-with-no-query
    * holding a lock. The restart's own error is rethrown, carrying any
    * rollback failure as suppressed. */
  private def stoppedOnFailure(names: Seq[String])(restart: => Unit): Unit =
    try restart
    catch {
      case e: Throwable =>
        names.foreach { n =>
          try { releaseLock(n); transition(n, PipelineStatus.Stopped) }
          catch { case e2: Throwable => e.addSuppressed(e2) }
        }
        throw e
    }

  /**
   * Pause. Solo-run pipelines stop their query (offsets stay in the
   * checkpoint; the assignment and the lock are kept — contrast
   * [[stop]]). For a member of a GROUP-RUN task group the default
   * (`force = false`) pauses ONLY that member — the reference's
   * single-datastream pause scope (DatastreamResources.java:355-377:
   * `force ? getGroupedDatastreams(datastream) : singletonList(
   * datastream)`): the shared query keeps serving the siblings, and
   * once every member of the paused member's DESTINATION group is
   * paused, that destination's epochs divert to a durable holdback
   * ([[DurableRecords.groupHoldback]]) that [[resume]] replays exactly-once —
   * never dropped, never redelivered. `force = true` extends the
   * pause to the whole group and stops the shared query (every
   * member flips Paused, matching the reference's force scope).
   */
  def pause(name: String, force: Boolean = false,
      owner: String = "anonymous"): Unit = {
    authorizeLifecycle(name, owner)
    // q77: the query runs under ANOTHER LIVE manager — this manager
    // can stop nothing there, and flipping the durable status here
    // would lie (the peer's query keeps delivering against a spec
    // that reads Paused). Route the verb to the owner; statuses flip
    // where the pause is ENACTED.
    if (liveForeignExecutor(name).isDefined)
      writeLifecycleRequest(name, "pause", force)
    else pauseLocal(name, force)
  }

  /** The enacting pause body — runs only where no live peer owns the
    * query ([[pause]] routed everything else away). */
  private def pauseLocal(name: String, force: Boolean): Unit = {
    val groupRun = isGroupRun(name)
    val targets = if (force) findGroup(name).map(_.name) else Seq(name)
    // per-member group pause keeps the shared query running; every
    // other shape stops the target queries (the members' own solo
    // queries, or — group-run force — the shared query, swept once)
    if (!(groupRun && !force)) targets.foreach(stopQueryOf)
    targets.foreach(transition(_, PipelineStatus.Paused))
  }

  /**
   * Stop — distinct from [[pause]] exactly as the reference
   * distinguishes STOPPED from PAUSED (DatastreamResources.java
   * :462-546): a paused stream keeps its task assignment and is
   * expected back; a stopped one transitions STOPPING → STOPPED and
   * releases its execution resources (here: the streaming query and
   * the pipeline's scheduler pool jobs), keeping only durable state
   * (checkpoints, holdback) so a later [[resume]] can still replay
   * from them. `force` extends the stop to the whole task group, the
   * reference's force flag. Stopping an already-STOPPED stream is a
   * no-op, as in the reference.
   */
  def stop(name: String, force: Boolean = false,
      owner: String = "anonymous"): Unit = {
    authorizeLifecycle(name, owner)
    // q78: routed to the live owner exactly as [[pause]] — a local
    // flip-to-Stopped would lie while the peer keeps delivering, and
    // the lock release belongs to the manager that holds it
    if (liveForeignExecutor(name).isDefined)
      writeLifecycleRequest(name, "stop", force)
    else stopLocal(name, force)
  }

  /** The enacting stop body — runs only where no live peer owns the
    * query ([[stop]] routed everything else away). */
  private def stopLocal(name: String, force: Boolean): Unit = {
    val groupRun = isGroupRun(name)
    val targets =
      if (force) findGroup(name).map(_.name)
      else Seq(specs.getOrElse(name, sys.error(s"unknown pipeline $name")).name)
    targets.foreach { n =>
      if (!specs.get(n).map(_.status).contains(PipelineStatus.Stopped)) {
        specs.updateWith(n)(_.map(_.copy(status = PipelineStatus.Stopping)))
        hooks.onStateChange(n, PipelineStatus.Stopping)
        if (groupRun && !force) {
          // Per-member stop inside a group run (same default scope as
          // [[pause]]): drop only this member's handle — the shared
          // query keeps serving the siblings, and the batch loop skips
          // this member's delivery from its next epoch (Stopped ≠
          // Paused: no holdback; released resources forfeit epochs).
          // Only when NO other member still references the shared
          // query (every member stopped one by one) does the query
          // itself stop.
          Option(queries.remove(n)).foreach { q =>
            if (!queries.values().asScala.exists(_ eq q)) {
              if (q.isActive) q.stop()
              // the last member's stop ended the group run: drop the
              // remembered transform closure here too, not only on
              // the force path
              specs.get(n).map(prefixOf).foreach(groupRuns.remove(_): Unit)
            }
          }
        } else {
          // StreamingQuery.stop() cancels the query's in-flight jobs —
          // nothing of the pipeline's scheduler pool outlives it. For a
          // force group stop the first sweep stops the shared query;
          // every target still gets its transition and lock release
          // below — no member is left Ready with no running query.
          stopQueryOf(n)
          soloRuns.remove(n): Unit
        }
        // resources released ⇒ the task returns to the pool: another
        // live manager may now acquire it (contrast pause, which keeps
        // the assignment AND the lock)
        releaseLock(n)
        transition(n, PipelineStatus.Stopped)
      }
    }
    // a force stop ends the whole group run: drop the remembered
    // transform/trigger so the caller's closure is not retained for
    // the manager's lifetime (resume/startGroup re-remember on restart)
    if (force) specs.get(name).map(prefixOf).foreach(groupRuns.remove(_): Unit)
  }

  /**
   * Resume = restart from the same checkpointLocation. For a member
   * of a GROUP-RUN task group the default re-admits ONLY that member
   * (the [[pause]] scope mirrored): it flips Ready, REPLAYS its
   * destination group's held-back epochs exactly-once through the
   * leader's transport, and leaves the shared query alone — returning
   * the registered group query, or restarting the group when none is
   * registered (an AvailableNow group between drains). `force = true`
   * re-admits every member then restarts the group.
   */
  def resume(name: String, transform: DataFrame => DataFrame,
      force: Boolean = false, owner: String = "anonymous"): StreamingQuery = {
    authorizeLifecycle(name, owner)
    if (isGroupRun(name)) {
      resumeGroupFlipAndReplay(name, force)
      Option(queries.get(name)).getOrElse(startGroup(name, transform))
    } else start(name, transform) // flips Ready once the query runs
  }

  /** Cross-manager-safe resume (q77's return leg): no transform — a
    * needed restart uses the run the ENACTING manager remembers from
    * having started the pipeline ([[soloRuns]]/[[groupRuns]]), the
    * same remembered-run machinery every reassignment restart uses.
    * Routed to the live owner when a peer holds the execution lock (a
    * paused solo pipeline's lock stays with its owner — the
    * BYO-transform [[resume]] is correctly REFUSED there, so this
    * verb is how a non-owner resumes it: the reference's
    * resume-from-any-instance, DatastreamResources.java:393-439);
    * enacted immediately when this manager owns the lock or nobody
    * live does. Enacting locally with no remembered run throws
    * IllegalStateException (a STOPPED pipeline dropped its run on
    * stop — resume it with [[resume]]'s explicit transform). */
  def requestResume(name: String, force: Boolean = false,
      owner: String = "anonymous"): Unit = {
    authorizeLifecycle(name, owner)
    if (liveForeignExecutor(name).isDefined)
      writeLifecycleRequest(name, "resume", force)
    else resumeRemembered(name, force)
  }

  /** Check-before-act resume for control planes holding a caller
    * transform (REST): enact [[resume]] locally when this manager
    * can, route to the live owner otherwise — one method, so the
    * ownership judgment and the act cannot be split by an owner
    * dying (or appearing) in between: a lock acquired by a peer
    * between the check and the start degrades into the routed form
    * instead of surfacing the race as a failure. Returns true when
    * enacted locally (the caller may await the registered query),
    * false when routed (the owner's tick enacts; nothing to await
    * here). */
  def resumeOrRoute(name: String, transform: DataFrame => DataFrame,
      force: Boolean = false, owner: String = "anonymous"): Boolean = {
    authorizeLifecycle(name, owner)
    if (liveForeignExecutor(name).isDefined) {
      writeLifecycleRequest(name, "resume", force); false
    } else
      try { resume(name, transform, force, owner): Unit; true }
      catch {
        case _: PipelineLockedException =>
          writeLifecycleRequest(name, "resume", force); false
      }
  }

  /** [[resume]]'s group-path status flip + holdback drain, shared
    * with [[resumeRemembered]] so the direct and routed paths can
    * never diverge. Drains the holdback of every dest group that now
    * has a Ready member. [[replayGroupHoldback]] delivers each
    * holdback dir under the owner stamped on it, so the replay lands
    * in the marker namespace its epochs were held under, whichever
    * member leads the destination now ([[destLeader]] is sticky). The
    * batch loop's own self-healing drain covers a resume that races
    * an in-flight epoch (both paths serialize per destination). */
  private def resumeGroupFlipAndReplay(name: String, force: Boolean): Unit = {
    val targets = if (force) findGroup(name).map(_.name).toSet else Set(name)
    targets.foreach(transition(_, PipelineStatus.Ready))
    findGroup(name).groupBy(_.destinationConnection).values
      .filter(ms => ms.exists(m => targets.contains(m.name)) &&
        ms.exists(m =>
          specs.get(m.name).exists(_.status == PipelineStatus.Ready)))
      .foreach(replayGroupHoldback)
  }

  /** The run shape materialized from the SPEC ALONE (q81): a named
    * catalog transform ([[PipelineHooks.transforms]], params = the
    * spec's metadata) plus the spec-declared trigger. This is what
    * makes a routed resume survive the owner's CRASH: the enacting
    * manager never saw the owner's closure, but the spec is data any
    * manager can materialize — the reference's property that a
    * datastream spec stored in ZK is enough for ANY instance to run
    * its task (Coordinator.java:920 handleAssignmentChange →
    * AbstractKafkaConnector.java:152 createKafkaConnectorTask).
    * None when the spec names no transform or names one this
    * manager's catalog lacks (then only a remembered run or an
    * explicit transform can restart it). */
  private def catalogRun(name: String)
      : Option[(DataFrame => DataFrame, Trigger)] =
    specs.get(name).flatMap(s =>
      resolveTransform(s).map(t => (t, PipelineManager.specTrigger(s))))

  /** A spec's declarative RECIPE — the (transform name, reserved
    * params slice, trigger) triple a catalog materialization is a
    * pure function of. Two specs with equal recipes materialize the
    * same run; a recipe CHANGE is what makes an update
    * delivery-relevant for catalog pipelines (q82). */
  private def recipeOf(s: PipelineSpec)
      : (Option[String], Map[String, String], Option[String]) = (
    s.metadata.get(PipelineManager.TransformKey),
    s.metadata.filter {
      case (k, _) => k.startsWith(PipelineManager.TransformParamsPrefix) },
    s.metadata.get(PipelineManager.TriggerKey))

  /** [[catalogRun]] for a GROUP materialization: the ONE shared query
    * runs ONE transform for every member, yet the recipe lives in
    * per-member metadata — so a materialization from the NAMED
    * member's spec is only honest when every member declares the
    * same recipe. Divergent members (a half-applied group recipe
    * update, or independent authors) throw IllegalStateException —
    * the routed-resume consumer drops the request LOUDLY instead of
    * silently running one member's transform over the whole group's
    * checkpoint. Agreement is judged over the DURABLE population
    * this manager's map reflects ([[findGroup]]), the same members a
    * restart would fan out to. */
  private def catalogGroupRun(name: String)
      : Option[(DataFrame => DataFrame, Trigger)] =
    specs.get(name).flatMap { s =>
      if (resolveTransform(s).isEmpty) None
      else {
        val want = recipeOf(s)
        val diverged = findGroup(name).filter(m => recipeOf(m) != want)
        if (diverged.nonEmpty) throw new IllegalStateException(
          s"group members ${diverged.map(_.name).sorted.mkString(",")} " +
            s"declare a transform/trigger recipe divergent from $name's; " +
            "align the specs before a catalog materialization can " +
            "restart the shared query")
        catalogRun(name)
      }
    }

  /** Names this manager's transform catalog can materialize (plus
    * the always-available "identity") — listed on the management
    * plane's /health so an operator authoring a spec sees what a
    * routed restart could resolve. */
  def catalogTransformNames: Seq[String] =
    ("identity" +: hooks.transforms.keys.toSeq).distinct.sorted

  /** Resolve `spec`'s declared transform (`metadata("transform")`)
    * from the shared catalog — "identity" is always available; a
    * registered factory is applied to the RESERVED params slice of
    * the spec's metadata (`transform.*` keys only,
    * [[PipelineManager.TransformParamsPrefix]]) — so everything a
    * factory can read is delivery-relevant by construction (q82): a
    * param change reassigns a running query, while free-form
    * metadata a factory never sees stays cosmetic. None when the
    * spec declares nothing or the name is not in THIS manager's
    * catalog. */
  def resolveTransform(spec: PipelineSpec): Option[DataFrame => DataFrame] =
    spec.metadata.get(PipelineManager.TransformKey).flatMap {
      case "identity" => Some(identity[DataFrame] _)
      case n => hooks.transforms.get(n).map(f => f(spec.metadata.filter {
        case (k, _) => k.startsWith(PipelineManager.TransformParamsPrefix)
      }))
    }

  /** The enacting resume body for [[requestResume]] — [[resume]]'s
    * status-flip/holdback-replay discipline with the remembered run
    * in place of a caller transform. Statuses flip only when the
    * enactment can actually proceed (a query is registered, a run is
    * remembered, or the spec names a catalog transform —
    * [[catalogRun]]), so a failed resume never leaves
    * Ready-with-no-query — in EITHER branch.
    *
    * Precedence: a RESOLVABLE catalog recipe beats the remembered
    * run (q82) — the persisted spec is the authority, and the
    * remembered closure may have captured params an update-while-
    * paused has since replaced; running it would silently switch the
    * checkpoint back to the OLD semantics. A declared-but-
    * unresolvable name (this manager's catalog lacks it) falls back
    * to the remembered run, which captured the recipe of the last
    * actual start. */
  private def resumeRemembered(name: String, force: Boolean): Unit =
    if (isGroupRun(name)) {
      val prefix = specs.get(name).fold(name)(prefixOf)
      // judged BEFORE any flip/persist/replay: an enactment that
      // cannot proceed (crashed owner emptied groupRuns and the spec
      // declares no catalog transform; no query handle survives) must
      // mutate NOTHING — flipping first would persist
      // Ready-with-no-query, the status lie this whole routing exists
      // to prevent. A group catalog materialization additionally
      // requires member-recipe AGREEMENT ([[catalogGroupRun]] throws
      // on divergence — dropped loudly upstream, mutating nothing).
      val run = catalogGroupRun(name).orElse(groupRuns.get(prefix))
      val restartable = Option(queries.get(name)).isDefined || run.isDefined
      if (!restartable) throw new IllegalStateException(
        s"no remembered group run for $name on this manager and its " +
          "spec names no catalog transform; resume with an explicit " +
          "transform")
      resumeGroupFlipAndReplay(name, force)
      if (Option(queries.get(name)).isEmpty)
        run.foreach { case (transform, trigger) =>
          startGroup(name, transform, trigger): Unit
        }
    } else if (Option(queries.get(name)).exists(_.isActive)) {
      // already running (a resume-request that raced the owner's own
      // restart, or one issued against a live pipeline): the resume
      // is the Ready flip alone — starting a second query on the
      // same checkpoint is never the answer
      transition(name, PipelineStatus.Ready)
    } else catalogRun(name).orElse(soloRuns.get(name)) match {
      case Some((transform, trigger)) => start(name, transform, trigger): Unit
      case None => throw new IllegalStateException(
        s"no remembered solo run for $name on this manager and its " +
          "spec names no catalog transform; resume with an explicit " +
          "transform")
    }

  /** Unregister a pipeline. Deleting a member of a task group whose
    * shared query is RUNNING triggers the membership-change
    * reassignment (q72 — the remove-side mirror of
    * [[rejoinRunningGroup]]; the reference reassigns on datastream
    * delete through the same handleLeaderDoAssignment): stopping the
    * member's handle necessarily stops the SHARED query (one query
    * serves the whole group), so the remaining members are restarted
    * from the group checkpoint with the narrowed fan-out — exactly
    * once for the survivors (if the deleted member LED a shared
    * destination's marker namespace, its markers migrate to the new
    * leader first, so a replayed in-flight epoch still no-ops),
    * nothing further for the deleted member's destination, and
    * individually-stopped survivors STAY stopped. Deleting the last
    * member stops the group for good.
    *
    * The member's durable per-name state goes with it — solo
    * checkpoint, solo pause holdback, pause set, sketch — so a later
    * pipeline recreated under the same name starts clean instead of
    * inheriting a dead predecessor's offsets or holdback. (Group
    * holdback dirs are NOT deleted: they belong to the DESTINATION
    * and drain by stamp even after their owner is gone.)
    *
    * If the narrowed restart itself fails, the deletion stands and
    * the survivors are transitioned to Stopped (the truthful state:
    * no query is running; an explicit startGroup restarts them), and
    * the failure is rethrown. Membership changes of one group
    * serialize on [[PipelineManager.membershipStripe]]. */
  def delete(name: String, owner: String = "anonymous"): Unit = {
    authorizeLifecycle(name, owner)
    // q79: deleting under a LIVE peer's running query is the one
    // routed verb that is outright DESTRUCTIVE when mis-enacted — the
    // local body removes the per-name checkpoint directory the peer's
    // query is actively committing into. Nothing is destroyed until
    // the owner enacts; the request file is the durable intent.
    if (liveForeignExecutor(name).isDefined)
      writeLifecycleRequest(name, "delete", force = false)
    else deleteLocal(name)
  }

  /** The enacting delete body — runs only where no live peer owns the
    * query ([[delete]] routed everything else away). */
  private def deleteLocal(name: String): Unit = {
    val deletedSpec = specs.get(name)
    val prefix = deletedSpec.map(prefixOf)
    PipelineManager.membershipStripe(prefix.getOrElse(name)).synchronized {
      // capture BEFORE the stop: was the group's shared query live,
      // and who survives to restart it
      val sharedWasActive = prefix.exists(p =>
        Option(queries.get(name)).exists(q =>
          q.isActive && q.name == s"group-$p"))
      val survivors = findGroup(name).filterNot(_.name == name)
      stopQueryOf(name)
      releaseLock(name)
      // a reconcile tick that read the spec file before this delete
      // must not put it back (see reconcileSpecs)
      specVersions.updateWith(name)(o => Some(o.getOrElse(0L) + 1L)): Unit
      specs.updateWith(name)(_.map(_.copy(status = PipelineStatus.Deleting)))
      specs.remove(name)
      PipelineManager.sketchStripe(records.sketch(name)).synchronized {
        val (live, staged, aside) = sketchDirs(name)
        Seq(live, aside, staged).foreach(rootFs.delete(_, true): Unit)
      }
      // Per-name durable state dies with the pipeline: a recreated
      // same-name pipeline must not inherit offsets, holdback, or a
      // pause set from this incarnation. Swept BEFORE the spec file
      // goes: the spec file is the pipeline's durable existence
      // marker, so removing it LAST means (a) a crash mid-delete
      // leaves a restorable spec over already-clean state — never an
      // ORPHANED checkpoint no owner can ever sweep (the old order's
      // crash window), and (b) an observer that saw the spec vanish
      // may rely on the per-name state being gone too (a routed
      // delete's requestor polls exactly that).
      rootFs.delete(records.checkpoint(name), true): Unit
      rootFs.delete(records.holdback(name), true): Unit
      records.delete(records.paused(name))
      pausedPartitions.remove(name): Unit
      records.delete(records.spec(name))
      // Group-holdback dirs whose stamped destination this deletion
      // takes OUT OF SERVICE: while survivors still serve it the dirs
      // stay (replay enumerates by destination, and an owner-missing
      // dir still drains — the stamp contract's membership-churn
      // clause), but once nobody serves it the held epochs are
      // forfeited stream data (q72's "nothing further for the deleted
      // member's destination") and the dirs must not outlive the
      // group: a later tenant reclaiming the freed destination would
      // otherwise drain another stream's data into its own. Keyed on
      // OWNER-GONE + DEST-UNSERVED, not on o == name — deleting
      // sharers leader-first leaves the last deletion holding a dir
      // stamped by an EARLIER-deleted leader, which must die here
      // too. Live owners pointing elsewhere (strands) are untouched:
      // their own destination's drain repairs them.
      locally {
        // one durable snapshot for all dirs; forfeiting is
        // DESTRUCTIVE, so both legs demand POSITIVE knowledge — an
        // unreadable store keeps every dir (a live peer's held epochs
        // must never be forfeited on an IO hiccup)
        lazy val durable = durableSpecs()
        records.stamps().foreach {
          // owner-gone answered from the snapshot too (one read serves
          // every dir, and it IS the durable truth)
          case (d, Some((o, dst)))
              if (o == name || durable.exists(!_.exists(_.name == o))) &&
                destinationKnownUnserved(dst, durable) =>
            rootFs.delete(d, true): Unit
          case _ => ()
        }
      }
      indexHealthProviders.remove(name): Unit
      soloRuns.remove(name): Unit
      // last member gone -> the remembered group run (and its captured
      // transform closure) has nothing left to restart
      prefix.filterNot(p => specs.values.exists(prefixOf(_) == p))
        .foreach(groupRuns.remove(_): Unit)
      hooks.onStateChange(name, PipelineStatus.Deleting)
      // Exactly-once across a leader change: if the deleted member
      // owned a shared destination's marker namespace, hand its
      // markers to the destination's next leader. UNCONDITIONAL
      // (idempotent empty-file copies): deleting a stopped group's
      // leader — or deleting after a manager restart whose fresh
      // groupRuns can't see the old run — must not orphan the
      // namespace, or a delivered-but-uncommitted epoch replays under
      // the survivor leader's namespace on the next startGroup and
      // double-delivers.
      deletedSpec.foreach { del =>
        val sharing = survivors
          .filter(_.destinationConnection == del.destinationConnection)
        if (sharing.nonEmpty)
          migrateDestMarkers(del.destinationConnection, del.name,
            destLeader(sharing).name)
      }
      if (sharedWasActive && survivors.nonEmpty) for {
        p <- prefix
        (transform, trigger) <- groupRuns.get(p)
      } {
        // the deletion stands either way
        stoppedOnFailure(survivors.map(_.name))(
          startGroup(survivors.minBy(_.name).name, transform, trigger,
            reAdmitStopped = false): Unit)
      }
    }
  }

  /** The session this manager schedules on (control-plane consumers
    * like the management server's peer-diag reduce run tiny DataFrame
    * aggregations over it). */
  private[graft] def session: SparkSession = spark

  /**
   * Diagnostics scatter-gather (A10 / DiagnosticsAware.reduce): merge
   * every active query's progress into one status row each.
   */
  def status(): Seq[(String, String, Long)] =
    queries.asScala.toSeq.map { case (name, q) =>
      val rows = Option(q.lastProgress).map(_.numInputRows).getOrElse(0L)
      (name, if (q.isActive) "READY" else "STOPPED", rows)
    }.sortBy(_._1)
}

object PipelineManager {

  /** The footer key under which Spark's parquet writer stores the
    * written frame's schema (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark's parquet inference reads from one file's footer:
    * the Spark schema key if present, else the Parquet→Spark converter
    * built from the session conf as `ParquetFileFormat
    * .mergeSchemasInParallel` builds it; nullable throughout, as a file
    * relation's data schema is. None when the key does not parse as
    * JSON (Spark then tries a legacy format this reader leaves to it). */
  private[streaming] def footerSchema(spark: SparkSession, file: Path): Option[StructType] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    val meta = try reader.getFileMetaData finally reader.close()
    val schema = Option(meta.getKeyValueMetaData.get(SparkSchemaKey)) match {
      case Some(json) => scala.util.Try(DataType.fromJson(json)).toOption.collect {
        case s: StructType => s
      }
      case None =>
        val conf = GraftBridge.sqlConf(spark)
        Some(new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
          .convert(meta.getSchema))
    }
    schema.map(GraftBridge.asNullable)
  }

  /**
   * `spark.read.parquet(src).schema` without its Spark job: the parquet
   * connector's source schema, read on the driver from the one footer
   * Spark's inference reads (mergeSchema off): the first data file by
   * path among the names Spark's listing keeps. Everything this rule
   * does not cover goes to Spark's own inference, so its result and its
   * errors stay Spark's: a path that is not a plain directory (missing,
   * a file, a glob), a directory with subdirectories (partition columns
   * come from their paths), a file-sink output (listed by its log),
   * summary files, schema merging, no data file, an unreadable footer.
   */
  private[streaming] def parquetSchema(spark: SparkSession, src: String): StructType = {
    // HadoopFSUtils.shouldFilterOutPathName: the names Spark's listing drops
    def hidden(n: String) =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) &&
        !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
    val dir = new Path(src)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed =
      if (src.exists("{}[]*?\\".contains(_)) || GraftBridge.sqlConf(spark).isParquetSchemaMergingEnabled ||
          !scala.util.Try(fs.getFileStatus(dir).isDirectory).getOrElse(false)) Nil
      else fs.listStatus(dir).toSeq
    val kept = listed.filterNot(st => hidden(st.getPath.getName))
    val dataFilesOnly = kept.nonEmpty && !listed.exists(_.getPath.getName == "_spark_metadata") &&
      kept.forall(st => st.isFile && !st.getPath.getName.startsWith("_"))
    val fromFooter = if (!dataFilesOnly) None else scala.util.Try(
      footerSchema(spark, kept.map(_.getPath).minBy(_.toString))).toOption.flatten
    fromFooter.getOrElse(spark.read.parquet(src).schema)
  }

  /** Default destination retention — the reference's 3-day topic
    * retention default (KafkaTransportProviderAdmin
    * .DEFAULT_RETENTION). */
  val DefaultRetentionMs: Long = 3L * 24 * 60 * 60 * 1000

  /** Namespace used by [[EpochCommit]] when no pipeline name is given;
    * reserved — [[PipelineManager.create]] rejects it as a name. */
  val ReservedNamespace: String = "default"

  /** Empty-owner lock files younger than this are a concurrent
    * acquire's create-to-write window, not an orphan (acquireLock). */
  val AcquireGraceMs: Long = 5000L

  /** Fixed pool of monitors serializing IN-PROCESS lock operations —
    * the local-filesystem complement of HDFS's atomic exclusive
    * create (acquireLock's cross-process primitive), striped by lock
    * path: a long-lived multi-tenant JVM creates unboundedly many
    * (root, pipeline) pairs. */
  private[streaming] val lockStripe = new Stripes

  /** Monitors for group-holdback replay — a SEPARATE pool from
    * [[lockStripe]]: replay holds its monitor across whole Spark
    * read+deliver jobs (seconds), while the lock stripes were sized
    * for microsecond filesystem ops; sharing them would stall a
    * hash-colliding acquire/release for a replay's duration. */
  private[streaming] val holdbackStripe = new Stripes

  /** Name of the owner/destination stamp record inside a
    * group-holdback dir ([[DurableRecords.stamp]]) — lets replay
    * enumerate dirs by destination and attribute their epochs after
    * membership churn. */
  private[streaming] val HoldbackMetaFile = "_graft_holdback_meta"

  /** Monitors for the cardinality-sketch swap — like
    * [[holdbackStripe]], these guard whole Spark jobs (a register
    * merge + directory swap), so they get their own pool: a /diag
    * read and the delivery thread's sketch update of one pipeline
    * serialize here instead of racing the rename window. */
  private[streaming] val sketchStripe = new Stripes

  /** Monitors serializing MEMBERSHIP CHANGES of one task group (the
    * capture-stop-restart sequences of create-on-running-group and
    * delete-on-running-group): two overlapping changes would both
    * observe the shared query live and both race to start its
    * replacement. Own pool — the critical section spans a query stop
    * and start (seconds). */
  private[streaming] val membershipStripe = new Stripes

  /** Metadata key carrying a pipeline's task-group prefix (the
    * reference's `system.taskPrefix`,
    * DatastreamMetadataConstants.java:46): streams sharing it form one
    * task group — set at create, inherited on destination-reuse. */
  val TaskPrefixKey: String = "taskPrefix"

  /** Metadata key naming a spec's declarative transform, resolved
    * from the shared catalog ([[PipelineHooks.transforms]]; the REST
    * layer's registry uses the SAME key) — the reference's
    * connector-name-in-the-spec property: behavior is named in data,
    * resolved by whichever instance materializes the task. */
  val TransformKey: String = "transform"

  /** RESERVED metadata namespace for a catalog transform's params:
    * factories receive ONLY this slice of the spec's metadata
    * ([[PipelineManager.resolveTransform]]), and every key under it
    * is delivery-relevant by construction
    * ([[isDeliveryRelevantMetadataKey]]) — so a param change on a
    * RUNNING pipeline reassigns exactly like a destination re-point,
    * while free-form metadata (labels, pins) stays cosmetic. Without
    * the reserved slice, either every metadata key restarts queries
    * or a param key silently doesn't — the q82 contract hole. */
  val TransformParamsPrefix: String = "transform."

  /** Metadata key declaring a spec's trigger for catalog-materialized
    * (re)starts: `processingTime:<ms>` or `availableNow` (the default
    * when absent). Any other value is a misconfiguration and throws
    * at materialization — a silent default there would turn a typo
    * into a one-shot run of a standing pipeline. */
  val TriggerKey: String = "graft.trigger"

  /** `spec`'s declared trigger ([[TriggerKey]]). */
  def specTrigger(spec: PipelineSpec): Trigger =
    spec.metadata.get(TriggerKey) match {
      case None | Some("availableNow") => Trigger.AvailableNow()
      case Some(v) if v.startsWith("processingTime:") =>
        val ms = v.stripPrefix("processingTime:").trim
        // parse-based validation, not isDigit: a Unicode digit or an
        // overflowing (20+ digit) value must land in the SAME
        // IllegalStateException the routed-resume consumer drops
        // loudly — a NumberFormatException here would re-throw into
        // the heartbeat tick and retry the doomed request forever
        scala.util.Try(ms.toLong).toOption.filter(_ >= 0L) match {
          case Some(n) => Trigger.ProcessingTime(n)
          case None => throw new IllegalStateException(
            s"bad $TriggerKey value '$v' (want processingTime:<ms>)")
        }
      case Some(other) => throw new IllegalStateException(
        s"bad $TriggerKey value '$other' " +
          "(want availableNow or processingTime:<ms>)")
    }

  /** Metadata keys the SERVER owns: preserved across [[PipelineManager
    * .update]] even when the client's PUT body omits them (the
    * reference likewise carries system.* metadata through updates).
    * "graft.targetAssignment" is the management plane's applied
    * partition-pin table (ManagementServer.TargetAssignmentKey). */
  val ServerManagedMetadataKeys: Set[String] =
    Set(TaskPrefixKey, "graft.targetAssignment")

  /** Metadata key opting a pipeline into a delivered-corpus
    * cardinality sketch: the value names the delivered column whose
    * distinct count the manager tracks in a durable 256-row
    * HyperLogLog register table (the s22 ingest shape), surfaced on
    * the management plane as `/diag/{name}`'s cardinalityEstimate —
    * the diag answer to "how big is this stream's key space" at O(1)
    * state. Durable transports only (the memory sink has no
    * foreachBatch to ride). */
  val SketchColumnKey: String = "graft.sketchColumn"

  /** Metadata keys a running query's SOURCE or DELIVERY closures
    * capture at start time: the cdc merge shape (builtinTransport
    * captures `cdcKeyCols`/`cdcScnCol`/`cdcOpcodeCol`/`cdcBuckets`),
    * the directory sink's op mode and ordering, per-trigger flow
    * control (source options), the Kafka assigned-partition list, and
    * the sketch opt-in column. An update() that changes one of these
    * on a RUNNING pipeline must restart the query (q75) or the
    * persisted spec and the live delivery silently diverge — the
    * reference validates and reassigns on ANY update
    * (DatastreamResources.java:410 → Coordinator.java:1680).
    * `kafka.`-prefixed consumer/producer passthrough is relevant too,
    * as is the declarative-transform recipe — [[TransformKey]],
    * [[TriggerKey]], and the reserved [[TransformParamsPrefix]]
    * params slice (q82): a catalog pipeline's running query IS its
    * materialized recipe, so persisting a new recipe without a
    * restart would let a later routed resume (q81's catalogRun)
    * silently switch semantics mid-checkpoint. Membership is
    * therefore tested via [[isDeliveryRelevantMetadataKey]], never
    * this set alone. */
  val DeliveryRelevantMetadataKeys: Set[String] = Set(
    "cdcKeyCols", "cdcScnCol", "cdcOpcodeCol", "cdcBuckets",
    "directoryOps", "directoryOrderCol",
    "maxFilesPerTrigger", "maxOffsetsPerTrigger", "assign",
    TransformKey, TriggerKey,
    SketchColumnKey)

  /** Is `k` a metadata key whose change must reassign a running
    * query? (See [[DeliveryRelevantMetadataKeys]].) */
  def isDeliveryRelevantMetadataKey(k: String): Boolean =
    DeliveryRelevantMetadataKeys.contains(k) || k.startsWith("kafka.") ||
      k.startsWith(TransformParamsPrefix)

  /**
   * Injective filesystem-safe encoding of a pipeline name (see
   * [[EpochCommit]]): ASCII alphanumerics pass through, every other
   * character hex-escapes per UTF-8 byte as `_xx`. Decoding is
   * unambiguous (`_` always starts exactly one two-hex-digit escape),
   * so distinct names never share an epoch namespace.
   */
  def namespaceOf(pipeline: String): String =
    if (pipeline.isEmpty) ReservedNamespace
    else pipeline.getBytes("UTF-8").map { b =>
      val c = b.toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9')) c.toString
      else f"_${b & 0xff}%02x"
    }.mkString

  /**
   * Kafka subscription + consumer options for a spec (S1-S3). An
   * assigned-partition list in metadata key `assign` (the JSON the
   * Spark Kafka source expects, e.g. `{"topicA":[0,1]}`) takes
   * precedence — the reference's consumer.assign path
   * (KafkaMirrorMakerConnectorTask.java:222-230); a glob/regex source
   * becomes `subscribePattern` (:233); otherwise plain `subscribe`.
   * `kafka.*` metadata (bootstrap servers, security) passes through
   * verbatim, as does per-trigger flow control (A5).
   */
  def kafkaSourceOptions(spec: PipelineSpec): Map[String, String] = {
    val subscription: (String, String) =
      spec.metadata.get("assign").map("assign" -> _).getOrElse {
        if (spec.sourceConnection.contains("*") || spec.sourceConnection.contains(".+"))
          "subscribePattern" -> spec.sourceConnection
        else "subscribe" -> spec.sourceConnection
      }
    val passthrough = spec.metadata.view
      .filterKeys(_.startsWith("kafka.")).toMap
    val flow = spec.metadata.get("maxOffsetsPerTrigger")
      .map("maxOffsetsPerTrigger" -> _)
    Map(subscription) ++ passthrough ++ flow
  }

  /** [[EpochCommit.epochAppend]], kept here for callers that reach the
    * commit through the manager's companion. */
  def epochAppend(batch: DataFrame, dest: String, epoch: Long,
      pipeline: String = ""): Seq[String] =
    EpochCommit.epochAppend(batch, dest, epoch, pipeline)

  /**
   * One streaming band-admission epoch — THE loop body shared by the
   * s15/s30 gates and the scale probe's shapes (previously four
   * hand-synced copies; the s16 ANN form differs only in band
   * construction): flag the batch against `index` as of this epoch
   * (per-doc verdict emitted through the idempotent epoch commit —
   * the commit doubles as the batch's materialization point), then
   * return the admitted band rows for the CALLER's index layer to
   * append (flat dir + view extend, or a partitioned store). The
   * empty-commit guard keeps a data-free epoch from turning the
   * read-back into an AnalysisException. Replay-safe end to end: a
   * replayed epoch re-reads its own committed verdict files.
   */
  def dedupAdmissionEpoch(index: DataFrame, batch: DataFrame,
      outDir: String, epoch: Long, outPipe: String): DataFrame = {
    val spark = batch.sparkSession
    val bb = batch.filter(col("band").isNotNull)
    val verdictFrame = graft.dedup.Dedup.indexDedupBatch(
      index, bb, batch.select(col("doc")).distinct())
    val vFiles = EpochCommit.epochAppend(verdictFrame.coalesce(1), outDir, epoch, outPipe)
    val verdicts = if (vFiles.isEmpty) verdictFrame.limit(0)
      else spark.read.parquet(vFiles: _*)
    graft.dedup.Dedup.admitBands(bb, verdicts).coalesce(1)
  }

  /**
   * Apply a directory change feed to a destination directory: each
   * record is a file event (key = relative path, value = CREATED/
   * MODIFIED/DELETED, optional `content` column = file body). The
   * batch is first collapsed to the last event per path (ordered by
   * `orderCol` when given), then applied from the executors via
   * foreachPartition — no driver-side loop, so a wide epoch fans out
   * across the cluster. Reference: datastream-directory/
   * DirectoryChangeProcessor.java:128-140 +
   * DirectoryTransportProvider's create/modify/delete application.
   */
  def applyDirectoryOps(batch: DataFrame, dest: String,
      orderCol: Option[String]): Unit = {
    val hasContent = batch.columns.contains("content")
    val latest = orderCol match {
      case Some(oc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col(oc).desc)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => batch.dropDuplicates("key")
    }
    val rows = latest.select(
      col("key").cast("string").as("path"),
      col("value").cast("string").as("kind"),
      (if (hasContent) col("content").cast("string") else lit("")).as("body"))
    rows.foreachPartition { it: Iterator[Row] =>
      // executor-side: resolve the FS from default config (works for
      // local and cluster deployments alike)
      val conf = new org.apache.hadoop.conf.Configuration()
      val destPath = new Path(dest)
      val fs = destPath.getFileSystem(conf)
      it.foreach { r =>
        val target = new Path(destPath, r.getString(0))
        r.getString(1) match {
          case "DELETED" => fs.delete(target, false)
          case _ => // CREATED | MODIFIED: (over)write the file body
            val out = fs.create(target, true)
            try out.write(r.getString(2).getBytes("UTF-8"))
            finally out.close()
        }
      }
    }
  }
}

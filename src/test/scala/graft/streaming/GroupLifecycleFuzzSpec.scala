package graft.streaming

import java.nio.file.Files

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.model.PipelineSpec

/**
 * Model-based fuzzer for the per-member group lifecycle (the q68
 * semantics): random pause/stop/resume/append/drain sequences over a
 * destination-reuse group run, checked after every run against an
 * in-test admission model. The modeled contract, from
 * [[PipelineManager.startGroup]]'s batch-time admission and the
 * per-member verbs:
 *
 *  - a drain delivers every pending source epoch to each destination
 *    whose member is Ready (held epochs replay first), diverts them
 *    to the durable holdback when the member is Paused, and forfeits
 *    them when the member is Stopped (stop released its resources);
 *  - an explicit group (re)start rejoins Stopped members (Ready) —
 *    forfeited epochs stay forfeited;
 *  - resume flips the member Ready and replays its destination's
 *    holdback immediately; when the member has no registered query
 *    handle (it was stopped per-member) resume restarts the whole
 *    group, which also rejoins the other Stopped members;
 *  - per-destination delivery is exactly-once throughout (epoch
 *    commit markers), no matter how often holdback replays run;
 *  - a destination RE-POINT (update) freezes the old destination at
 *    what it had, moves the member's held epochs to the new
 *    destination (the q73 restamp), and delivers everything later
 *    only there — and a re-point whose restamp CRASHED mid-protocol
 *    (old stamp left authoritative) heals at the member's next
 *    drain (repairStrandedHoldbackStamps) with the same outcome,
 *    never a strand and never another member's drain stealing it.
 *
 * Invariants per destination at every quiescent point: the delivered
 * epoch set equals the model's, the row count is exactly
 * rowsPerEpoch x |epochs| (no duplicate and no partial delivery),
 * and every ABANDONED destination stays frozen at its re-point-time
 * contents forever.
 *
 * Every pause/stop/resume op randomly runs either LOCALLY on the
 * owning manager or ROUTED through a second live manager (q77–q79:
 * the non-owner writes a durable lifecycle-request, the owner's tick
 * enacts it) whenever the owner holds at least one member lock — the
 * model is IDENTICAL for both paths, which is exactly the routed
 * contract under test.
 *
 * Four chaos ops target the protocol's crash/race windows directly:
 *  - equal-length double spec write (the r18 reconcile blind spot):
 *    two updates inside one wall-clock mtime granule that leave the
 *    file the same length — the observer's single tick must still
 *    see the second (persistSpec's monotonic specVersion stamp);
 *  - same-granule cross-requestor verb CONFLICT: two managers issue
 *    opposing pause/stop and the request mtimes are forced equal, so
 *    the owner's consume orders by file name alone — the terminal
 *    state must be the truthful enactment of that serialization,
 *    never a half-applied mix;
 *  - crash-between-enact-and-delete: the consumed request file is
 *    re-planted (the enactor "crashed" before its delete) — the
 *    re-enactment must be idempotent;
 *  - torn request frame (writer crashed mid-create, every truncation
 *    point): never enacts, never parses as a different request,
 *    never blocks the queue, GC'd once aged past the grace.
 *
 * Fixed seeds; sequential ops (interleaving at the operation level —
 * the thread-level lock races live in [[LockFuzzSpec]]).
 */
class GroupLifecycleFuzzSpec extends SparkTestBase {
  import spark.implicits._

  private val Members = Vector("fz0", "fz1", "fz2")
  private val RowsPerEpoch = 10

  test("per-member group lifecycle matches the admission model on random op sequences") {
    for (seed <- Seq(314L, 2718L, 1618L)) runFuzz(seed)
  }

  private def runFuzz(seed: Long): Unit = {
    val root = Files.createTempDirectory(s"graft-gfz-$seed-").toString
    val srcDir = Files.createTempDirectory(s"graft-gfz-src-$seed-").toString
    val destRoots = mutable.ArrayBuffer(Members.map(m =>
      Files.createTempDirectory(s"graft-gfz-$m-$seed-").toString): _*)
    val dests = destRoots.map(_ + "/d")
    val pm = new PipelineManager(spark, root)
    var pmB: PipelineManager = null
    var pmC: PipelineManager = null
    try {
      Members.zip(dests).foreach { case (m, dst) =>
        pm.create(PipelineSpec(m, "parquet", "parquet", srcDir,
          destinationConnection = dst))
      }
      // the non-owner peer every routed verb goes through (it shares
      // the durable root and loaded the specs, but runs no query);
      // constructed AFTER the creates so its loadSpecs sees them
      pmB = new PipelineManager(spark, root, instance = s"gfzB-$seed")
      // second non-owner requestor for the cross-requestor conflict
      // op (its instance id sorts AFTER pmB's, so a same-granule
      // conflict always enacts pmB's verb first — deterministic)
      pmC = new PipelineManager(spark, root, instance = s"gfzC-$seed")
      val rng = new Random(seed)
      var nextEp = 0L
      var pending = Set.empty[Long]
      val status = mutable.Map(Members.map(_ -> "Ready"): _*)
      val hasHandle = mutable.Map(Members.map(_ -> false): _*)
      // which members' execution locks pm currently holds (all of
      // them after any group start; a per-member stop releases one):
      // a routed verb needs at least one held lock, else the peer
      // would legitimately enact it ITSELF (no live owner) and the
      // model below — which asserts through pm's view — would skew
      val locked = mutable.Map(Members.map(_ -> false): _*)
      val delivered = mutable.Map(Members.map(_ -> Set.empty[Long]): _*)
      val holdback = mutable.Map(Members.map(_ -> Set.empty[Long]): _*)
      val destOf = mutable.Map(Members.zip(dests): _*)
      // abandoned destinations stay frozen at re-point-time contents
      val frozen = mutable.Map.empty[String, Set[Long]]

      def append(): Unit = {
        val e = nextEp; nextEp += 1
        val df: DataFrame = (0 until RowsPerEpoch)
          .map(i => (e * 100 + i, e)).toDF("id", "ep")
        PipelineManager.epochAppend(df.coalesce(1), srcDir, e, "gfzsrc"): Unit
        pending += e
      }
      // batch-time admission with the statuses frozen for the drain
      def modelDeliver(): Unit = {
        Members.foreach { m =>
          status(m) match {
            case "Ready" =>
              delivered(m) ++= holdback(m); holdback(m) = Set.empty
              delivered(m) ++= pending
            case "Paused" => holdback(m) ++= pending
            case _        => () // Stopped: forfeited
          }
          hasHandle(m) = true
        }
        pending = Set.empty
      }
      def drain(): Unit = {
        // a drain with no new files fires no batch (and so no replay);
        // keep the model unambiguous by always draining real data
        if (pending.isEmpty) append()
        Members.filter(status(_) == "Stopped")
          .foreach(status(_) = "Ready") // explicit group start rejoins
        pm.startGroup("fz0", identity).awaitTermination()
        Members.foreach(locked(_) = true)
        modelDeliver()
      }
      def routable: Boolean = locked.values.exists(identity)
      def doResume(m: String, routed: Boolean): Unit = {
        val willStart = !hasHandle(m)
        if (willStart && pending.isEmpty) append()
        status(m) = "Ready"
        if (willStart)
          Members.filter(status(_) == "Stopped").foreach(status(_) = "Ready")
        if (routed) {
          // the routed form restarts from the OWNER's remembered run
          pmB.requestResume(m)
          assert(pm.consumeLifecycleRequests() == 1,
            s"seed=$seed: owner failed to consume the resume request")
          pm.queryOf(m).foreach(_.awaitTermination())
        } else pm.resume(m, identity).awaitTermination()
        if (willStart) Members.foreach(locked(_) = true)
        // resume replays the member's destination holdback directly
        delivered(m) ++= holdback(m); holdback(m) = Set.empty
        if (willStart) modelDeliver()
      }
      def destEpochs(dst: String): (Set[Long], Long) = {
        val rows = Try(spark.read.parquet(dst)).toOption
        (rows.map(_.select($"ep").distinct().as[Long].collect().toSet)
          .getOrElse(Set.empty),
          rows.map(_.count()).getOrElse(0L))
      }
      def check(where: String): Unit = {
        Members.foreach { m =>
          val (eps, n) = destEpochs(destOf(m))
          assert(eps == delivered(m),
            s"seed=$seed $where $m: delivered $eps, model ${delivered(m)}")
          assert(n == delivered(m).size.toLong * RowsPerEpoch,
            s"seed=$seed $where $m: $n rows for ${delivered(m).size} epochs " +
              "(duplicate or partial delivery)")
          assert(pm.get(m).get.status.toString == status(m),
            s"seed=$seed $where $m: status")
        }
        frozen.foreach { case (dst, eps0) =>
          val (eps, n) = destEpochs(dst)
          assert(eps == eps0 && n == eps0.size.toLong * RowsPerEpoch,
            s"seed=$seed $where: abandoned destination $dst moved " +
              s"($eps vs frozen $eps0)")
        }
      }

      // destination re-point mid-lifecycle (q73's restamp), with the
      // restamp optionally CRASHED mid-protocol (the staged `.next`
      // landed, the old meta survived — the exact window
      // repairStrandedHoldbackStamps exists for). Model: the old
      // destination freezes, held epochs follow the member, pending
      // epochs deliver only to the new destination on later drains.
      def repoint(m: String, crashRestamp: Boolean): Unit = {
        val old = destOf(m)
        val newRoot = Files.createTempDirectory(
          s"graft-gfz-rp-$m-$seed-").toString
        destRoots += newRoot
        val nd = newRoot + "/d"
        pm.update(m, PipelineSpec(m, "parquet", "parquet", srcDir,
          destinationConnection = nd)): Unit
        if (crashRestamp) {
          val hbRoot = new org.apache.hadoop.fs.Path(s"$root/group-holdback")
          val fs = hbRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(hbRoot))
            fs.listStatus(hbRoot).filter(_.isDirectory).foreach { d =>
              val meta = new org.apache.hadoop.fs.Path(d.getPath,
                PipelineManager.HoldbackMetaFile)
              if (fs.exists(meta)) {
                val in = fs.open(meta)
                val head = try new String(in.readAllBytes(), "UTF-8")
                  .split("\n", 2)(0) finally in.close()
                if (head == m) {
                  val next = new org.apache.hadoop.fs.Path(d.getPath,
                    PipelineManager.HoldbackMetaFile + ".next")
                  // a second crashed restamp over an unrepaired first
                  // replaces the staged .next (the real protocol's
                  // stage write is a create-overwrite); local-fs
                  // rename refuses an existing destination, so clear
                  // it first
                  if (fs.exists(next)) fs.delete(next, false): Unit
                  assert(fs.rename(meta, next))
                  val out = fs.create(meta, true)
                  try out.write(DurableRecords.frame(Seq(m, old)))
                  finally out.close()
                }
              }
            }
        }
        frozen(old) = delivered(m)
        destOf(m) = nd
        delivered(m) = Set.empty
      }

      drain() // establish the group run before per-member verbs
      def pick(): String = Members(rng.nextInt(Members.size))
      def route(): Boolean = routable && rng.nextBoolean()
      val hfs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lcDir = new org.apache.hadoop.fs.Path(s"$root/lifecycle-requests")
      (0 until 18).foreach { _ =>
        rng.nextInt(12) match {
          case 0 => append()
          case 1 =>
            val m = pick()
            if (route()) {
              pmB.pause(m)
              assert(pm.consumeLifecycleRequests() == 1,
                s"seed=$seed: owner failed to consume the pause request")
            } else pm.pause(m)
            status(m) = "Paused"
          case 2 =>
            val m = pick()
            val doStop: String => Unit = n =>
              if (route()) {
                pmB.stop(n)
                assert(pm.consumeLifecycleRequests() == 1,
                  s"seed=$seed: owner failed to consume the stop request")
              } else pm.stop(n)
            if (status(m) != "Stopped") {
              doStop(m); status(m) = "Stopped"; hasHandle(m) = false
              locked(m) = false
            } else doStop(m) // no-op on both sides
          case 3 => doResume(pick(), route())
          case 4 => repoint(pick(), crashRestamp = false)
          case 5 => repoint(pick(), crashRestamp = true)
          case 6 =>
            // the r18 reconcile blind spot: two EQUAL-LENGTH spec
            // writes (metadata flip), typically inside one wall-clock
            // mtime granule, after the observer pinned its stamp on
            // the previous write — the observer's single tick must
            // still see the SECOND write (persistSpec's monotonic
            // specVersion rides the stamp, so the compare is exact,
            // never wall-clock-gated)
            val m = pick()
            val v1 = "f" + rng.nextInt(10)
            val v2 = "g" + rng.nextInt(10) // same length, different value
            def withFlip(v: String): PipelineSpec = {
              val s0 = pm.get(m).get
              s0.copy(metadata = s0.metadata + ("gfz.flip" -> v))
            }
            pmB.reconcileSpecs() // pin the observer's stamp pre-flip
            pm.update(m, withFlip(v1)): Unit
            pm.update(m, withFlip(v2)): Unit
            pmB.reconcileSpecs()
            assert(pmB.get(m).exists(
              _.metadata.get("gfz.flip").contains(v2)),
              s"seed=$seed: observer missed the second equal-length " +
                s"spec write of $m (saw ${pmB.get(m).map(_.metadata)})")
          case 7 if routable =>
            // same-granule cross-requestor verb CONFLICT: opposing
            // pause/stop from two non-owners, request mtimes forced
            // equal, so the owner's consume orders by file name alone
            // — pmB's verb enacts first, so the terminal state is the
            // SECOND requestor's verb, truthfully applied
            val m = pick()
            val pauseFromB = rng.nextBoolean()
            if (pauseFromB) { pmB.pause(m); pmC.stop(m) }
            else { pmC.pause(m); pmB.stop(m) }
            hfs.listStatus(lcDir).filter(_.isFile)
              .foreach(st => hfs.setTimes(st.getPath, 424242L, -1))
            assert(pm.consumeLifecycleRequests() == 2,
              s"seed=$seed: owner must consume both conflicting verbs")
            val expected = if (pauseFromB) "Stopped" else "Paused"
            val actual = pm.get(m).get.status.toString
            assert(actual == expected,
              s"seed=$seed: conflict on $m converged to $actual, " +
                s"expected $expected (pauseFromB=$pauseFromB)")
            status(m) = actual
            hasHandle(m) = false // stop dropped the handle in EITHER order
            locked(m) = false // ...and released the lock in either order
          case 8 if routable =>
            // crash-between-enact-and-delete: the owner enacts a
            // routed pause but "crashes" before deleting the request
            // (simulated by re-planting the consumed file's bytes) —
            // the successor's re-enactment must be idempotent
            val m = pick()
            pmB.pause(m)
            val reqs = hfs.listStatus(lcDir).filter(_.isFile)
            assert(reqs.length == 1,
              s"seed=$seed: queue should hold exactly the routed pause")
            val reqPath = reqs.head.getPath
            val in = hfs.open(reqPath)
            val bytes = try in.readAllBytes() finally in.close()
            assert(pm.consumeLifecycleRequests() == 1)
            status(m) = "Paused"
            val out = hfs.create(reqPath, false)
            try out.write(bytes) finally out.close()
            assert(pm.consumeLifecycleRequests() == 1,
              s"seed=$seed: replayed request must be re-enacted (idempotent)")
            assert(pm.get(m).get.status.toString == "Paused",
              s"seed=$seed: re-enacted pause changed the terminal state")
          case 9 =>
            // a crashed writer's TORN frame, cut at a random point —
            // must never enact, never parse as a different request
            // (the frame sentinel), never block the queue, and be
            // GC'd once aged past the create-to-write grace
            val torn = new org.apache.hadoop.fs.Path(lcDir,
              f"fz0.gfztorn.${rng.nextInt(1000000)}%012d.req")
            hfs.mkdirs(lcDir)
            val full = "fz0\ngfz-torn\npause\ntrue\n."
            val cut = 1 + rng.nextInt(full.length - 1)
            val out = hfs.create(torn, true)
            try out.write(full.substring(0, cut).getBytes("UTF-8"))
            finally out.close()
            val before = Members.map(m => pm.get(m).get.status.toString)
            assert(pm.consumeLifecycleRequests() == 0,
              s"seed=$seed: torn frame (cut=$cut) must not enact")
            assert(Members.map(m => pm.get(m).get.status.toString) == before,
              s"seed=$seed: torn frame (cut=$cut) changed a status")
            assert(hfs.exists(torn),
              s"seed=$seed: young torn frame must survive the grace")
            hfs.setTimes(torn, System.currentTimeMillis() -
              PipelineManager.AcquireGraceMs - 60000L, -1)
            assert(pm.consumeLifecycleRequests() == 0)
            assert(!hfs.exists(torn),
              s"seed=$seed: aged torn frame must be GC'd")
          case _ => drain()
        }
      }
      check("mid")
      // close out: everyone resumed, one final drain — holdbacks must
      // fully flush and every destination must converge on its model
      Members.foreach(doResume(_, routed = false))
      drain()
      assert(Members.forall(m => holdback(m).isEmpty))
      check("final")
    } finally {
      if (pmC != null) { try pmC.close() catch { case _: Throwable => () } }
      if (pmB != null) { try pmB.close() catch { case _: Throwable => () } }
      try pm.close() catch { case _: Throwable => () }
      (root +: srcDir +: destRoots).foreach { p =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(p))
      }
    }
  }
}

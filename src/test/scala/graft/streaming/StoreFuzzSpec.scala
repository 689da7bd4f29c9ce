package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * Randomized interleaving fuzzer for [[EpochPartitionedStore]] — the
 * persistence core under the s24/s26/s27 incremental indexes. A
 * seeded op stream drives appends, poisoned replays, re-opens
 * (recovery), and simulated compaction crashes against an in-memory
 * model of what the store must contain; after EVERY op the store's
 * rows must equal the model exactly. The deterministic crash-window
 * tests pin each protocol transition one at a time; this pins their
 * COMPOSITIONS (replay after crash after tier-merge after reopen...),
 * which is where the lock fuzzers found their bugs in rounds 13-14.
 * Crash fabrications now cover every run namespace the tiered
 * protocol owns: legacy full rewrites ("fz.g") and leveled runs
 * ("fz.g1", "fz.g2").
 */
class StoreFuzzSpec extends SparkTestBase {
  import spark.implicits._

  test("seeded op streams: store contents always equal the model") {
    for (seed <- Seq(11, 42, 97)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"sfz-$seed-").toString
      var store = new EpochPartitionedStore(spark, dir, "pc", "fz",
        refreshEvery = 3, compactEvery = 3, tierFanIn = 3)
      // model: first committed rows per epoch; replays never change it
      val model = scala.collection.mutable.Map.empty[Long, Seq[(Long, String, Int)]]
      var nextEpoch = 0L

      def rows(epoch: Long, poison: Boolean): Seq[(Long, String, Int)] = {
        val n = rnd.nextInt(6) // 0..5 rows; 0 = an empty epoch
        (0 until n).map { i =>
          (epoch * 100 + i,
            if (poison) s"POISON-$epoch-$i" else s"v-$epoch-$i",
            rnd.nextInt(4))
        }
      }

      def storeRows(): Seq[(Long, String, Int)] =
        store.frameIfAny match {
          case None => Nil
          case Some(fr) => fr.select(col("id"), col("v"),
              col("pc").cast("int")).as[(Long, String, Int)].collect().toSeq
        }

      def check(opLabel: String): Unit = {
        val want = model.values.flatten.toSeq.sorted
        val got = storeRows().sorted
        assert(got == want,
          s"seed=$seed after $opLabel: store diverged from model " +
            s"(${got.size} vs ${want.size} rows)")
        // the read-only cross-JVM snapshot must agree with the view
        val snap = EpochPartitionedStore.readSnapshot(spark, dir, "pc", "fz")
          .map(_.select(col("id"), col("v"), col("pc").cast("int"))
            .as[(Long, String, Int)].collect().toSeq.sorted)
          .getOrElse(Nil)
        assert(snap == want,
          s"seed=$seed after $opLabel: readSnapshot diverged from model")
      }

      (0 until 28).foreach { step =>
        rnd.nextInt(100) match {
          case r if r < 50 => // new epoch
            val e = nextEpoch; nextEpoch += 1
            val rs = rows(e, poison = false)
            store.appendEpoch(
              rs.toDF("id", "v", "pc").coalesce(1), e)
            model(e) = rs
            check(s"append($e)")
          case r if r < 70 && nextEpoch > 0 => // poisoned replay
            val e = rnd.nextInt(nextEpoch.toInt).toLong
            store.appendEpoch(
              rows(e, poison = true).toDF("id", "v", "pc").coalesce(1), e)
            check(s"replay($e)")
          case r if r < 85 => // process restart: fresh open, recovery
            store = new EpochPartitionedStore(spark, dir, "pc", "fz",
              refreshEvery = 3, compactEvery = 3, tierFanIn = 3)
            check("reopen")
          case _ => // a merge crashed before its state record, then
            // the process died: publish an unrecorded run over the
            // current contents — in a random RUN namespace (legacy
            // full rewrite, level-1, level-2) — and re-open; recovery
            // must roll it back (its inputs are still present), never
            // double rows
            if (store.hasData) {
              val gen = nextEpoch + 1000 + step // beyond any real epoch
              val ns = Seq("fz.g", "fz.g1", "fz.g2")(rnd.nextInt(3))
              EpochCommit.epochAppendPartitioned(
                spark.read.parquet(dir).repartition(col("pc")),
                dir, "pc", gen, ns): Unit
              store = new EpochPartitionedStore(spark, dir, "pc", "fz",
                refreshEvery = 3, compactEvery = 3, tierFanIn = 3)
              check(s"crashed-merge($ns/$gen)+reopen")
            }
        }
      }
      // end-state: one more reopen and a final exact check, plus the
      // file-count bound tiered compaction exists for: ≤ tierFanIn
      // live runs per level (2 levels reachable here) + one cadence
      // of raw backlog, ~one file per partition value (4 values) each
      store = new EpochPartitionedStore(spark, dir, "pc", "fz",
        refreshEvery = 3, compactEvery = 3, tierFanIn = 3)
      check("final-reopen")
      assert(store.fileCount <= 4 * (3 + 3 + 3),
        s"seed=$seed: file count ${store.fileCount} not bounded by compaction")
    }
  }

  test("tiers cascade, write amplification stays O(N·levels), snapshots pin through sweeps") {
    val dir = Files.createTempDirectory("sfz-tier-").toString
    // compactEvery=1: every epoch is a tick; tierFanIn=2: levels fill
    // fast, so 16 epochs exercise level-3+ merges and many sweeps
    val store = new EpochPartitionedStore(spark, dir, "pc", "fz",
      refreshEvery = 3, compactEvery = 1, tierFanIn = 2)
    val perEpoch = 8
    (0 until 16).foreach { e =>
      val rs = (0 until perEpoch).map(i => (e * 100L + i, s"v-$e-$i", i % 4))
      store.appendEpoch(rs.toDF("id", "v", "pc").coalesce(1), e.toLong)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val records = fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "_compact_state-*"))
      .map(_.getPath.getName).toSeq
    assert(records.exists(_.startsWith("_compact_state-3-")) ||
      records.exists(_.startsWith("_compact_state-4-")),
      s"16 epochs at tierFanIn=2 must cascade past level 2: $records")
    // THE write-amplification claim, in its scale-free form: every
    // epoch is rewritten once per level it merges into. 16 epochs at
    // fan-in 2 is exactly 16 L1 + 8·2 L2 + 4·4 L3 + 2·8 L4 + 1·16 L5
    // = 80 epoch-rewrites = E·log₂E. The old full-store rewrite on
    // the same cadence was Σe = 136 and grows quadratically — at
    // E = 10 000 that is 50 M vs 140 k.
    assert(store.totalEpochsRewritten == 80L,
      s"epoch-rewrites ${store.totalEpochsRewritten} != E·log₂E = 80 " +
        "— tiering is not merging the shapes it should")
    assert(store.fileCount <= 4 * (2 + 2 * 4),
      s"file count ${store.fileCount} not flat under tiering")
    // rows still exactly the committed prefix after all that
    val got = store.frameIfAny.get.count()
    assert(got == 16L * perEpoch, s"row count $got after 16 epochs")
  }

  test("a SECOND JVM's readSnapshot is committed-prefix-exact under live ingest + compaction") {
    // The deployment shape the snapshot protocol exists for — a
    // serving/diag JVM beside the ingest driver — which the same-JVM
    // concurrent-reader fuzz cannot prove (it shares caches and view
    // state with the owner). A real forked JVM runs
    // graft.tools.SnapshotReaderProcess: its own SparkSession, only
    // the filesystem protocol in common, polling readSnapshot while
    // THIS JVM ingests with a compaction tick every epoch. The child
    // asserts every count is a whole multiple of the per-epoch row
    // count (committed-prefix-exact: no torn epochs, no
    // swept-file reads, no double-counted runs) and never shrinks.
    val dir = Files.createTempDirectory("sfz-xjvm-").toString
    val store = new EpochPartitionedStore(spark, dir, "pc", "fz",
      refreshEvery = 2, compactEvery = 1, tierFanIn = 2)
    val perEpoch = 6
    def ep(e: Int) =
      (0 until perEpoch).map(i => (e * 100L + i, s"v-$e-$i", i % 2))
        .toDF("id", "v", "pc").coalesce(1)
    store.appendEpoch(ep(0), 0L)
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val outFile = Files.createTempFile("sfz-xjvm-out-", ".log").toFile
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp",
      System.getProperty("java.class.path"),
      "graft.tools.SnapshotReaderProcess",
      dir, "pc", "fz", perEpoch.toString, "20")).toList
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(outFile) // a full pipe must never stall the child
    val proc = pb.start()
    try {
      // live ingest while the reader polls: every epoch runs a
      // compaction tick (compactEvery=1, fan-in 2 cascades quickly),
      // so the child observes the store across many sweep boundaries
      (1 until 10).foreach { e =>
        store.appendEpoch(ep(e), e.toLong)
        Thread.sleep(50L)
      }
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "reader JVM did not exit in time")
      val out = scala.io.Source.fromFile(outFile).mkString
      assert(proc.exitValue() == 0,
        s"cross-JVM reader failed (exit ${proc.exitValue()}):\n" +
          out.takeRight(6000))
      assert(out.contains("SNAPOK"), s"no SNAPOK in reader output")
      // the reader's last count must be a prefix of what we committed
      val last = out.linesIterator.collectFirst {
        case l if l.startsWith("SNAPOK") => l.split(' ')(1).toLong
      }.get
      assert(last <= 10L * perEpoch && last % perEpoch == 0)
    } finally {
      if (proc.isAlive) proc.destroyForcibly(): Unit
      outFile.delete(): Unit
    }
  }

  test("a stray non-numeric _compact_state file never bricks readers") {
    // recordedRuns sits on EVERY read path (snapshots, health, each
    // compact tick): a temp/backup artifact matching the record glob
    // must fall through like an arity mismatch, never throw
    // NumberFormatException (r16 ADVICE).
    val dir = Files.createTempDirectory("sfz-stray-").toString
    val store = new EpochPartitionedStore(spark, dir, "pc", "fz",
      refreshEvery = 2, compactEvery = 2, tierFanIn = 2)
    val perEpoch = 4
    def ep(e: Int) =
      (0 until perEpoch).map(i => (e * 100L + i, s"v-$e-$i", i % 2))
        .toDF("id", "v", "pc").coalesce(1)
    (0 until 4).foreach(e => store.appendEpoch(ep(e), e.toLong))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // both malformed shapes: non-numeric single field, non-numeric arity-3
    Seq("_compact_state-backup.tmp", "_compact_state-x-y-z").foreach { n =>
      fs.create(new org.apache.hadoop.fs.Path(dir, n), true).close()
    }
    assert(store.health("lastCommittedEpoch") == 3L,
      "health must read through the strays")
    assert(store.frameIfAny.get.count() == 4L * perEpoch,
      "snapshot must read through the strays")
    // further ingest runs a compact tick over the strays too
    store.appendEpoch(ep(4), 4L)
    assert(store.frameIfAny.get.count() == 5L * perEpoch,
      "ingest + compaction must survive the strays")
  }

  test("a concurrent reader never races the sweep: snapshot reads during compaction") {
    val dir = Files.createTempDirectory("sfz-rd-").toString
    val store = new EpochPartitionedStore(spark, dir, "pc", "fz",
      refreshEvery = 3, compactEvery = 2, tierFanIn = 2)
    val perEpoch = 6
    val validCounts = (0 to 24).map(_.toLong * perEpoch).toSet
    @volatile var done = false
    @volatile var readerError: Option[Throwable] = None
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    // the reader is the CROSS-JVM shape: no store instance, no shared
    // state, never mutates — just readSnapshot in a loop while the
    // owner appends and compacts (which repeatedly sweeps files).
    // Before the deferred sweep + record-pinned reads, this died with
    // FileNotFoundException on the first post-compaction glob.
    val reader = new Thread(() => {
      try {
        while (!done) {
          EpochPartitionedStore.readSnapshot(spark, dir, "pc", "fz")
            .foreach { df => observed.add(df.count()): Unit }
        }
      } catch { case t: Throwable => readerError = Some(t) }
    }, "sfz-concurrent-reader")
    reader.start()
    try {
      (0 until 24).foreach { e =>
        val rs = (0 until perEpoch).map(i => (e * 100L + i, s"v-$e-$i", i % 3))
        store.appendEpoch(rs.toDF("id", "v", "pc").coalesce(1), e.toLong)
      }
    } finally { done = true; reader.join(30000) }
    assert(readerError.isEmpty,
      s"concurrent reader failed: ${readerError.map(_.toString)}")
    assert(!observed.isEmpty, "reader never completed a snapshot read")
    val bad = observed.toArray.map(_.asInstanceOf[Long])
      .filterNot(validCounts)
    assert(bad.isEmpty,
      s"reader observed non-prefix row counts: ${bad.mkString(",")} " +
        "(a snapshot must be a committed, exactly-once prefix)")
  }
}

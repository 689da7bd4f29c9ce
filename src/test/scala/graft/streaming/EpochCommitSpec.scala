package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.Portable
import graft.model.PipelineSpec

/** Crash-point injection for [[EpochCommit]]'s publish protocols. Each
  * case records the protocol's filesystem steps in one clean run, then
  * for every step builds the same starting state afresh, kills the
  * attempt right before that step ([[SpecReadHookFs.failAt]]), replays
  * it, and checks the outcome: every epoch visible exactly once, the
  * CDC state equal to the fold of all changes, the sketch registers
  * equal to a run that never crashed. */
class EpochCommitSpec extends SparkTestBase {
  import spark.implicits._
  import SpecReadHookFs.Call

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmp(tag: String) = Files.createTempDirectory(s"graft-ec-$tag-").toString
  private def exists(p: String) = new Path(p).getFileSystem(conf).exists(new Path(p))

  /** A commit step: a mutating call outside the staged write's own
    * files (Spark writes inside the staging dir; the protocol only
    * creates and removes the dir itself). */
  private def commitStep(c: Call): Boolean =
    Set("delete", "rename", "mkdirs", "create")(c.op) &&
      !c.path.matches(".*/_staging-[^/]+/.+")

  /** Kill `attempt` before each of its steps in turn. `fresh` builds the
    * starting state under a new root and returns (root, state); the
    * steps of the recording run are re-rooted onto each fresh root.
    * After the kill, `crashed` judges the crash state, the attempt
    * runs again as the replay, and `check` judges the result. Returns
    * the number of steps killed. */
  private def killAtEachStep[T](step: Call => Boolean)(fresh: () => (String, T))(
      attempt: T => Unit, crashed: T => Unit = (_: T) => (), check: T => Unit): Int =
    SpecReadHookFs.during(spark) {
      val (probeRoot, probe) = fresh()
      val calls = SpecReadHookFs.record(_ => true)(attempt(probe))
      check(probe)
      val steps = calls.zipWithIndex.filter(ci => step(ci._1))
      assert(steps.nonEmpty, "the attempt made no protocol step")
      steps.zipWithIndex.foreach { case ((Call(op, p), at), k) =>
        val (root, state) = fresh()
        val path = root + p.stripPrefix(probeRoot)
        val nth = calls.take(at + 1).count(c => c.op == op && c.path == p)
        val where = s"before step ${k + 1} of ${steps.size} ($op $p)"
        SpecReadHookFs.failAt(op, nth, _ == path)
        try intercept[Exception](attempt(state)) finally SpecReadHookFs.disarm()
        assert(SpecReadHookFs.fired.get, s"no kill $where")
        withClue(s"in the crash state $where: ")(crashed(state))
        attempt(state)
        withClue(s"after a kill $where and a replay: ")(check(state))
      }
      info(s"killed before each of ${steps.size} steps")
      steps.size
    }

  // ---- the three appends ----

  private val ns = PipelineManager.namespaceOf("ec-p")

  /** Epoch `e`'s rows: ids e*100 until e*100+30, in `parts` part
    * files (a replay may split the same rows differently). */
  private def rows(e: Long) = (e * 100 until e * 100 + 30).map(i => (i, i % 3))
  private def batch(e: Long, parts: Int): DataFrame =
    rows(e).toDF("id", "tb").repartition(parts)

  private def ids(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("id").as[Long].collect().toSeq.sorted

  /** A destination holding committed epoch 10 — a redo of epoch 1 must
    * never touch it (`-e1-p` never globs `-e10-`). */
  private def destWithEpoch10(append: Append): (String, String) = {
    val d = tmp("dest")
    append(d, 10L, 3)
    (d, d)
  }

  /** [[destWithEpoch10]] plus an attempt at epoch 1 that published
    * five parts and died before its marker: the redo must clear the
    * parts it does not overwrite. */
  private def destWithCrashedEpoch1(append: Append): (String, String) =
    SpecReadHookFs.during(spark) {
      val (d, _) = destWithEpoch10(append)
      SpecReadHookFs.failAt("mkdirs", 1, _ == EpochCommit.markerDir(d, ns).toString)
      try intercept[java.io.IOException](append(d, 1L, 5)) finally SpecReadHookFs.disarm()
      (d, d)
    }

  /** Exactly-once visibility of epochs 1 and 10, and an idempotent
    * replay of the committed epoch. */
  private def checkAppend(append: Append)(d: String): Unit = {
    assert(ids(d) == (rows(1) ++ rows(10)).map(_._1).sorted,
      "each committed row must be visible exactly once")
    val files = dataFiles(d)
    assert(append(d, 1L, 3).map(plain).toSet.subsetOf(files), "a replay must return committed files")
    assert(dataFiles(d) == files, "a replay of a committed epoch must be a no-op")
    assert(!exists(EpochCommit.stagingDir(d, ns, 1L).toString), "the staging dir must be gone")
  }

  private def plain(f: String) = new Path(f).toUri.getPath
  /** The files a reader of `dir` reads. */
  private def dataFiles(dir: String): Set[String] =
    spark.read.parquet(dir).inputFiles.map(plain).toSet

  /** Each append, committing epoch `e` at `d` in `parts` parts. */
  private type Append = (String, Long, Int) => Seq[String]
  private val appends: Seq[(String, Append)] = Seq(
    "epochAppend" -> ((d, e, parts) =>
      EpochCommit.epochAppend(batch(e, parts), d, e, "ec-p")),
    // one row per epoch, always one part: the rows() oracle does not
    // apply — checked through its own case
    "epochAppendLocalRow" -> ((d, e, _) =>
      EpochCommit.epochAppendLocalRow(spark, d, e, "ec-p", Seq(("id", e)))),
    "epochAppendPartitioned" -> ((d, e, parts) =>
      EpochCommit.epochAppendPartitioned(batch(e, parts), d, "tb", e, "ec-p")))

  Seq(appends(0), appends(2)).foreach { case (name, append) =>
    test(s"$name: a kill at any commit step replays to exactly-once visibility") {
      val n = killAtEachStep(commitStep)(() => destWithEpoch10(append))(
        attempt = d => append(d, 1L, 3): Unit, check = checkAppend(append))
      assert(n >= 6, s"expected stage, renames and marker steps, saw $n")
    }

    test(s"$name: a kill at any step of the redo after a crashed publish replays exactly once") {
      // the first attempt published every part and died before its
      // marker, so the redo clears those files before renaming again
      val n = killAtEachStep(commitStep)(() => {
        val (d, _) = destWithCrashedEpoch1(append)
        assert(ids(d).count(_ < 1000) == 30, "the crashed attempt must have published epoch 1")
        (d, d)
      })(attempt = d => append(d, 1L, 3): Unit, check = checkAppend(append))
      assert(n >= 11, s"expected clear, rename and marker steps, saw $n")
    }
  }

  test("epochAppendLocalRow: a kill at any step, first attempt or redo, replays exactly once") {
    val append = appends(1)._2
    def epochs(d: String) = spark.read.parquet(d).select("id").as[Long].collect().toSeq.sorted
    def check(d: String): Unit = {
      assert(epochs(d) == Seq(1L, 10L), "each epoch's row must be visible exactly once")
      val files = dataFiles(d)
      assert(append(d, 1L, 3).map(plain).toSet.subsetOf(files), "a replay must return committed files")
      assert(dataFiles(d) == files, "a replay of a committed epoch must be a no-op")
    }
    val first = killAtEachStep(commitStep)(() => destWithEpoch10(append))(
      attempt = d => append(d, 1L, 1): Unit, check = check)
    val redo = killAtEachStep(commitStep)(() => destWithCrashedEpoch1(append))(
      attempt = d => append(d, 1L, 1): Unit, check = check)
    assert(first >= 4 && redo >= 5, s"first attempt $first steps, redo $redo")
  }

  // ---- the staged write against Spark's writer ----

  /** The footer of a parquet file: its key-value metadata, its parquet
    * schema and the codec of its first column chunk (None without row
    * groups). */
  private def footer(f: String): (Map[String, String], String, Option[String]) = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf))
    try {
      val meta = r.getFooter
      (meta.getFileMetaData.getKeyValueMetaData.asScala.toMap,
        meta.getFileMetaData.getSchema.toString,
        meta.getBlocks.asScala.headOption.map(_.getColumns.get(0).getCodec.name))
    } finally r.close()
  }

  /** `b` written by Spark's own writer under a new dir: its part files
    * in partition order. */
  private def sparkWritten(b: DataFrame): Seq[String] = {
    val d = tmp("spark-writer")
    b.write.mode("overwrite").parquet(d)
    new Path(d).getFileSystem(conf).listStatus(new Path(d)).toSeq
      .map(_.getPath.toString).filter(new Path(_).getName.startsWith("part-")).sorted
  }

  private def marked(d: String, e: Long) = exists(EpochCommit.marker(d, ns, e).toString)

  /** `body`'s result and the rows and bytes its tasks reported as
    * written (the task output metrics). */
  private def withOutputMetrics[T](body: => T): (T, Long, Long) = {
    val sc = spark.sparkContext
    val rows = new java.util.concurrent.atomic.AtomicLong
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          rows.addAndGet(m.outputMetrics.recordsWritten)
          bytes.addAndGet(m.outputMetrics.bytesWritten)
        }
    }
    org.apache.spark.GraftTestAccess.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.GraftTestAccess.drainListeners(sc)
      (r, rows.get, bytes.get)
    } finally sc.removeSparkListener(l)
  }

  test("epochAppend's staged write matches Spark's writer: rows, part files, footers, output metrics") {
    val b = rows(1).map { case (i, t) => (i, t, s"v$i", i * 0.5) }
      .toDF("id", "tb", "s", "x").repartition(3)
    val d = tmp("parity")
    val (ours, ourRows, ourBytes) = withOutputMetrics(EpochCommit.epochAppend(b, d, 1L, "ec-p"))
    val (theirs, theirRows, _) = withOutputMetrics(sparkWritten(b))
    assert(ours.size == theirs.size, s"part files: ours $ours, Spark's $theirs")
    def len(f: String) = new Path(f).getFileSystem(conf).getFileStatus(new Path(f)).getLen
    assert(ourRows == 30 && theirRows == 30, s"rows written: ours $ourRows, Spark's $theirRows")
    assert(ourBytes == ours.map(len).sum, "bytes written must be the published files' bytes")
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(sorted(spark.read.parquet(d)) == sorted(spark.read.parquet(theirs: _*)))
    ours.zip(theirs).foreach { case (o, t) =>
      assert(footer(o) == footer(t), s"footer of $o differs from Spark's $t")
      assert(PipelineManager.footerSchema(spark, new Path(o)) ==
        PipelineManager.footerSchema(spark, new Path(t)))
    }
    assert(PipelineManager.parquetSchema(spark, d) == spark.read.parquet(d).schema)
  }

  test("epochAppend's staged write: a parquet codec set between two epochs shows in the second's footer") {
    val key = "spark.sql.parquet.compression.codec"
    val d = tmp("codec")
    val before = spark.conf.getAll.get(key) // set or unset, as it was
    val first = EpochCommit.epochAppend(batch(1, 2), d, 1L, "ec-p")
    val second = try {
      spark.conf.set(key, "gzip")
      EpochCommit.epochAppend(batch(2, 2), d, 2L, "ec-p")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(first.map(footer(_)._3).toSet == Set(Some("SNAPPY")))
    assert(second.map(footer(_)._3).toSet == Set(Some("GZIP")))
    // and the next epoch writes under the restored conf again
    val third = EpochCommit.epochAppend(batch(3, 2), d, 3L, "ec-p")
    assert(third.map(footer(_)._3).toSet == Set(Some("SNAPPY")))
    assert(ids(d) == (rows(1) ++ rows(2) ++ rows(3)).map(_._1).sorted)
  }

  test("epochAppend's staged write: an empty batch publishes -p0 with its schema") {
    val empties = Seq(
      "empty partitions" -> batch(1, 3).filter("id < 0"),
      "no partitions" -> spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch(1, 1).schema))
    empties.foreach { case (what, b) =>
      val d = tmp("empty")
      val published = EpochCommit.epochAppend(b, d, 1L, "ec-p")
      assert(published.map(new Path(_).getName) == Seq(EpochCommit.epochFileName(ns, 1L, 0)), what)
      assert(spark.read.parquet(d).schema == org.apache.spark.sql.GraftBridge.asNullable(b.schema), what)
      assert(spark.read.parquet(d).count() == 0, what)
      assert(footer(published.head)._1 == footer(sparkWritten(b).head)._1, what)
      assert(marked(d, 1L), what)
    }
  }

  test("epochAppend's staged write: a column type parquet cannot hold fails the epoch, nothing published") {
    val b = spark.range(3).selectExpr("id", "make_interval(0, 0, 0, cast(id AS int)) AS iv")
    assert(b.schema("iv").dataType == org.apache.spark.sql.types.CalendarIntervalType)
    val d = tmp("unsupported")
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      EpochCommit.epochAppend(b, d, 1L, "ec-p"))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](sparkWritten(b))
    assert(ours.getCondition == theirs.getCondition, ours.getMessage)
    assert(!marked(d, 1L), "no marker")
    assert(EpochCommit.committedFiles(d, conf).isEmpty, "no published file")
    assert(!exists(EpochCommit.stagingDir(d, ns, 1L).toString), "no staged file")
  }

  test("epochAppend's staged write: a task failing mid-write fails the epoch, and no write leaves its conf broadcast") {
    val before = org.apache.spark.GraftTestAccess.confBroadcasts(spark.sparkContext)
    val d = tmp("task-fail")
    EpochCommit.epochAppend(batch(1, 2), d, 1L, "ec-p")
    val failing = batch(2, 3).withColumn("tb", expr("if(id = 215, raise_error('boom'), tb)"))
    val e = intercept[Exception](EpochCommit.epochAppend(failing, d, 2L, "ec-p"))
    assert(e.getMessage.contains("boom"), e.getMessage)
    // each write destroys its broadcast when its job ends, committed or
    // failed (the destroy is asynchronous)
    def lingering = org.apache.spark.GraftTestAccess.confBroadcasts(spark.sparkContext) -- before
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (lingering.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
    assert(lingering.isEmpty, s"conf broadcasts left by the writes: $lingering")
    assert(!marked(d, 2L), "no marker")
    // the failed task removed its file: what is staged is whole
    val staging = EpochCommit.stagingDir(d, ns, 2L).toString
    if (exists(staging)) spark.read.parquet(staging).count()
    assert(ids(d) == rows(1).map(_._1).sorted, "only epoch 1 is visible")
    EpochCommit.epochAppend(batch(2, 3), d, 2L, "ec-p") // the replay
    assert(ids(d) == (rows(1) ++ rows(2)).map(_._1).sorted)
  }

  // ---- EpochPartitionedStore's run publish ----

  test("EpochPartitionedStore: a kill at any step of an epoch and its run publish replays exactly once") {
    // epoch 1 commits raw, then its compaction tick publishes the run
    // [0, 1] and records it; the replay reopens the store (recovery
    // rolls back an unrecorded run) and re-appends epoch 1
    def frame(e: Long) = rows(e).toDF("id", "tb").repartition(2)
    def open(d: String) = new EpochPartitionedStore(spark, d, "tb", "st", compactEvery = 2)
    def snapshotIds(d: String): Seq[Long] =
      EpochPartitionedStore.readSnapshot(spark, d, "tb", "st").toSeq
        .flatMap(_.select("id").as[Long].collect()).sorted
    val epoch0: Seq[Long] = rows(0).map(_._1)
    val both: Seq[Long] = (rows(0) ++ rows(1)).map(_._1).sorted
    val n = killAtEachStep(commitStep)(() => {
      val d = tmp("store")
      open(d).appendEpoch(frame(0), 0L)
      (d, d)
    })(
      attempt = d => open(d).appendEpoch(frame(1), 1L),
      // a read-only snapshot of the crash state is a committed prefix
      crashed = d => assert(Set(epoch0, both).contains(snapshotIds(d)),
        s"snapshot ${snapshotIds(d)} is not a committed prefix"),
      check = { d =>
        assert(snapshotIds(d) == both, "each row must be visible exactly once")
        val store = open(d)
        assert(store.health("compactionFrontier") == 1L, "the run must be recorded")
        assert(store.snapshotFrame().get.select("id").as[Long].collect().toSeq.sorted == both)
      })
    assert(n >= 10, s"expected raw and run publish steps, saw $n")
  }

  // ---- the directory swap ----

  private val cdcKeys = 0L until 24L
  private def cdcBatch1 = cdcKeys.map(k => Change(k, 1L, "INSERT", s"v$k")).toDF()
  /** Updates and deletes over buckets 0-2 of 4, and one insert. */
  private def cdcBatch2 = (cdcKeys.filter(k => bucketOf(k) < 3).map { k =>
      if (k % 3 == 0) Change(k, 2L, "DELETE", "") else Change(k, 2L, "UPDATE", s"w$k")
    } :+ Change(100L, 2L, "INSERT", "n100")).toDF()
  private lazy val buckets: Map[Long, Long] =
    (cdcKeys :+ 100L).toDF("key")
      .select(col("key"), pmod(Portable.hash64(concat_ws("|", col("key"))), lit(4L)))
      .as[(Long, Long)].collect().toMap
  private def bucketOf(k: Long) = buckets(k)

  private def cdcState(statePath: String): Map[Long, String] =
    CdcMerge.currentState(spark, statePath).toSeq
      .flatMap(_.select("key", "value").as[(Long, String)].collect()).toMap

  test("CdcMerge: a kill at any rename or delete of any touched bucket's swap replays to the fold") {
    val fold = CdcMerge.latestState(cdcBatch1.unionByName(cdcBatch2), Seq("key"), "scn", "opcode")
      .select("key", "value").as[(Long, String)].collect().toMap
    val before = cdcKeys.map(k => k -> s"v$k").toMap
    val touched = cdcBatch2.select("key").as[Long].collect().map(bucketOf).toSet
    assert(touched.size >= 3, s"the batch must touch three buckets or more, touches $touched")
    def swapStep(c: Call) = Set("rename", "delete")(c.op) &&
      c.path.matches(".*/state(\\.bak)?/b\\d{5}")
    def merge(sp: String, b: DataFrame) =
      CdcMerge.applyBatch(spark, b, sp, Seq("key"), "scn", "opcode", numBuckets = 4)
    val n = killAtEachStep(swapStep)(() => {
      val sp = tmp("cdc") + "/state"
      merge(sp, cdcBatch1)
      (sp, sp)
    })(
      attempt = sp => merge(sp, cdcBatch2),
      // every bucket reads whole mid-swap: its old rows or its new ones
      crashed = { sp =>
        val got = cdcState(sp)
        (0L until 4L).foreach { b =>
          def in(m: Map[Long, String]) = m.filter(kv => bucketOf(kv._1) == b)
          assert(in(got) == in(before) || in(got) == in(fold), s"bucket $b reads torn: ${in(got)}")
        }
      },
      check = sp => assert(cdcState(sp) == fold, "the state must equal the fold of all changes"))
    // per bucket: move aside, promote, drop the aside copy
    assert(n == 3 * touched.size, s"expected three swap steps per touched bucket, saw $n")
  }

  private def part1 = (0L until 300L).map(i => (i, s"k${i % 200}")).toDF("k", "v")
  private def part2 = (0L until 300L).map(i => (i, s"k${150 + i % 250}")).toDF("k", "v")

  /** A sketch-keeping pipeline under `root` whose manager has
    * delivered `part1` and whose source holds `part2` undelivered. */
  private final class SketchRun(root: String, val pm: PipelineManager) {
    val sketch: String = new DurableRecords(
      new Path(root).getFileSystem(conf), root).sketch("sk")
    def deliver(): Unit = pm.start("sk", identity).awaitTermination()
    def registers: Set[String] =
      spark.read.parquet(sketch).select("reg", "mj").collect().map(_.toString).toSet
  }
  private def sketchRun(): (String, SketchRun) = {
    val root = tmp("sk")
    val src = s"$root-src"
    part1.coalesce(1).write.mode(SaveMode.Append).parquet(src)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("sk", "parquet", "parquet", src,
      destinationConnection = s"$root-dest",
      metadata = Map(PipelineManager.SketchColumnKey -> "v")))
    val r = new SketchRun(root, pm)
    r.deliver()
    part2.coalesce(1).write.mode(SaveMode.Append).parquet(src)
    (root, r)
  }

  test("the sketch: a kill at any rename or delete of its swap replays to the registers of an uncrashed run") {
    val clean = SpecReadHookFs.during(spark) {
      val (_, r) = sketchRun()
      try { r.deliver(); r.registers } finally r.pm.close()
    }
    def swapStep(c: Call) = Set("rename", "delete")(c.op) && c.path.matches(".*/sketch/sk(\\.old)?")
    val n = killAtEachStep(swapStep)(() => sketchRun())(
      attempt = _.deliver(),
      crashed = r => assert(r.pm.cardinality("sk").nonEmpty, "a crash mid-swap must leave a readable table"),
      check = { r =>
        try {
          assert(r.registers == clean, "the registers must equal those of an uncrashed run")
          assert(!exists(r.sketch + ".old") && !exists(r.sketch + ".staging"))
        } finally r.pm.close()
      })
    assert(n == 3, s"expected move aside, promote and drop, saw $n")
  }

  // ---- census ----

  test("filesystem-call census: committed and replayed epochs, buckets, sketch updates") {
    // outermost driver-side calls per op under the written dirs; a
    // replayed epoch is the marker probe and the file glob, nothing else
    def under(root: String)(p: String) = p.startsWith(root)
    def line(what: String, m: Map[String, Int]) =
      info(f"census $what%-34s total=${m.values.sum}%3d " +
        m.toSeq.sorted.map { case (op, k) => s"$op=$k" }.mkString(" "))
    SpecReadHookFs.during(spark) {
      appends.foreach { case (name, append) =>
        val d = tmp("census")
        val committed = SpecReadHookFs.census(under(d))(append(d, 1L, 3): Unit)
        val replayed = SpecReadHookFs.census(under(d))(append(d, 1L, 3): Unit)
        line(s"$name committed", committed)
        line(s"$name replayed", replayed)
        assert(replayed == Map("exists" -> 1, "globStatus" -> 1), s"$name replay: $replayed")
        // the staged write makes no driver-side call: what is left is
        // the protocol's own (see the object doc), three parts renamed
        if (name == "epochAppend")
          assert(committed == Map("exists" -> 1, "delete" -> 2, "create" -> 1, "globStatus" -> 2,
            "listStatus" -> 1, "rename" -> 3, "mkdirs" -> 1), s"$name committed: $committed")
      }
      val sp = tmp("census-cdc") + "/state"
      CdcMerge.applyBatch(spark, cdcBatch1, sp, Seq("key"), "scn", "opcode", numBuckets = 4)
      val cdc = SpecReadHookFs.census(under(sp))(
        CdcMerge.applyBatch(spark, cdcBatch2, sp, Seq("key"), "scn", "opcode", numBuckets = 4))
      line(s"CdcMerge.applyBatch (${cdcBatch2.select("key").as[Long].collect()
        .map(bucketOf).toSet.size} buckets)", cdc)
      val (_, r) = sketchRun()
      val sketches = new Path(r.sketch).getParent.toString // this pipeline's only
      try line("sketch update", SpecReadHookFs.census(under(sketches))(r.deliver()))
      finally r.pm.close()
    }
  }
}

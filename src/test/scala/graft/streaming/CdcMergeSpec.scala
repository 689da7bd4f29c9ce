package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

case class Change(key: Long, scn: Long, opcode: String, value: String)

/** CDC change-stream → materialized keyed state via foreachBatch
  * upsert (the engine's MERGE INTO analog over parquet state). */
class CdcMergeSpec extends SparkTestBase {
  import spark.implicits._

  test("latestState collapses a CDC log last-writer-wins with deletes") {
    val log = Seq(
      Change(1L, 1L, "INSERT", "a1"),
      Change(1L, 3L, "UPDATE", "a3"),
      Change(2L, 2L, "INSERT", "b2"),
      Change(2L, 4L, "DELETE", ""),
      Change(3L, 5L, "INSERT", "c5")).toDF()
    val got = CdcMerge.latestState(log, Seq("key"), "scn", "opcode")
      .select($"key", $"value").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a3", 3L -> "c5"))
  }

  test("changeHistory expands the log to validity intervals with delete closure") {
    val log = Seq(
      Change(1L, 1L, "INSERT", "a1"),
      Change(1L, 3L, "UPDATE", "a3"),
      Change(2L, 2L, "INSERT", "b2"),
      Change(2L, 4L, "DELETE", ""),
      Change(3L, 5L, "INSERT", "c5")).toDF()
    val got = CdcMerge.changeHistory(log, Seq("key"), "scn", "opcode")
      .select($"key", $"scn", $"scn_to", $"is_current")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, 3L, false),  // superseded by scn 3
      (1L, 3L, -1L, true),  // current
      (2L, 2L, 4L, false),  // closed by the DELETE — key 2 has no current row
      (3L, 5L, -1L, true)))
    // the current rows of the history ARE the latestState collapse
    val current = CdcMerge.changeHistory(log, Seq("key"), "scn", "opcode")
      .filter($"is_current").select($"key", $"value")
      .as[(Long, String)].collect().toMap
    assert(current == Map(1L -> "a3", 3L -> "c5"))
  }

  test("streaming foreachBatch upsert materializes state across epochs") {
    implicit val sqlCtx = spark.sqlContext
    val statePath = Files.createTempDirectory("graft-cdc-").toString + "/state"
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    val in = MemoryStream[Change]

    val q = in.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CdcMerge.applyBatch(spark, batch, statePath,
          Seq("key"), "scn", "opcode")
      }
      .start()

    def state(): Map[Long, String] =
      CdcMerge.currentState(spark, statePath).get
        .select($"key", $"value").as[(Long, String)].collect().toMap

    // epoch 1: two inserts
    in.addData(Change(1L, 1L, "INSERT", "a1"), Change(2L, 2L, "INSERT", "b2"))
    q.processAllAvailable()
    assert(state() == Map(1L -> "a1", 2L -> "b2"))

    // epoch 2: update key 1, delete key 2, insert key 3
    in.addData(Change(1L, 3L, "UPDATE", "a3"), Change(2L, 4L, "DELETE", ""),
      Change(3L, 5L, "INSERT", "c5"))
    q.processAllAvailable()
    assert(state() == Map(1L -> "a3", 3L -> "c5"))

    // epoch 3: out-of-order within batch — highest scn wins
    in.addData(Change(3L, 7L, "UPDATE", "c7"), Change(3L, 6L, "UPDATE", "c6"))
    q.processAllAvailable()
    assert(state() == Map(1L -> "a3", 3L -> "c7"))

    q.stop()
  }

  private def fullState(statePath: String): Map[Long, String] =
    CdcMerge.currentState(spark, statePath).get
      .select($"key", $"value").as[(Long, String)].collect().toMap

  test("recovers full state from a crash between move-aside and install") {
    val statePath = Files.createTempDirectory("graft-cdc-crash-").toString + "/state"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    CdcMerge.applyBatch(spark,
      Seq(Change(1L, 1L, "INSERT", "a1"), Change(2L, 2L, "INSERT", "b2")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = 4)

    // Simulate the worst crash point of the swap: every bucket dir has
    // been renamed aside but no replacement installed — only `.bak`
    // copies exist. (The pre-fix code deleted the backup FIRST, so a
    // crash here lost all state.)
    fs.listStatus(new org.apache.hadoop.fs.Path(statePath)).foreach { s =>
      val bak = new org.apache.hadoop.fs.Path(
        statePath + ".bak", s.getPath.getName)
      fs.mkdirs(bak.getParent)
      assert(fs.rename(s.getPath, bak))
    }
    assert(fullState(statePath) == Map(1L -> "a1", 2L -> "b2"),
      "backup copies must be readable as the live state")

    // The next (replayed) epoch merges onto the surviving backups and
    // re-installs; nothing is lost.
    CdcMerge.applyBatch(spark,
      Seq(Change(3L, 3L, "INSERT", "c3")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = 4)
    assert(fullState(statePath) == Map(1L -> "a1", 2L -> "b2", 3L -> "c3"))
  }

  test("a multi-bucket epoch runs a bounded job count, not one per bucket") {
    val statePath = Files.createTempDirectory("graft-cdc-jobs-").toString + "/state"
    val buckets = 8
    CdcMerge.applyBatch(spark,
      (1L to 40L).map(k => Change(k, k, "INSERT", s"v$k")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = buckets)

    // Compare the job count of an epoch touching ONE bucket against an
    // epoch touching EVERY bucket: the merge must be one distributed
    // write over all touched buckets (plus the touched-id collect and
    // AQE stage jobs), so the all-bucket epoch may not cost ~one extra
    // job per extra bucket — the previous per-bucket driver loop ran a
    // full merge job per bucket and serialized the sink at high bucket
    // counts (there it would be >= buckets-1 extra jobs).
    // Only jobs of this thread's job group count (AQE's stage jobs
    // inherit it), so a stream left running by another suite in the
    // shared session cannot inflate the count.
    def jobsDuring(body: => Unit): Int = {
      val group = s"cdc-jobs-${System.nanoTime()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          if (js.properties != null &&
              js.properties.getProperty("spark.jobGroup.id") == group)
            jobs.incrementAndGet(): Unit
        }
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "cdc job count")
      try {
        body
        // Let the listener bus drain: poll until the count stops moving.
        var last = -1
        while (jobs.get() != last) { last = jobs.get(); Thread.sleep(300) }
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
      jobs.get()
    }
    val oneBucket = jobsDuring {
      CdcMerge.applyBatch(spark,
        Seq(Change(7L, 100L, "UPDATE", "v7b")).toDF(),
        statePath, Seq("key"), "scn", "opcode", numBuckets = buckets)
    }
    val allBuckets = jobsDuring {
      CdcMerge.applyBatch(spark,
        (1L to 40L).map(k => Change(k, 200L + k, "UPDATE", s"w$k")).toDF(),
        statePath, Seq("key"), "scn", "opcode", numBuckets = buckets)
    }
    assert(fullState(statePath).get(7L).contains("w7"))
    assert(allBuckets < oneBucket + buckets - 1,
      s"an epoch touching all $buckets buckets must not pay ~one merge job " +
        s"per bucket: one-bucket epoch ran $oneBucket jobs, all-bucket ran " +
        s"$allBuckets")
    // One shuffle per epoch: the touched-bucket collect plus the
    // exchange's two stages, whatever the bucket count.
    assert(allBuckets <= 3, s"all-bucket epoch ran $allBuckets jobs, expected <= 3")
  }

  test("an epoch lands each touched bucket as one data file") {
    val statePath = Files.createTempDirectory("graft-cdc-files-").toString + "/state"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = 8
    CdcMerge.applyBatch(spark,
      (1L to 80L).map(k => Change(k, k, "INSERT", s"v$k")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = buckets)
    // Every bucket keeps untouched keys beside the changed ones, so its
    // new contents come from both the state scan and the batch.
    CdcMerge.applyBatch(spark,
      (1L to 80L by 2).map(k => Change(k, 200L + k, "UPDATE", s"w$k")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = buckets)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(statePath)).map { d =>
      d.getPath.getName -> fs.listStatus(d.getPath).map(_.getPath.getName)
        .count(n => !n.startsWith("_") && !n.startsWith("."))
    }.toMap
    assert(dataFiles.size == buckets && dataFiles.values.forall(_ == 1),
      s"each touched bucket must hold exactly one data file: $dataFiles")
    assert(fullState(statePath) ==
      (1L to 80L).map(k => k -> (if (k % 2 == 1) s"w$k" else s"v$k")).toMap)
  }

  test("re-applying the same batch leaves an identical row set") {
    val statePath = Files.createTempDirectory("graft-cdc-replay-").toString + "/state"
    CdcMerge.applyBatch(spark,
      (1L to 20L).map(k => Change(k, k, "INSERT", s"v$k")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = 4)
    val batch = (Seq(Change(3L, 30L, "UPDATE", "u3"), Change(3L, 31L, "UPDATE", "w3"),
      Change(5L, 32L, "DELETE", ""), Change(21L, 33L, "INSERT", "v21")) ++
      (6L to 9L).map(k => Change(k, 40L + k, "UPDATE", s"u$k"))).toDF()
    def rows(): Set[Change] =
      CdcMerge.currentState(spark, statePath).get.as[Change].collect().toSet
    CdcMerge.applyBatch(spark, batch, statePath, Seq("key"), "scn", "opcode", numBuckets = 4)
    val once = rows()
    assert(once.map(c => c.key -> c.value).toMap ==
      ((1L to 21L).filter(_ != 5L).map(k => k -> s"v$k").toMap ++
        Map(3L -> "w3") ++ (6L to 9L).map(k => k -> s"u$k")))
    // Spark's at-least-once foreachBatch may replay an epoch.
    CdcMerge.applyBatch(spark, batch, statePath, Seq("key"), "scn", "opcode", numBuckets = 4)
    assert(rows() == once)
  }

  test("a state emptied by deletes reads as None and takes new inserts") {
    val statePath = Files.createTempDirectory("graft-cdc-empty-").toString + "/state"
    def apply(cs: Change*): Unit = CdcMerge.applyBatch(spark, cs.toDF(), statePath,
      Seq("key"), "scn", "opcode", numBuckets = 1)
    apply(Change(1L, 1L, "INSERT", "a1"))
    apply(Change(1L, 2L, "DELETE", ""))
    assert(CdcMerge.currentState(spark, statePath).isEmpty,
      "a state with every key deleted holds no rows")
    // The only bucket is now an empty dir; merging onto it must not
    // try to infer a schema from it.
    apply(Change(2L, 3L, "INSERT", "b3"))
    assert(fullState(statePath) == Map(2L -> "b3"))
  }

  test("a key with a null component is replaced across epochs, not duplicated") {
    val statePath = Files.createTempDirectory("graft-cdc-nullkey-").toString + "/state"
    Seq("a", "b", "c").zipWithIndex.foreach { case (v, i) =>
      CdcMerge.applyBatch(spark,
        Seq((1L, Option.empty[String], i.toLong, "UPDATE", v))
          .toDF("k1", "k2", "scn", "opcode", "value"),
        statePath, Seq("k1", "k2"), "scn", "opcode", numBuckets = 4)
    }
    val got = CdcMerge.currentState(spark, statePath).get
      .select($"value").as[String].collect().toSeq
    assert(got == Seq("c"), s"null-keyed rows: $got")
  }

  test("a batch missing a state column fails the epoch and leaves the state as it was") {
    val statePath = Files.createTempDirectory("graft-cdc-schema-").toString + "/state"
    CdcMerge.applyBatch(spark, Seq(Change(1L, 1L, "INSERT", "a1")).toDF(), statePath,
      Seq("key"), "scn", "opcode", numBuckets = 1)
    val noValue = Seq((1L, 2L, "UPDATE")).toDF("key", "scn", "opcode")
    intercept[org.apache.spark.sql.AnalysisException] {
      CdcMerge.applyBatch(spark, noValue, statePath, Seq("key"), "scn", "opcode",
        numBuckets = 1)
    }
    assert(fullState(statePath) == Map(1L -> "a1"))
  }

  test("an epoch touching one key rewrites only that key's bucket") {
    val statePath = Files.createTempDirectory("graft-cdc-incr-").toString + "/state"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = 8
    // Seed enough keys that several buckets exist.
    CdcMerge.applyBatch(spark,
      (1L to 40L).map(k => Change(k, k, "INSERT", s"v$k")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = buckets)

    def bucketFiles(): Map[String, Set[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(statePath)).map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath).map(_.getPath.getName).toSet
      }.toMap
    val before = bucketFiles()
    assert(before.size > 1, "seed must span multiple buckets")

    CdcMerge.applyBatch(spark,
      Seq(Change(7L, 100L, "UPDATE", "v7b")).toDF(),
      statePath, Seq("key"), "scn", "opcode", numBuckets = buckets)
    val after = bucketFiles()
    val changed = after.keySet.union(before.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed.size == 1,
      s"one-key epoch must rewrite exactly one bucket, changed: $changed")
    assert(fullState(statePath).get(7L).contains("v7b"))
  }
}

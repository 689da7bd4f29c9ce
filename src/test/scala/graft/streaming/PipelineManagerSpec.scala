package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SaveMode

import graft.SparkTestBase
import graft.model.{PipelineSpec, PipelineStatus}

/**
 * End-to-end pipeline lifecycle — the Spark analog of the reference's
 * TestDatastreamServer file-connector e2e (create → produce → consume
 * → assert payloads; delete/recreate; resume).
 */
class PipelineManagerSpec extends SparkTestBase {
  import spark.implicits._

  private def newManager() =
    new PipelineManager(spark, Files.createTempDirectory("graft-pm-").toString)

  test("create validates, dedups destination by source, rejects BYOT conflicts") {
    val pm = newManager()
    val a = pm.create(PipelineSpec("a", "parquet", "memory", "/src/one"))
    assert(a.status == PipelineStatus.Ready)
    assert(a.destinationConnection == "dest-a")

    // D1: same source reuses the destination.
    val b = pm.create(PipelineSpec("b", "parquet", "memory", "/src/one"))
    assert(b.destinationConnection == "dest-a")

    // duplicate name rejected
    intercept[IllegalArgumentException] {
      pm.create(PipelineSpec("a", "parquet", "memory", "/src/two"))
    }
    // D2: explicit destination conflict rejected
    pm.create(PipelineSpec("c", "parquet", "memory", "/src/three",
      destinationConnection = "byot-dest"))
    intercept[IllegalArgumentException] {
      pm.create(PipelineSpec("d", "parquet", "memory", "/src/four",
        destinationConnection = "byot-dest"))
    }
    // paging over specs
    assert(pm.list(0, 2).map(_.name) == Seq("a", "b"))
    // group sources must stay consistent (the reference rejects
    // inconsistent-source updates outright): a grouped member can
    // never re-point its source, running or not — the group exists
    // because of the shared source
    intercept[IllegalArgumentException] {
      pm.update("b", PipelineSpec("b", "parquet", "memory", "/src/other"))
    }
    assert(pm.get("b").get.sourceConnection == "/src/one",
      "a rejected group source re-point must not persist")
  }

  test("SPI hooks: authorizer gates create, validateUpdate gates update, state changes observed") {
    val changes = scala.collection.mutable.Buffer.empty[(String, PipelineStatus.Value)]
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-hooks-").toString,
      PipelineHooks(
        authorize = (_, owner) => owner != "mallory",
        validateUpdate = (_, next) =>
          require(next.connector != "forbidden", "connector change rejected"),
        onStateChange = (n, s) => changes += ((n, s))))

    intercept[IllegalArgumentException] {
      pm.create(PipelineSpec("h1", "parquet", "memory", "/src/x"), owner = "mallory")
    }
    pm.create(PipelineSpec("h1", "parquet", "memory", "/src/x"), owner = "alice")
    assert(changes.contains(("h1", PipelineStatus.Ready)))

    // update: authorized like create, name immutable, validation hook
    // consulted, dest retained
    intercept[IllegalArgumentException] {
      pm.update("h1", PipelineSpec("h1", "parquet", "memory", "/src/y"),
        owner = "mallory")
    }
    intercept[IllegalArgumentException] {
      pm.update("h1", PipelineSpec("h1", "forbidden", "memory", "/src/x"))
    }
    val up = pm.update("h1", PipelineSpec("h1", "parquet", "memory", "/src/y"))
    assert(up.sourceConnection == "/src/y")
    assert(up.destinationConnection == "dest-h1") // auto-provisioned kept

    // every mutating lifecycle verb authorizes, not just create/update
    intercept[IllegalArgumentException] { pm.pause("h1", owner = "mallory") }
    intercept[IllegalArgumentException] { pm.stop("h1", owner = "mallory") }
    intercept[IllegalArgumentException] { pm.delete("h1", owner = "mallory") }
    assert(pm.get("h1").isDefined, "denied mutations must not change state")

    pm.pause("h1")
    assert(changes.contains(("h1", PipelineStatus.Paused)))
    pm.delete("h1")
    assert(changes.contains(("h1", PipelineStatus.Deleting)))
  }

  test("pipeline delivers records, then resumes from checkpoint without replay") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-src-").toString
    Seq((1L, "v1"), (2L, "v2")).toDF("k", "v")
      .write.mode(SaveMode.Append).parquet(srcDir)

    // Durable transport (parquet) so the checkpoint is recoverable.
    val spec = pm.create(PipelineSpec("p1", "parquet", "parquet", srcDir))
    val q = pm.start("p1", df => df.withColumn("tag", lit("t")))
    q.awaitTermination()
    assert(spark.read.parquet(spec.destinationConnection).count() == 2)
    assert(pm.status().exists(s => s._1 == "p1"))

    // pause (stop, checkpoints retained), append new data, resume:
    // only the NEW file is processed — offsets came from the log, no
    // replay of already-delivered records into the destination.
    pm.pause("p1")
    assert(pm.get("p1").get.status == PipelineStatus.Paused)
    Seq((3L, "v3")).toDF("k", "v")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val q2 = pm.resume("p1", df => df.withColumn("tag", lit("t")))
    q2.awaitTermination()
    assert(spark.read.parquet(spec.destinationConnection)
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "v1", "t"), (2L, "v2", "t"), (3L, "v3", "t")))

    pm.delete("p1")
    assert(pm.get("p1").isEmpty)
  }

  test("specs survive a manager restart (durable store)") {
    val root = Files.createTempDirectory("graft-pm-durable-").toString
    val srcDir = Files.createTempDirectory("graft-pm-durable-src-").toString
    Seq((1L, "v1"), (2L, "v2")).toDF("k", "v")
      .write.mode(SaveMode.Append).parquet(srcDir)

    val pm1 = new PipelineManager(spark, root)
    val spec = pm1.create(PipelineSpec("dur1", "parquet", "parquet", srcDir,
      metadata = Map("custom" -> "x"), keySerde = "string"))
    pm1.start("dur1", identity).awaitTermination()
    pm1.create(PipelineSpec("dur2", "parquet", "parquet", srcDir + "/"))
    pm1.pause("dur2")
    pm1.close()

    // a NEW manager on the same root sees both pipelines: the one
    // that was running comes back STOPPED (its query died with the
    // process), the paused one stays PAUSED, every field intact
    val pm2 = new PipelineManager(spark, root)
    val r1 = pm2.get("dur1").get
    assert(r1.status == PipelineStatus.Stopped)
    assert(r1.metadata("custom") == "x" && r1.keySerde == "string" &&
      r1.destinationConnection == spec.destinationConnection)
    assert(pm2.get("dur2").get.status == PipelineStatus.Paused)

    // resume replays nothing old, picks up only the new file
    Seq((3L, "v3")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm2.resume("dur1", identity).awaitTermination()
    assert(spark.read.parquet(spec.destinationConnection)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "v1"), (2L, "v2"), (3L, "v3")))

    // delete removes the stored spec: a third manager doesn't see it
    pm2.delete("dur1")
    pm2.close()
    val pm3 = new PipelineManager(spark, root)
    assert(pm3.get("dur1").isEmpty && pm3.get("dur2").isDefined)
    pm3.delete("dur2")
    pm3.close()
  }

  test("pausing connector wraps a foreign provider through the manager") {
    val pm = newManager()
    val pauseFile = Files.createTempFile("graft-pm-wrap-", ".txt")
    Files.writeString(pauseFile, "1")
    // inner = the pause-UNAWARE PausableProvider (its own pauseFile
    // unset); the wrapper's offset-layer hold does all the pausing
    val spec = pm.create(PipelineSpec("pw", "pausing", "parquet",
      classOf[graft.sources.PausableProvider].getName,
      metadata = Map("pauseFile" -> pauseFile.toString,
        "offsetCodec" -> "vector", "rowsPerPartition" -> "40",
        "numPartitions" -> "2", "batchPerPartition" -> "20",
        "payloadSize" -> "4")))
    pm.start("pw", identity).awaitTermination()
    val run1 = spark.read.parquet(spec.destinationConnection)
      .select("partition", "idx").as[(Int, Long)].collect().toSeq
    assert(run1.forall(_._1 == 0) && run1.size == 40)
    Files.writeString(pauseFile, "")
    pm.pause("pw")
    pm.resume("pw", identity).awaitTermination()
    val all = spark.read.parquet(spec.destinationConnection)
      .select("partition", "idx").as[(Int, Long)].collect().toSeq
    assert(all.size == 80 && all.distinct.size == 80)
    assert(all.count(_._1 == 1) == 40)
    pm.delete("pw")
  }

  test("pausable connector: source-layer offset holds through the manager") {
    val pm = newManager()
    val pauseFile = Files.createTempFile("graft-pm-pause-", ".txt")
    Files.writeString(pauseFile, "1")
    val spec = pm.create(PipelineSpec("pz", "pausable", "parquet", "40",
      metadata = Map("numPartitions" -> "2", "batchPerPartition" -> "20",
        "payloadSize" -> "4", "pauseFile" -> pauseFile.toString)))

    // run 1: partition 1 is paused at the SOURCE — its offsets hold,
    // nothing of it is read, let alone delivered.
    pm.start("pz", identity).awaitTermination()
    val run1 = spark.read.parquet(spec.destinationConnection)
      .select("partition", "idx").as[(Int, Long)].collect().toSeq
    assert(run1.forall(_._1 == 0) && run1.size == 40)

    // unpause + restart from the same checkpoint: partition 1 drains
    // from its HELD index 0 — exactly once, nothing re-read from p0.
    Files.writeString(pauseFile, "")
    pm.pause("pz")
    pm.resume("pz", identity).awaitTermination()
    val all = spark.read.parquet(spec.destinationConnection)
      .select("partition", "idx").as[(Int, Long)].collect().toSeq
    assert(all.size == 80 && all.distinct.size == 80)
    assert(all.count(_._1 == 1) == 40)
    pm.delete("pz")
  }

  test("flow control bounds each micro-batch via maxFilesPerTrigger") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-flow-").toString
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(srcDir)
    }
    val spec = pm.create(PipelineSpec("fc", "parquet", "parquet", srcDir,
      metadata = Map("maxFilesPerTrigger" -> "1")))
    val q = pm.start("fc", identity)
    q.awaitTermination()
    // AvailableNow + 1 file per trigger → one epoch per file, all data.
    assert(spark.read.parquet(spec.destinationConnection).count() == 3)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    // A6/A7: observe() metrics reached the listener.
    assert(pm.metrics("fc").getOrElse("events", 0L) > 0L)
    pm.delete("fc")
  }

  test("paused partitions hold records back and replay them on partition resume") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-pause-").toString
    Seq((1L, "p0"), (2L, "p1"), (3L, "p0")).toDF("k", "part")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val spec = pm.create(PipelineSpec("pp", "parquet", "parquet", srcDir))
    val q = pm.pausePartitions("pp", "part", Set("p1"), identity)
    q.awaitTermination()
    assert(pm.paused("pp") == Set("p1"))
    val got = spark.read.parquet(spec.destinationConnection)
      .select("k").as[Long].collect().toSet
    assert(got == Set(1L, 3L)) // p1 records held back, not delivered

    // the admission set survives a plain pause/resume cycle: new p1
    // data stays held back even though resume() didn't restate it
    pm.pause("pp")
    Seq((4L, "p1"), (5L, "p0")).toDF("k", "part")
      .write.mode(SaveMode.Append).parquet(srcDir)
    pm.resume("pp", identity).awaitTermination()
    val got2 = spark.read.parquet(spec.destinationConnection)
      .select("k").as[Long].collect().toSet
    assert(got2 == Set(1L, 3L, 5L), "paused partition leaked on resume")

    // resuming the partition delivers EVERY record produced while it
    // was paused — including 4L, written mid-pause. Nothing was lost
    // (the reference's rewind semantics: AbstractKafkaBasedConnector
    // Task.java:275-307).
    pm.resumePartitions("pp", Set("p1"), identity).awaitTermination()
    assert(pm.paused("pp").isEmpty)
    val got3 = spark.read.parquet(spec.destinationConnection)
      .select("k").as[Long].collect().toSet
    assert(got3 == Set(1L, 2L, 3L, 4L, 5L),
      "records held during pause must be delivered after partition resume")

    // and new data on the resumed partition flows straight through
    Seq((6L, "p1")).toDF("k", "part")
      .write.mode(SaveMode.Append).parquet(srcDir)
    pm.pause("pp")
    pm.resume("pp", identity).awaitTermination()
    val got4 = spark.read.parquet(spec.destinationConnection)
      .select("k").as[Long].collect().toSet
    assert(got4 == Set(1L, 2L, 3L, 4L, 5L, 6L))
    pm.delete("pp")
  }

  test("resuming one partition leaves another's held records in holdback") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-pause2-").toString
    Seq((1L, "p0"), (2L, "p1"), (3L, "p2")).toDF("k", "part")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val spec = pm.create(PipelineSpec("pq", "parquet", "parquet", srcDir))
    pm.pausePartitions("pq", "part", Set("p1", "p2"), identity).awaitTermination()
    assert(spark.read.parquet(spec.destinationConnection)
      .select("k").as[Long].collect().toSet == Set(1L))

    pm.resumePartitions("pq", Set("p1"), identity).awaitTermination()
    assert(pm.paused("pq") == Set("p2"))
    assert(spark.read.parquet(spec.destinationConnection)
      .select("k").as[Long].collect().toSet == Set(1L, 2L),
      "p2 must stay held back while p1 replays")

    pm.resumePartitions("pq", Set("p2"), identity).awaitTermination()
    assert(spark.read.parquet(spec.destinationConnection)
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    pm.delete("pq")
  }

  test("pause set survives a manager restart; holdback replays across managers") {
    // "a/b" too: a name with a path separator must not nest its pause
    // record where the restarted manager's listing never looks
    Seq("pd", "a/b").foreach { name =>
      val root = Files.createTempDirectory("graft-pause-dur-").toString
      val srcDir = Files.createTempDirectory("graft-pause-dur-src-").toString
      Seq((1L, "p0"), (2L, "p1")).toDF("k", "part")
        .write.mode(SaveMode.Append).parquet(srcDir)

      val pmA = new PipelineManager(spark, root)
      val spec = pmA.create(PipelineSpec(name, "parquet", "parquet", srcDir))
      pmA.pausePartitions(name, "part", Set("p1"), identity).awaitTermination()
      pmA.close()

      // a NEW manager on the same checkpoint root (driver restart)
      // reloads the durable SPEC and pause set: no re-create needed,
      // and fresh p1 data stays held back
      val pmB = new PipelineManager(spark, root)
      assert(pmB.get(name).isDefined, s"spec of $name lost across restart")
      assert(pmB.paused(name) == Set("p1"), s"pause set of $name lost across restart")
      Seq((3L, "p1"), (4L, "p0")).toDF("k", "part")
        .write.mode(SaveMode.Append).parquet(srcDir)
      pmB.start(name, identity).awaitTermination()
      assert(spark.read.parquet(spec.destinationConnection)
        .select("k").as[Long].collect().toSet == Set(1L, 4L))

      // resume replays BOTH managers' held records — nothing was lost
      pmB.resumePartitions(name, Set("p1"), identity).awaitTermination()
      assert(spark.read.parquet(spec.destinationConnection)
        .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
      pmB.delete(name)
      pmB.close()
    }
  }

  test("a name's per-pipeline state never aliases another pipeline's") {
    // delete("a") once removed `<root>/a` recursively — the checkpoint
    // of "a/b" with it — so a restarted "a/b" re-read its whole source
    // as epoch 0, whose destination marker swallowed the new rows
    val root = Files.createTempDirectory("graft-alias-").toString
    val srcAb = Files.createTempDirectory("graft-alias-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcAb)
    val pm = new PipelineManager(spark, root)
    val ab = pm.create(PipelineSpec("a/b", "parquet", "parquet", srcAb))
    pm.create(PipelineSpec("a", "parquet", "parquet",
      Files.createTempDirectory("graft-alias-src2-").toString))
    pm.start("a/b", identity).awaitTermination()
    pm.delete("a")
    Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcAb)
    pm.start("a/b", identity).awaitTermination()
    assert(spark.read.parquet(ab.destinationConnection).select("k").as[Long]
      .collect().toSet == Set(1L, 2L),
      "deleting \"a\" must leave the checkpoint of \"a/b\" intact")
    pm.close()
  }

  test("update rejects re-pointing at a destination another pipeline uses") {
    val pm = newManager()
    pm.create(PipelineSpec("u1", "parquet", "memory", "/src/a",
      destinationConnection = "shared-dest"))
    pm.create(PipelineSpec("u2", "parquet", "memory", "/src/b",
      destinationConnection = "other-dest"))
    intercept[IllegalArgumentException] {
      pm.update("u2", PipelineSpec("u2", "parquet", "memory", "/src/b",
        destinationConnection = "shared-dest"))
    }
    // restating the pipeline's own destination is not a conflict
    val ok = pm.update("u2", PipelineSpec("u2", "parquet", "memory", "/src/b2",
      destinationConnection = "other-dest"))
    assert(ok.sourceConnection == "/src/b2")
  }

  test("kafka source options: assign beats pattern beats subscribe; kafka.* passes through") {
    def spec(src: String, md: Map[String, String] = Map.empty) =
      PipelineSpec("ks", "kafka", "kafka", src, metadata = md)

    assert(PipelineManager.kafkaSourceOptions(spec("topicA"))
      == Map("subscribe" -> "topicA"))
    assert(PipelineManager.kafkaSourceOptions(spec("topic.+"))
      == Map("subscribePattern" -> "topic.+"))
    // S3: an assigned-partition list wins over the source string
    val assigned = PipelineManager.kafkaSourceOptions(
      spec("topicA", Map("assign" -> """{"topicA":[0,2]}""")))
    assert(assigned == Map("assign" -> """{"topicA":[0,2]}"""))
    // consumer config + flow control pass through
    val full = PipelineManager.kafkaSourceOptions(spec("t1", Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "maxOffsetsPerTrigger" -> "500",
      "unrelated" -> "x")))
    assert(full == Map("subscribe" -> "t1",
      "kafka.bootstrap.servers" -> "b:9092", "maxOffsetsPerTrigger" -> "500"))
  }

  test("directory transport applies change kinds as filesystem operations") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-dirops-src-").toString
    // a change feed: create two files, modify one, delete the other
    Seq(
      (1L, "a.txt", "CREATED", "alpha"),
      (2L, "b.txt", "CREATED", "beta"),
      (3L, "a.txt", "MODIFIED", "alpha-v2"),
      (4L, "b.txt", "DELETED", ""))
      .toDF("offset", "key", "value", "content")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val spec = pm.create(PipelineSpec("dops", "parquet", "directory", srcDir,
      metadata = Map("directoryOps" -> "true", "directoryOrderCol" -> "offset")))
    pm.start("dops", identity).awaitTermination()

    val dest = new java.io.File(spec.destinationConnection)
    // ignore checksum sidecars (.name.crc) and metadata (_provision.*)
    val files = Option(dest.list()).map(_.toSet[String])
      .getOrElse(Set.empty)
      .filterNot(f => f.startsWith(".") || f.startsWith("_"))
    assert(files == Set("a.txt"), s"expected only a.txt, got $files")
    val body = new String(
      java.nio.file.Files.readAllBytes(dest.toPath.resolve("a.txt")), "UTF-8")
    assert(body == "alpha-v2")
    pm.delete("dops")
  }

  test("SPI registries: custom connector, custom transport, custom deduper") {
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-spi-").toString,
      PipelineHooks(
        // a connector the engine doesn't ship: rate-limited synthetic
        connectors = Map("tiny-rate" -> ((s, spec) =>
          s.readStream.format("rate")
            .option("rowsPerSecond", "5")
            .option("numPartitions", "1").load()
            .withColumn("value", col("value") + lit(spec.sourcePartitions)))),
        // a transport the engine doesn't ship: driver-side collector
        transports = Map("collect" -> (_ => (batch, _) =>
          batch.select(col("value").cast("long")).collect()
            .foreach(r => sunk.add(r.getLong(0))))),
        // dedupe by connector instead of by source
        dedupe = (spec, existing) => existing.find(_.connector == spec.connector)))

    // deduper: same connector shares the destination
    val a = pm.create(PipelineSpec("s1", "parquet", "memory", "/src/one"))
    val b = pm.create(PipelineSpec("s2", "parquet", "memory", "/src/DIFFERENT"))
    assert(b.destinationConnection == a.destinationConnection)

    // custom connector + transport deliver end to end
    pm.create(PipelineSpec("s3", "tiny-rate", "collect", "ignored",
      sourcePartitions = 2, destinationConnection = "collector"))
    val q = pm.start("s3", identity,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (sunk.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(!sunk.isEmpty, "custom transport never received a batch")
      // the custom connector's transform (+sourcePartitions) applied
      assert(sunk.peek() >= 2L)
    } finally q.stop()
    pm.delete("s3")
  }

  test("create provisions the destination; retention expires old files (K7)") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-prov-src-").toString
    Seq((1L, "a")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val spec = pm.create(PipelineSpec("prov", "parquet", "parquet", srcDir,
      metadata = Map("retentionMs" -> "60000", "destPartitions" -> "6")))

    // provisioning manifest written at create time
    val dest = new java.io.File(spec.destinationConnection)
    val manifest = new java.io.File(dest, "_provision.properties")
    assert(manifest.exists())
    val props = new String(
      java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8")
    assert(props.contains("partitions=6") && props.contains("retentionMs=60000"))

    pm.start("prov", identity).awaitTermination()
    val dataFiles = dest.listFiles().filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles.nonEmpty)

    // nothing expires inside the window...
    assert(pm.enforceRetention("prov") == 0)
    // ...but everything past it goes (clock advanced past retention)
    val removed = pm.enforceRetention("prov",
      nowMs = System.currentTimeMillis() + 120000)
    assert(removed == dataFiles.length)
    pm.delete("prov")
  }

  test("cdc transport materializes change records into keyed state") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-cdclog-").toString
    Seq((1L, 1L, "INSERT", "a1"), (2L, 2L, "INSERT", "b2"),
      (1L, 3L, "UPDATE", "a3"), (2L, 4L, "DELETE", ""))
      .toDF("key", "scn", "opcode", "value")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val spec = pm.create(PipelineSpec("cdc1", "parquet", "cdc", srcDir))
    pm.start("cdc1", identity).awaitTermination()
    val state = CdcMerge.currentState(spark, spec.destinationConnection).get
      .select($"key", $"value").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "a3"))
    pm.delete("cdc1")
  }

  test("directory transport applies batches through foreachBatch") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-dir-").toString
    Seq((1L, "a")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val spec = pm.create(PipelineSpec("dt", "parquet", "directory", srcDir))
    pm.start("dt", identity).awaitTermination()
    assert(spark.read.parquet(spec.destinationConnection).count() == 1)
    pm.delete("dt")
  }

  test("epochAppend is exactly-once: replays and crashed attempts never duplicate") {
    val dest = Files.createTempDirectory("graft-eo-").toString
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    PipelineManager.epochAppend(batch0, dest, 0L)
    // replayed epoch (crash after commit marker): a no-op
    PipelineManager.epochAppend(batch0, dest, 0L)
    assert(spark.read.parquet(dest).count() == 2)

    // crash BEFORE the marker: partial files of the attempt are on
    // disk, marker absent — the redo must replace, not double-append
    val marker = new org.apache.hadoop.fs.Path(dest, "_graft_commits/default/1")
    PipelineManager.epochAppend(Seq((3L, "c")).toDF("id", "v"), dest, 1L)
    fs.delete(marker, false) // simulate: attempt published, marker lost
    PipelineManager.epochAppend(Seq((3L, "c")).toDF("id", "v"), dest, 1L)
    assert(fs.exists(marker))
    assert(spark.read.parquet(dest).orderBy("id").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // negative epoch = holdback replay: plain append, no marker dedup
    PipelineManager.epochAppend(Seq((4L, "d")).toDF("id", "v"), dest, -1L)
    PipelineManager.epochAppend(Seq((5L, "e")).toDF("id", "v"), dest, -1L)
    assert(spark.read.parquet(dest).count() == 5)
  }

  test("epochAppend returns the committed files; a replay returns the SAME files") {
    // the durable-index loops use the commit as the batch's
    // materialization point — the return must name exactly the
    // epoch's published files, byte-identical on replay
    val dest = Files.createTempDirectory("graft-eor-").toString
    val first = PipelineManager.epochAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dest, 0L, "p")
    assert(first.size == 1 && first.head.contains("graft-p-e0-p0.parquet"))
    assert(spark.read.parquet(first: _*).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // replay with DIFFERENT data: the marker wins, the original files
    // (and their bytes) come back
    val replay = PipelineManager.epochAppend(
      Seq((9L, "x")).toDF("id", "v").coalesce(1), dest, 0L, "p")
    assert(replay == first)
    assert(spark.read.parquet(replay: _*).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // the negative-epoch branch documents returning Nil
    assert(PipelineManager.epochAppend(
      Seq((3L, "c")).toDF("id", "v"), dest, -1L, "p").isEmpty)
  }

  test("committedFiles is the one owner of the epoch-file naming contract") {
    // readers (s23/s24 stats probes, index loops) must see exactly the
    // files epochAppend published — and nothing staged, partial, or
    // foreign — through EpochCommit.committedFiles, never a
    // re-spelled glob. This test pins both halves: the published names
    // and the probe's filter.
    val dest = Files.createTempDirectory("graft-cf-").toString
    val conf = spark.sparkContext.hadoopConfiguration
    assert(EpochCommit.committedFiles(s"$dest/absent", conf).isEmpty)
    val published =
      PipelineManager.epochAppend(
        Seq((1L, "a")).toDF("id", "v").coalesce(1), dest, 0L, "pipeA") ++
      PipelineManager.epochAppend(
        Seq((2L, "b")).toDF("id", "v").coalesce(1), dest, 3L, "pipeA")
    // the published names follow graft-<ns>-e<N>-p<i>.parquet exactly
    assert(published.map(_.split('/').last).sorted ==
      Seq("graft-pipeA-e0-p0.parquet", "graft-pipeA-e3-p0.parquet"))
    // plant every shape a reader must NOT pick up: a raw spark append
    // (part-*), metadata dirs, and a near-miss name
    PipelineManager.epochAppend(Seq((9L, "x")).toDF("id", "v"), dest, -1L)
    val fs = new org.apache.hadoop.fs.Path(dest).getFileSystem(conf)
    fs.create(new org.apache.hadoop.fs.Path(dest,
      "graft-pipeA-e3.parquet"), true).close() // no -p<i>: not committed
    assert(EpochCommit.committedFiles(dest, conf) == published.sorted)
    assert(EpochCommit.isCommittedEpochFile("graft-default-e0-p0.parquet"))
    assert(!EpochCommit.isCommittedEpochFile("part-00000-abc.parquet"))
    assert(!EpochCommit.isCommittedEpochFile("graft-pipeA-e3.parquet"))
    assert(!EpochCommit.isCommittedEpochFile("_graft_holdback_meta"))
  }

  test("epochAppendPartitioned: per-bucket names, one whole-epoch marker, exactly-once redo") {
    val dest = Files.createTempDirectory("graft-eop-").toString
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = Seq((1L, 0L), (2L, 1L), (3L, 0L)).toDF("id", "tb")
    val files = EpochCommit.epochAppendPartitioned(
      b0.repartition(col("tb")), dest, "tb", 0L, "pp")
    assert(files.nonEmpty && files.forall(f => f.contains("/tb=") &&
      f.split('/').last.matches("graft-pp-e0-p\\d+\\.parquet")),
      s"published names break the partitioned contract: $files")
    // ONE marker for the whole epoch — visible in all partitions or none
    assert(fs.exists(new org.apache.hadoop.fs.Path(dest, "_graft_commits/pp/0")))
    // replay with DIFFERENT data: the marker wins, the SAME files return
    val replay = EpochCommit.epochAppendPartitioned(
      Seq((9L, 9L)).toDF("id", "tb"), dest, "tb", 0L, "pp")
    assert(replay == files)
    // partition discovery recovers tb from the directory names
    assert(spark.read.parquet(dest)
      .select(col("id"), col("tb").cast("long")).as[(Long, Long)]
      .collect().toSet == Set((1L, 0L), (2L, 1L), (3L, 0L)))
    // crashed attempt (files published, marker lost): redo replaces
    fs.delete(new org.apache.hadoop.fs.Path(dest, "_graft_commits/pp/0"), false)
    EpochCommit.epochAppendPartitioned(b0, dest, "tb", 0L, "pp"): Unit
    assert(spark.read.parquet(dest).count() == 3)
  }

  test("create on a running group rolls back atomically when the restart cannot start") {
    // a third member that CANNOT legally join the running shared query
    // (different source behind a forced task prefix — startGroup's
    // one-source invariant) must leave no trace: create() throws, the
    // spec is unregistered, and the original membership is restarted.
    val root = Files.createTempDirectory("graft-rejoin-rb-").toString
    val srcDir = Files.createTempDirectory("graft-rejoin-src-").toString
    val src2Dir = Files.createTempDirectory("graft-rejoin-src2-").toString
    val pm = new PipelineManager(spark, root)
    try {
      Seq((1L, "a")).toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(srcDir)
      Seq((2L, "b")).toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(src2Dir)
      def dest(tag: String) =
        Files.createTempDirectory(s"graft-rejoin-$tag-").toString + "/d"
      pm.create(PipelineSpec("rga", "parquet", "parquet", srcDir,
        destinationConnection = dest("x")))
      pm.create(PipelineSpec("rgb", "parquet", "parquet", srcDir,
        destinationConnection = dest("y")))
      pm.startGroup("rga", identity,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.currentTimeMillis() + 60000L
      def committed0 = fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/group-rga/commits/0"))
      while (!committed0 && System.currentTimeMillis() < deadline)
        Thread.sleep(25L)
      assert(committed0, "group query never committed its first epoch")
      val bad = PipelineSpec("rgc", "parquet", "parquet", src2Dir,
        destinationConnection = dest("z"),
        metadata = Map(PipelineManager.TaskPrefixKey -> "rga"))
      val e = intercept[IllegalArgumentException] { pm.create(bad) }
      assert(e.getMessage.contains("sources"))
      assert(pm.get("rgc").isEmpty, "failed join must unregister the spec")
      // the original two-member query is back in service
      assert(spark.streams.active.exists(q =>
        q.name == "group-rga" && q.isActive),
        "rollback must return the original membership to service")
      pm.stop("rga", force = true)
    } finally pm.close()
  }

  test("deleting a shared destination's leader migrates its markers: no duplicates") {
    // ga and gb SHARE one destination (gb dedup-inherits ga's dest).
    // ga is the marker-namespace leader; deleting it mid-run must
    // hand the namespace to gb before the narrowed restart, so the
    // destination sees every epoch exactly once across the change.
    val root = Files.createTempDirectory("graft-lead-").toString
    val srcDir = Files.createTempDirectory("graft-lead-src-").toString
    val pm = new PipelineManager(spark, root)
    try {
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(srcDir)
      val ga = pm.create(PipelineSpec("ga", "parquet", "parquet", srcDir))
      pm.create(PipelineSpec("gb", "parquet", "parquet", srcDir)) // shares dest
      val dest = ga.destinationConnection
      pm.startGroup("ga", identity,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def commitDone(b: Long) = fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/group-ga/commits/$b"))
      val deadline = System.currentTimeMillis() + 60000L
      while (!commitDone(0) && System.currentTimeMillis() < deadline)
        Thread.sleep(25L)
      assert(commitDone(0))
      pm.delete("ga") // the LEADER goes; gb must inherit the namespace
      assert(fs.exists(new org.apache.hadoop.fs.Path(dest,
        s"_graft_commits/${PipelineManager.namespaceOf("gb")}")),
        "leader deletion must migrate markers to the survivor")
      Seq((3L, "c")).toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(srcDir)
      val d2 = System.currentTimeMillis() + 60000L
      while (!commitDone(1) && System.currentTimeMillis() < d2)
        Thread.sleep(25L)
      assert(commitDone(1))
      val dl2 = System.currentTimeMillis() + 60000L
      while (spark.read.parquet(dest).count() < 3 &&
          System.currentTimeMillis() < dl2) Thread.sleep(25L)
      pm.stop("gb", force = true)
      // exactly once across the leadership change: 3 rows, 3 distinct
      assert(spark.read.parquet(dest).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")),
        "destination must hold every epoch exactly once")
    } finally pm.close()
  }

  test("membership-change restarts never resurrect an individually stopped member") {
    val root = Files.createTempDirectory("graft-staystop-").toString
    val srcDir = Files.createTempDirectory("graft-staystop-src-").toString
    val pm = new PipelineManager(spark, root)
    try {
      Seq((1L, "a")).toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(srcDir)
      def dest(tag: String) =
        Files.createTempDirectory(s"graft-staystop-$tag-").toString + "/d"
      pm.create(PipelineSpec("ma", "parquet", "parquet", srcDir,
        destinationConnection = dest("a")))
      pm.create(PipelineSpec("mb", "parquet", "parquet", srcDir,
        destinationConnection = dest("b")))
      val mc = pm.create(PipelineSpec("mc", "parquet", "parquet", srcDir,
        destinationConnection = dest("c")))
      pm.startGroup("ma", identity,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.currentTimeMillis() + 60000L
      while (!fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/group-ma/commits/0")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(25L)
      pm.stop("mc") // per-member: mc's owner explicitly stopped it
      assert(pm.get("mc").get.status == PipelineStatus.Stopped)
      val cFiles = EpochCommit.committedFiles(mc.destinationConnection,
        spark.sparkContext.hadoopConfiguration).size
      pm.delete("mb") // unrelated member's removal triggers a restart
      assert(pm.get("mc").get.status == PipelineStatus.Stopped,
        "the reassignment restart must not resurrect a stopped sibling")
      Seq((2L, "b")).toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(srcDir)
      val d2 = System.currentTimeMillis() + 60000L
      while (!fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/group-ma/commits/1")) &&
          System.currentTimeMillis() < d2) Thread.sleep(25L)
      assert(EpochCommit.committedFiles(mc.destinationConnection,
        spark.sparkContext.hadoopConfiguration).size == cFiles,
        "a stopped member's destination must not receive after the restart")
      pm.stop("ma", force = true)
    } finally pm.close()
  }

  test("epochAppend: two pipelines sharing a destination don't collide") {
    // D1 destination-reuse lets pipelines share one dest, each with an
    // independent epoch counter from 0 — markers/files are namespaced
    // per pipeline so B's epoch 0 is neither no-op'd by A's marker nor
    // able to delete A's published files on redo.
    val dest = Files.createTempDirectory("graft-eo2-").toString
    PipelineManager.epochAppend(Seq((1L, "a")).toDF("id", "v"), dest, 0L, "pipeA")
    PipelineManager.epochAppend(Seq((2L, "b")).toDF("id", "v"), dest, 0L, "pipeB")
    // B's redo of its own epoch 0 must replace only B's files
    PipelineManager.epochAppend(Seq((2L, "b")).toDF("id", "v"), dest, 0L, "pipeB")
    assert(spark.read.parquet(dest).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // epoch-1 glob must not match epoch-10..19 files of the same pipeline
    PipelineManager.epochAppend(Seq((3L, "c")).toDF("id", "v"), dest, 12L, "pipeA")
    PipelineManager.epochAppend(Seq((4L, "d")).toDF("id", "v"), dest, 1L, "pipeA")
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dest, "_graft_commits/pipeA/1"), false)
    PipelineManager.epochAppend(Seq((4L, "d")).toDF("id", "v"), dest, 1L, "pipeA")
    assert(spark.read.parquet(dest).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("namespace encoding is injective: punctuation-distinct names never collide") {
    // Collapsing every unsafe char to '_' mapped 'etl-a' and 'etl.a' to
    // the same namespace — one pipeline's marker no-op'd the other's
    // epoch (silent data loss). The hex-escape encoding keeps them apart.
    assert(PipelineManager.namespaceOf("etl-a") !=
      PipelineManager.namespaceOf("etl.a"))
    assert(PipelineManager.namespaceOf("pipeA") == "pipeA",
      "alphanumeric names must encode to themselves (marker carry-over)")
    // '_' is the escape char and must itself be escaped
    assert(PipelineManager.namespaceOf("a_b") != PipelineManager.namespaceOf("a/b"))
    val names = Seq("etl-a", "etl.a", "etl_a", "etl a", "étl", "a_5fb", "a/b", "")
    assert(names.map(PipelineManager.namespaceOf).distinct.size == names.size,
      "encoding must be injective over punctuation/unicode/empty names")
    names.map(PipelineManager.namespaceOf).foreach(ns =>
      assert(ns.matches("[A-Za-z0-9_]+"), s"namespace $ns must be fs-safe"))

    // the anonymous-writer namespace is reserved as a pipeline name,
    // and so is every top-level entry of the checkpoint root a name
    // would otherwise alias (delete("specs") would wipe every spec)
    val pm = newManager()
    Seq("default", "specs", "locks", "instances", "sketch", "dest").foreach { n =>
      intercept[IllegalArgumentException] {
        pm.create(PipelineSpec(n, "rate", "memory", "r"))
      }
    }
    // two punctuation-distinct pipelines on one destination stay apart
    val dest = Files.createTempDirectory("graft-eo3-").toString
    PipelineManager.epochAppend(Seq((1L, "a")).toDF("id", "v"), dest, 0L, "etl-a")
    PipelineManager.epochAppend(Seq((2L, "b")).toDF("id", "v"), dest, 0L, "etl.a")
    assert(spark.read.parquet(dest).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("parquet transport skips a replayed epoch end-to-end") {
    val srcDir = Files.createTempDirectory("graft-eo-src-").toString
    val root = Files.createTempDirectory("graft-eo-cp-").toString
    Seq((1L, "x")).toDF("id", "value").write.mode(SaveMode.Append).parquet(srcDir)

    val pm = new PipelineManager(spark, root)
    val spec = pm.create(PipelineSpec("eo", "parquet", "parquet", srcDir))
    pm.start("eo", identity).awaitTermination()
    val first = spark.read.parquet(spec.destinationConnection)
      .select("id", "value").as[(Long, String)].collect().toSet
    assert(first == Set((1L, "x")))

    // wipe the offset log: the restarted query re-reads the same files
    // with the same epoch ids — the commit markers must swallow them
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/eo"), true)
    pm.start("eo", identity).awaitTermination()
    val second = spark.read.parquet(spec.destinationConnection)
      .select("id", "value").as[(Long, String)].collect().toSet
    assert(second == Set((1L, "x")), "replayed epoch must not duplicate rows")
    pm.delete("eo")
  }

  test("each pipeline's jobs run in their own scheduler pool") {
    val pools = scala.collection.concurrent.TrieMap.empty[String, String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
          .flatMap(ps => Option(ps.getProperty("spark.scheduler.pool")))
        p.filter(_.startsWith("graft-")).foreach(pool =>
          pools.put(pool, pool))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pm = newManager()
      val srcDir = Files.createTempDirectory("graft-pool-src-").toString
      Seq((1L, "v")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      pm.create(PipelineSpec("isoA", "parquet", "parquet", srcDir))
      pm.create(PipelineSpec("isoB", "parquet", "parquet", srcDir))
      pm.start("isoA", identity).awaitTermination()
      pm.start("isoB", identity).awaitTermination()
      // listener events are async: poll briefly for both pools
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((!pools.contains("graft-isoA") || !pools.contains("graft-isoB"))
          && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(pools.contains("graft-isoA") && pools.contains("graft-isoB"),
        s"pipeline jobs must carry their own pool, saw: ${pools.keySet}")
      // the caller thread's pool is cleared after start()
      assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
      pm.delete("isoA"); pm.delete("isoB")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("start() restores the caller's pre-existing scheduler pool") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-poolrestore-src-").toString
    Seq((1L, "v")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.create(PipelineSpec("isoC", "parquet", "parquet", srcDir))
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "caller-pool")
    try {
      pm.start("isoC", identity).awaitTermination()
      assert(spark.sparkContext
          .getLocalProperty("spark.scheduler.pool") == "caller-pool",
        "start() must restore, not clear, a pool the caller had set")
    } finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    pm.delete("isoC")
  }

  test("update preserves server-managed metadata when the PUT omits it") {
    val pm = newManager()
    pm.create(PipelineSpec("sm1", "parquet", "memory", "/src/a",
      metadata = Map("graft.targetAssignment" -> "0:hostB")))
    val prefix = pm.get("sm1").get.metadata(PipelineManager.TaskPrefixKey)
    // a PUT not round-tripped from GET: no metadata at all
    val up = pm.update("sm1", PipelineSpec("sm1", "parquet", "memory", "/src/b",
      metadata = Map("client.key" -> "v")))
    assert(up.metadata(PipelineManager.TaskPrefixKey) == prefix,
      "task prefix dropped by update")
    assert(up.metadata("graft.targetAssignment") == "0:hostB",
      "partition pins dropped by update")
    assert(up.metadata("client.key") == "v")
    // a spec that DOES carry the key keeps its value (movePartitions
    // persists new pin tables through this same path)
    val up2 = pm.update("sm1", up.copy(
      metadata = up.metadata + ("graft.targetAssignment" -> "0:hostA")))
    assert(up2.metadata("graft.targetAssignment") == "0:hostA")
    pm.delete("sm1")
  }

  test("lock acquisition is race-free for in-process contenders") {
    // Two live managers start the same pipeline from two threads at
    // once: exactly one may win each round (the per-path monitor
    // serializes in-JVM contenders where the local filesystem's
    // create(overwrite=false) is only check-then-create; on HDFS the
    // exclusive create itself is the cross-process primitive).
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-race-").toString
    val srcDir = Files.createTempDirectory("graft-race-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val dest = Files.createTempDirectory("graft-race-dest-").toString + "/d"
    val pmA = new PipelineManager(spark, root, instance = "A")
    // durable transport: the checkpoint must survive rounds (a memory
    // sink cannot recover from an existing checkpoint)
    pmA.create(PipelineSpec("rc", "parquet", "parquet", srcDir,
      destinationConnection = dest))
    val pmB = new PipelineManager(spark, root, instance = "B")
    for (round <- 1 to 6) {
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, Either[String, Unit])]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(("A", pmA), ("B", pmB)).map { case (id, pm) =>
        new Thread(() => {
          gate.await()
          try { pm.start("rc", identity); results.add(id -> Right(())): Unit }
          catch { case e: PipelineLockedException =>
            results.add(id -> Left(e.lockedBy)): Unit }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      val wins = results.asScala.collect { case (id, Right(_)) => id }.toSeq
      val losses = results.asScala.collect { case (id, Left(by)) => (id, by) }.toSeq
      assert(wins.size == 1 && losses.size == 1,
        s"round $round: winners=$wins losers=$losses")
      assert(losses.head._2 == wins.head,
        s"round $round: loser saw owner ${losses.head._2}, winner was ${wins.head}")
      val winner = if (wins.head == "A") pmA else pmB
      winner.queryOf("rc").foreach(_.awaitTermination())
      winner.stop("rc") // releases the lock for the next round
    }
    pmA.close(); pmB.close()
  }

  test("liveness lease: a hard-crashed peer's lock is reclaimable one lease after its last heartbeat") {
    val root = Files.createTempDirectory("graft-lease-").toString
    val srcDir = Files.createTempDirectory("graft-lease-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    // lease far above any CI runtime (expiry is SIMULATED via
    // setTimes below, never waited for), so no in-test duration can
    // flake the within-lease assertions
    val lease = 600000L
    val pmA = new PipelineManager(spark, root, instance = "A",
      livenessLeaseMs = lease)
    pmA.create(PipelineSpec("hl", "parquet", "parquet", srcDir))
    pmA.start("hl", identity).awaitTermination()
    val pmB = new PipelineManager(spark, root, instance = "B",
      livenessLeaseMs = lease)
    // heartbeat pins A's registration fresh regardless of how long
    // the streaming setup above took — B must see a live owner
    assert(pmA.heartbeat(), "A's own lease lapsed before the test's clock control")
    intercept[PipelineLockedException] { pmB.start("hl", identity) }
    // simulate A hard-crashing `lease` ago (no close()): age its
    // registration past the lease instead of sleeping the test
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new DurableRecords(fs, root).instance("A"),
      System.currentTimeMillis() - lease - 1000L, -1)
    // an expired session cannot heartbeat itself back to life — A
    // learns it must self-demote, and its registration stays stale
    assert(!pmA.heartbeat(), "expired lease must not be refreshable")
    // B now reclaims the dead peer's lock and resumes delivery
    // (its own registration pinned fresh first — mirrors A's pin)
    assert(pmB.heartbeat(), "B's lease lapsed before the reclaim")
    pmB.resume("hl", identity).awaitTermination()
    // a heartbeat would have kept A live: B's ownership now excludes A
    assert(pmB.heartbeat(), "B's lease should be confirmable")
    intercept[PipelineLockedException] { pmA.resume("hl", identity) }
    pmB.close(); pmA.close()
  }

  test("group lifecycle: member stop is per-member (reference force=false scope); solo restart after a group run is rejected") {
    val root = Files.createTempDirectory("graft-grp-").toString
    val srcDir = Files.createTempDirectory("graft-grp-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val da = Files.createTempDirectory("graft-grp-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-grp-db-").toString + "/d"
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("ga", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pm.create(PipelineSpec("gb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pm.startGroup("ga", identity).awaitTermination()
    // NON-force stop of one member affects only that member
    // (DatastreamResources.java:355-377 scope): its handle and lock
    // go, the sibling keeps its registration — it is NOT left Ready
    // with its lock held by a swept-away query
    pm.stop("ga")
    assert(pm.queryOf("ga").isEmpty, "stopped member kept a handle")
    assert(pm.queryOf("gb").isDefined, "sibling lost its query handle")
    assert(pm.get("ga").get.status == PipelineStatus.Stopped)
    assert(pm.get("gb").get.status == PipelineStatus.Ready)
    // the stopped member's lock is RELEASED: another manager may take
    // it (here: gb delivers new data while ga's sink forfeits it)
    Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("gb", identity).awaitTermination()
    // ga rejoined on the explicit group start (Stopped → Ready), but
    // only from this epoch on — v2 delivered to both, nothing redone
    assert(pm.get("ga").get.status == PipelineStatus.Ready)
    assert(spark.read.parquet(da).count() == 2 &&
      spark.read.parquet(db).count() == 2, "group restart redelivered")
    // a solo restart would replay from an empty per-name checkpoint
    // and redeliver what the group already delivered — rejected
    intercept[IllegalStateException] { pm.start("gb", identity) }
    // FORCE stop sweeps the whole group: every member transitioned,
    // every handle gone, every lock released
    pm.stop("ga", force = true)
    assert(pm.queryOf("ga").isEmpty && pm.queryOf("gb").isEmpty)
    assert(pm.get("ga").get.status == PipelineStatus.Stopped &&
      pm.get("gb").get.status == PipelineStatus.Stopped)
    // released: a second manager can acquire both members
    val pm2 = new PipelineManager(spark, root, instance = "second")
    pm2.startGroup("ga", identity).awaitTermination()
    assert(spark.read.parquet(da).count() == 2, "force-stop restart redelivered")
    pm2.close()
    pm.close()
  }

  test("per-member pause in a running group holds back exactly that destination and resume replays exactly once") {
    val root = Files.createTempDirectory("graft-gpause-").toString
    val srcDir = Files.createTempDirectory("graft-gpause-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val da = Files.createTempDirectory("graft-gpause-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-gpause-db-").toString + "/d"
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("pa", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pm.create(PipelineSpec("pb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pm.startGroup("pa", identity).awaitTermination()
    assert(spark.read.parquet(da).count() == 1 &&
      spark.read.parquet(db).count() == 1)
    // default pause scope = ONE member: pb's spec flips Paused, the
    // shared query's registration survives under both names
    pm.pause("pb")
    assert(pm.get("pb").get.status == PipelineStatus.Paused)
    assert(pm.get("pa").get.status == PipelineStatus.Ready)
    assert(pm.queryOf("pb").isDefined, "per-member pause dropped the group handle")
    // sibling keeps receiving; the paused member's epochs divert to
    // durable holdback (never dropped, not delivered)
    Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("pa", identity).awaitTermination()
    assert(spark.read.parquet(da).count() == 2, "sibling delivery stalled")
    assert(spark.read.parquet(db).count() == 1, "paused member kept receiving")
    // resume replays the held epoch exactly once...
    pm.resume("pb", identity)
    assert(spark.read.parquet(db).as[(Long, String)].collect().toSet ==
      Set((1L, "v1"), (2L, "v2")), "holdback replay lost or duplicated rows")
    // ...and is idempotent (a crash between replay and cleanup would
    // re-replay into marker no-ops)
    pm.resume("pb", identity)
    assert(spark.read.parquet(db).count() == 2, "second resume redelivered")
    // both flow again from the next epoch
    Seq((3L, "v3")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("pa", identity).awaitTermination()
    assert(spark.read.parquet(da).count() == 3 &&
      spark.read.parquet(db).count() == 3)
    // FORCE pause stops the shared query and flips every member
    pm.pause("pa", force = true)
    assert(pm.queryOf("pa").isEmpty && pm.queryOf("pb").isEmpty)
    assert(pm.get("pa").get.status == PipelineStatus.Paused &&
      pm.get("pb").get.status == PipelineStatus.Paused)
    // force resume restarts the group and delivers the epoch both
    // members missed while force-paused
    Seq((4L, "v4")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.resume("pa", identity, force = true).awaitTermination()
    assert(spark.read.parquet(da).count() == 4 &&
      spark.read.parquet(db).count() == 4, "force resume lost the missed epoch")
    pm.close()
  }

  test("update re-point: orphaned holdback follows the member; a handle-less member still restarts the live group") {
    // Review-finding regression, part A: pb is the ONLY member
    // delivering to db and is paused, so an epoch lands in the durable
    // holdback stamped for db. update(pb -> dz) with no running query
    // must re-stamp those held epochs at dz — they are pb's own
    // undelivered data and follow its stream; left stamped for db (a
    // destination no member serves anymore) they would never drain:
    // silent data loss under the "never dropped" pause contract.
    val root = Files.createTempDirectory("graft-upd-hb-").toString
    val srcDir = Files.createTempDirectory("graft-upd-hb-src-").toString
    val da = Files.createTempDirectory("graft-upd-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-upd-db-").toString + "/d"
    val dz = Files.createTempDirectory("graft-upd-dz-").toString + "/d"
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("pa", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pm.create(PipelineSpec("pb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pm.startGroup("pa", identity).awaitTermination()
    pm.pause("pb")
    Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("pa", identity).awaitTermination()
    assert(spark.read.parquet(da).count() == 2 &&
      spark.read.parquet(db).count() == 1, "holdback setup broken")
    pm.update("pb", PipelineSpec("pb", "parquet", "parquet", srcDir,
      destinationConnection = dz)): Unit
    // simulate the restamp's crash window: meta deleted, the staged
    // `.next` is the completed authority — replay must read through
    // the fallback, never skip the dir as unstamped
    val hbRoot = new org.apache.hadoop.fs.Path(s"$root/group-holdback")
    val fsA = hbRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsA.listStatus(hbRoot).filter(_.isDirectory).foreach { d =>
      val meta = new org.apache.hadoop.fs.Path(d.getPath,
        PipelineManager.HoldbackMetaFile)
      if (fsA.exists(meta))
        assert(fsA.rename(meta, new org.apache.hadoop.fs.Path(d.getPath,
          PipelineManager.HoldbackMetaFile + ".next")))
    }
    pm.resume("pb", identity).awaitTermination()
    assert(spark.read.parquet(db).count() == 1,
      "old destination must stay frozen after the re-point")
    assert(spark.read.parquet(dz).as[(Long, String)].collect().toSet ==
      Set((2L, "v2")),
      "the held epoch must follow the member to its NEW destination")
    pm.close()

    // Part B: a per-member-stopped member holds no query handle, but
    // its delivery-relevant update must STILL restart the live shared
    // query — the frozen fan-out would otherwise deliver the member
    // to its OLD destination once resumed.
    val root2 = Files.createTempDirectory("graft-upd-hl-").toString
    val src2 = Files.createTempDirectory("graft-upd-hl-src-").toString
    val d1 = Files.createTempDirectory("graft-upd-d1-").toString + "/d"
    val d2 = Files.createTempDirectory("graft-upd-d2-").toString + "/d"
    val d3 = Files.createTempDirectory("graft-upd-d3-").toString + "/d"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root2).getFileSystem(conf)
    def commitDone(b: Long): Boolean = fs.exists(
      new org.apache.hadoop.fs.Path(s"$root2/group-qa/commits/$b"))
    def awaitTrue(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (!cond && System.currentTimeMillis() < deadline)
        Thread.sleep(25L)
      require(cond, s"upd-handle-less: timed out waiting for $what")
    }
    PipelineManager.epochAppend(
      Seq((1L, "e0")).toDF("k", "v").coalesce(1), src2, 0, "updsrc")
    val pm2 = new PipelineManager(spark, root2)
    pm2.create(PipelineSpec("qa", "parquet", "parquet", src2,
      destinationConnection = d1))
    pm2.create(PipelineSpec("qb", "parquet", "parquet", src2,
      destinationConnection = d2))
    val q0 = pm2.startGroup("qa", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    awaitTrue("epoch 0 commit")(commitDone(0))
    pm2.stop("qb") // handle removed; the shared query runs on under qa
    assert(q0.isActive, "per-member stop must not stop the shared query")
    pm2.update("qb", PipelineSpec("qb", "parquet", "parquet", src2,
      destinationConnection = d3)): Unit
    assert(!q0.isActive,
      "a handle-less member's re-point must restart the live group")
    assert(spark.streams.active.exists(q =>
      q.name == "group-qa" && q.isActive), "no replacement query")
    assert(pm2.get("qb").get.status == PipelineStatus.Stopped,
      "the restart must not resurrect the stopped member")
    pm2.resume("qb", identity): Unit
    PipelineManager.epochAppend(
      Seq((2L, "e1")).toDF("k", "v").coalesce(1), src2, 1, "updsrc")
    awaitTrue("epoch 1 commit")(commitDone(1))
    awaitTrue("post-resume delivery to the new destination")(
      EpochCommit.committedFiles(d3, conf).nonEmpty)
    pm2.stop("qa", force = true)
    assert(spark.read.parquet(d3).as[(Long, String)].collect().toSet ==
      Set((2L, "e1")),
      "resumed member must deliver to the NEW destination only")
    assert(EpochCommit.committedFiles(d2, conf).size == 1,
      "the OLD destination must receive nothing after the update")
    pm2.close()
  }

  test("solo update: cosmetic metadata keeps the query; delivery-relevant metadata restarts it exactly-once") {
    // q74/q75 unit halves: update() must NOT churn a running solo
    // query for labels/pin tables (the management plane persists
    // metadata through this path mid-run), and MUST restart it when a
    // key the source/delivery closures captured changes.
    val root = Files.createTempDirectory("graft-solo-upd-").toString
    val srcDir = Files.createTempDirectory("graft-solo-upd-src-").toString
    val d1 = Files.createTempDirectory("graft-solo-upd-d1-").toString + "/d"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    def commitDone(b: Long): Boolean = fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/sa/commits/$b"))
    def awaitTrue(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (!cond && System.currentTimeMillis() < deadline)
        Thread.sleep(25L)
      require(cond, s"solo-upd: timed out waiting for $what")
    }
    PipelineManager.epochAppend(
      Seq((1L, "e0")).toDF("k", "v").coalesce(1), srcDir, 0, "sasrc")
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("sa", "parquet", "parquet", srcDir,
      destinationConnection = d1))
    val q0 = pm.start("sa", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    awaitTrue("epoch 0 commit")(commitDone(0))
    // cosmetic metadata: the SAME query keeps running
    pm.update("sa", PipelineSpec("sa", "parquet", "parquet", srcDir,
      destinationConnection = d1, metadata = Map("label" -> "x"))): Unit
    assert(q0.isActive,
      "a cosmetic metadata update must not restart the running query")
    // delivery-relevant metadata (per-trigger flow control is captured
    // by the source build): restart, same destination, exactly-once
    pm.update("sa", PipelineSpec("sa", "parquet", "parquet", srcDir,
      destinationConnection = d1,
      metadata = Map("label" -> "x", "maxFilesPerTrigger" -> "1"))): Unit
    assert(!q0.isActive,
      "a delivery-relevant metadata update must restart the running query")
    assert(spark.streams.active.exists(q => q.name == "sa" && q.isActive),
      "no replacement query after the metadata reassignment")
    PipelineManager.epochAppend(
      Seq((2L, "e1")).toDF("k", "v").coalesce(1), srcDir, 1, "sasrc")
    awaitTrue("epoch 1 commit")(commitDone(1))
    // Source identity is immutable WHILE RUNNING (review finding):
    // Spark's checkpoint binds the file source's path — recovery
    // re-fetches the last batch from the logged OLD paths, which a
    // re-pointed basePath cannot serve — so update() must REJECT the
    // change (never silently persist a spec the live query ignores,
    // never restart into a crash), leaving query and spec untouched.
    val q1 = spark.streams.active.find(q => q.name == "sa").get
    val src2 = Files.createTempDirectory("graft-solo-upd-src2-").toString
    PipelineManager.epochAppend(
      Seq((3L, "e2")).toDF("k", "v").coalesce(1), src2, 0, "sasrc2")
    intercept[IllegalArgumentException] {
      pm.update("sa", PipelineSpec("sa", "parquet", "parquet", src2,
        destinationConnection = d1,
        metadata = Map("label" -> "x", "maxFilesPerTrigger" -> "1")))
    }
    assert(q1.isActive,
      "a rejected source re-point must leave the running query untouched")
    assert(pm.get("sa").get.sourceConnection == srcDir,
      "a rejected source re-point must not persist the new spec")
    pm.stop("sa")
    assert(spark.read.parquet(d1).as[(Long, String)].collect().toSet ==
      Set((1L, "e0"), (2L, "e1")),
      "restart from the per-name checkpoint must deliver exactly once")
    // stopped: the old contract — the spec persists, the caller owns
    // making the next start's checkpoint consistent with it
    pm.update("sa", PipelineSpec("sa", "parquet", "parquet", src2,
      destinationConnection = d1,
      metadata = Map("label" -> "x", "maxFilesPerTrigger" -> "1"))): Unit
    assert(pm.get("sa").get.sourceConnection == src2,
      "a stopped pipeline's source update must persist")
    // a RUNNING memory-transport query has nothing restartable (the
    // memory sink cannot recover from a checkpoint): its re-point
    // keeps the old contract — spec persists, query keeps running
    pm.create(PipelineSpec("sm", "rate", "memory", "ignored"))
    val qm = pm.start("sm", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    pm.update("sm", PipelineSpec("sm", "rate", "memory", "ignored",
      destinationConnection = "dest-sm-2")): Unit
    assert(qm.isActive,
      "a running memory-transport query must not be restarted by update")
    pm.stop("sm")
    pm.close()
  }

  test("a crashed restamp with the OLD meta still authoritative is re-driven from durable state at drain time") {
    // r16 ADVICE low #4: restampHoldbackDest's stage→delete→rename
    // leaves one unrecoverable window — crash after create(.next) but
    // BEFORE delete(meta) keeps the OLD stamp authoritative, and
    // re-running update() is a no-op (the spec already carries the new
    // destination). repairStrandedHoldbackStamps re-drives it from
    // durable state: a holdback stamped for a destination no member
    // serves, whose owner's spec now points at the draining
    // destination, is an interrupted re-point — finished at drain.
    val root = Files.createTempDirectory("graft-upd-hb2-").toString
    val srcDir = Files.createTempDirectory("graft-upd-hb2-src-").toString
    val da = Files.createTempDirectory("graft-upd2-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-upd2-db-").toString + "/d"
    val dz = Files.createTempDirectory("graft-upd2-dz-").toString + "/d"
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("pa", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pm.create(PipelineSpec("pb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pm.startGroup("pa", identity).awaitTermination()
    pm.pause("pb")
    Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("pa", identity).awaitTermination()
    assert(spark.read.parquet(db).count() == 1, "holdback setup broken")
    pm.update("pb", PipelineSpec("pb", "parquet", "parquet", srcDir,
      destinationConnection = dz)): Unit
    // simulate the OTHER crash window than the e2e above: the new
    // stamp reached `.next`, but the OLD meta was never deleted — the
    // old stamp stays authoritative and nothing in the update path
    // will ever retry
    val hbRoot = new org.apache.hadoop.fs.Path(s"$root/group-holdback")
    val fsA = hbRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsA.listStatus(hbRoot).filter(_.isDirectory).foreach { d =>
      val meta = new org.apache.hadoop.fs.Path(d.getPath,
        PipelineManager.HoldbackMetaFile)
      val next = new org.apache.hadoop.fs.Path(d.getPath,
        PipelineManager.HoldbackMetaFile + ".next")
      if (fsA.exists(meta)) {
        assert(fsA.rename(meta, next)) // the staged new stamp
        val out = fsA.create(meta, true) // the surviving OLD stamp
        try out.write(DurableRecords.frame(Seq("pb", db))) finally out.close()
      }
    }
    pm.resume("pb", identity).awaitTermination()
    assert(spark.read.parquet(db).count() == 1,
      "old destination must stay frozen after the re-point")
    assert(spark.read.parquet(dz).as[(Long, String)].collect().toSet ==
      Set((2L, "v2")),
      "the stranded held epoch must be re-driven to the NEW destination")
    pm.close()
  }

  test("two owners stranded at the SAME old destination repair to their OWN destinations") {
    // r17 ADVICE low #1: repairStrandedHoldbackStamps validated the
    // triggering dir's owner but restamped EVERY dir stamped for the
    // old destination — two owners' crashed re-points stranded at the
    // same old destination with different new destinations would ship
    // one owner's held epochs to the other's destination. The restamp
    // now moves only dirs whose owner's spec points at the target.
    val root = Files.createTempDirectory("graft-upd-hb3-").toString
    val src1 = Files.createTempDirectory("graft-hb3-src1-").toString
    val src2 = Files.createTempDirectory("graft-hb3-src2-").toString
    val da = Files.createTempDirectory("graft-hb3-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-hb3-db-").toString + "/d"
    val dc = Files.createTempDirectory("graft-hb3-dc-").toString + "/d"
    val dz = Files.createTempDirectory("graft-hb3-dz-").toString + "/d"
    val dw = Files.createTempDirectory("graft-hb3-dw-").toString + "/d"
    val fsA = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // crash simulation shared with the single-owner test above: the
    // staged new stamp reached `.next` but the OLD meta survived
    def crashRestampOf(owner: String, oldDest: String): Unit = {
      val hbRoot = new org.apache.hadoop.fs.Path(s"$root/group-holdback")
      fsA.listStatus(hbRoot).filter(_.isDirectory).foreach { d =>
        val meta = new org.apache.hadoop.fs.Path(d.getPath,
          PipelineManager.HoldbackMetaFile)
        if (fsA.exists(meta)) {
          val in = fsA.open(meta)
          val head = try new String(in.readAllBytes(), "UTF-8")
            .split("\n", 2)(0) finally in.close()
          if (head == owner) {
            val next = new org.apache.hadoop.fs.Path(d.getPath,
              PipelineManager.HoldbackMetaFile + ".next")
            assert(fsA.rename(meta, next))
            val out = fsA.create(meta, true)
            try out.write(DurableRecords.frame(Seq(owner, oldDest)))
            finally out.close()
          }
        }
      }
    }
    val pm = new PipelineManager(spark, root)
    // group 1: pb pauses, holds an epoch stamped for db, re-points to
    // dz with the restamp crashed — stamp still says db
    Seq((1L, "g1e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(src1)
    pm.create(PipelineSpec("pa", "parquet", "parquet", src1,
      destinationConnection = da))
    pm.create(PipelineSpec("pb", "parquet", "parquet", src1,
      destinationConnection = db))
    pm.startGroup("pa", identity).awaitTermination()
    pm.pause("pb")
    Seq((2L, "g1e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(src1)
    pm.startGroup("pa", identity).awaitTermination()
    pm.update("pb", PipelineSpec("pb", "parquet", "parquet", src1,
      destinationConnection = dz)): Unit
    crashRestampOf("pb", db)
    // group 2: db is free now (pb's spec moved off it), so p2b may
    // claim it — then strands its OWN held epoch at db the same way,
    // re-pointed to dw
    Seq((10L, "g2e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(src2)
    pm.create(PipelineSpec("p2a", "parquet", "parquet", src2,
      destinationConnection = dc))
    pm.create(PipelineSpec("p2b", "parquet", "parquet", src2,
      destinationConnection = db))
    pm.startGroup("p2a", identity).awaitTermination()
    pm.pause("p2b")
    Seq((20L, "g2e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(src2)
    pm.startGroup("p2a", identity).awaitTermination()
    pm.update("p2b", PipelineSpec("p2b", "parquet", "parquet", src2,
      destinationConnection = dw)): Unit
    crashRestampOf("p2b", db)
    // drain dz: the repair must finish pb's crashed re-point ONLY —
    // p2b's spec points at dw, not dz
    pm.resume("pb", identity).awaitTermination()
    assert(spark.read.parquet(dz).as[(Long, String)].collect().toSet ==
      Set((2L, "g1e1")), "pb's held epoch must reach pb's destination")
    // p2b's held epoch must NOT have been shipped to dz
    pm.resume("p2b", identity).awaitTermination()
    assert(spark.read.parquet(dw).as[(Long, String)].collect().toSet ==
      Set((20L, "g2e1")),
      "p2b's held epoch must reach p2b's OWN destination, not pb's")
    // db served two tenant eras (pb's epoch 0, then p2b's epoch 0) —
    // and must hold EXACTLY those: neither owner's stranded held
    // epoch may have leaked into it
    assert(spark.read.parquet(db).as[(Long, String)].collect().toSet ==
      Set((1L, "g1e0"), (10L, "g2e0")),
      "the old shared destination must hold exactly the two tenants' " +
        "delivered epochs, never a stranded holdback")
    pm.close()
  }

  test("a deleted leader's holdback dir still drains for the surviving destination sharers") {
    // The stamp contract's membership-churn clause ("never dropped"
    // survives leader deletion): held epochs live in a dir stamped by
    // the dest-group LEADER; deleting that leader while a sibling
    // still serves the destination must not strand them — the replay
    // guard skips only STRANDS (owner exists, points elsewhere),
    // never owner-missing dirs.
    val root = Files.createTempDirectory("graft-dlh-").toString
    val srcDir = Files.createTempDirectory("graft-dlh-src-").toString
    val dD = Files.createTempDirectory("graft-dlh-d-").toString + "/d"
    Seq((1L, "e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("la", "parquet", "parquet", srcDir,
      destinationConnection = dD))
    // same source, empty destination → dedup joins the group AND
    // shares la's destination: dest group {la, lb} at dD, leader la
    pm.create(PipelineSpec("lb", "parquet", "parquet", srcDir))
    assert(pm.get("lb").get.destinationConnection == dD)
    pm.startGroup("la", identity).awaitTermination()
    pm.pause("la"); pm.pause("lb")
    Seq((2L, "e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("la", identity).awaitTermination()
    assert(spark.read.parquet(dD).count() == 1, "holdback setup broken")
    // delete the LEADER; lb still serves dD, so the dir must survive
    pm.delete("la")
    pm.resume("lb", identity).awaitTermination()
    assert(spark.read.parquet(dD).as[(Long, String)].collect().toSet ==
      Set((1L, "e0"), (2L, "e1")),
      "the deleted leader's held epoch must still drain for the survivor")
    pm.close()
  }

  test("a survivor's re-point moves a deleted leader's holdback with it") {
    // restampHoldbackDest admits owner-MISSING dirs (the dest group's
    // held epochs follow the surviving member's stream); only live
    // owners pointing elsewhere are excluded (the two-strands case
    // above). Without this, deleting the leader then re-pointing the
    // survivor would strand the group's held epochs forever.
    val root = Files.createTempDirectory("graft-dlr-").toString
    val srcDir = Files.createTempDirectory("graft-dlr-src-").toString
    val dD = Files.createTempDirectory("graft-dlr-d-").toString + "/d"
    val dZ = Files.createTempDirectory("graft-dlr-z-").toString + "/d"
    Seq((1L, "e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("ra", "parquet", "parquet", srcDir,
      destinationConnection = dD))
    pm.create(PipelineSpec("rb", "parquet", "parquet", srcDir))
    assert(pm.get("rb").get.destinationConnection == dD)
    pm.startGroup("ra", identity).awaitTermination()
    pm.pause("ra"); pm.pause("rb")
    Seq((2L, "e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("ra", identity).awaitTermination()
    pm.delete("ra") // rb survives at dD → dir (owner ra) stays
    pm.update("rb", PipelineSpec("rb", "parquet", "parquet", srcDir,
      destinationConnection = dZ)): Unit // nobody left at dD → restamp
    pm.resume("rb", identity).awaitTermination()
    assert(spark.read.parquet(dZ).as[(Long, String)].collect().toSet ==
      Set((2L, "e1")),
      "the group's held epoch must follow the survivor's re-point")
    assert(spark.read.parquet(dD).count() == 1,
      "the abandoned destination stays frozen")
    pm.close()
  }

  test("deleting the last destination sharer forfeits its holdback dir (no leak to a later tenant)") {
    // the delete-side half of the churn contract: when NOBODY serves
    // the stamped destination anymore, the held epochs are the
    // deleted stream's own undelivered data — forfeited, so a later
    // tenant reclaiming the destination can never drain them.
    val root = Files.createTempDirectory("graft-dlf-").toString
    val srcDir = Files.createTempDirectory("graft-dlf-src-").toString
    val src2 = Files.createTempDirectory("graft-dlf-src2-").toString
    val dD = Files.createTempDirectory("graft-dlf-d-").toString + "/d"
    Seq((1L, "e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("fa", "parquet", "parquet", srcDir,
      destinationConnection = dD))
    pm.create(PipelineSpec("fb", "parquet", "parquet", srcDir))
    pm.startGroup("fa", identity).awaitTermination()
    pm.pause("fa"); pm.pause("fb")
    Seq((2L, "e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("fa", identity).awaitTermination()
    pm.delete("fb")
    pm.delete("fa") // last sharer of dD → the dir must die with it
    val hbRoot = new org.apache.hadoop.fs.Path(s"$root/group-holdback")
    val fs = hbRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(hbRoot) || fs.listStatus(hbRoot).isEmpty,
      "a fully-deleted group's holdback must not outlive its specs")
    // a NEW tenant claims dD: nothing of the old stream may drain
    Seq((9L, "t0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(src2)
    pm.create(PipelineSpec("nt", "parquet", "parquet", src2,
      destinationConnection = dD))
    pm.start("nt", identity).awaitTermination()
    assert(spark.read.parquet(dD).as[(Long, String)].collect().toSet ==
      Set((1L, "e0"), (9L, "t0")),
      "the old stream's forfeited epoch must never reach the new tenant")
    pm.close()
  }

  test("leader-first deletion order still forfeits the dead leader's holdback with the last sharer") {
    // the order the o == name check alone would miss: delete the
    // LEADER (dir survives for the sharer), then the last sharer —
    // the dir is stamped by the earlier-deleted leader, but the
    // second delete takes its destination out of service, so the dir
    // must die with it (owner-gone + dest-unserved, not stamp==name).
    val root = Files.createTempDirectory("graft-dlf2-").toString
    val srcDir = Files.createTempDirectory("graft-dlf2-src-").toString
    val src2 = Files.createTempDirectory("graft-dlf2-src2-").toString
    val dD = Files.createTempDirectory("graft-dlf2-d-").toString + "/d"
    Seq((1L, "e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("ga", "parquet", "parquet", srcDir,
      destinationConnection = dD))
    pm.create(PipelineSpec("gb", "parquet", "parquet", srcDir))
    pm.startGroup("ga", identity).awaitTermination()
    pm.pause("ga"); pm.pause("gb")
    Seq((2L, "e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("ga", identity).awaitTermination()
    pm.delete("ga") // leader first: gb still serves dD → dir stays
    pm.delete("gb") // last sharer: dD out of service → dir must die
    val hbRoot = new org.apache.hadoop.fs.Path(s"$root/group-holdback")
    val fs = hbRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(hbRoot) || fs.listStatus(hbRoot).isEmpty,
      "leader-first deletion left the dead leader's holdback behind")
    Seq((9L, "t0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(src2)
    pm.create(PipelineSpec("gt", "parquet", "parquet", src2,
      destinationConnection = dD))
    pm.start("gt", identity).awaitTermination()
    assert(spark.read.parquet(dD).as[(Long, String)].collect().toSet ==
      Set((1L, "e0"), (9L, "t0")),
      "the forfeited epoch must never reach the reclaiming tenant")
    pm.close()
  }

  test("update validates destination conflicts against the DURABLE population, fail-closed on unreadable") {
    // A peer-created pipeline's destination is invisible in this
    // manager's once-loaded map; accepting a re-point onto it would
    // interleave two streams into one sink. And when the spec store
    // cannot be read, the update is REJECTED (retryable) rather than
    // validated against a blind spot.
    val root = Files.createTempDirectory("graft-byot-").toString
    val srcDir = Files.createTempDirectory("graft-byot-src-").toString
    val src2 = Files.createTempDirectory("graft-byot-src2-").toString
    val dA = Files.createTempDirectory("graft-byot-da-").toString + "/d"
    val dP = Files.createTempDirectory("graft-byot-dp-").toString + "/d"
    val dZ = Files.createTempDirectory("graft-byot-dz-").toString + "/d"
    Seq((1L, "v")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    Seq((2L, "w")).toDF("k", "v").write.mode(SaveMode.Append).parquet(src2)
    val m1 = new PipelineManager(spark, root, instance = "m1")
    m1.create(PipelineSpec("bp", "parquet", "parquet", srcDir,
      destinationConnection = dA))
    // peer joins AFTER m1 loaded and claims dP durably
    val m2 = new PipelineManager(spark, root, instance = "m2")
    m2.create(PipelineSpec("peer", "parquet", "parquet", src2,
      destinationConnection = dP))
    assert(m1.get("peer").isEmpty, "test setup: peer must be invisible to m1")
    val e = intercept[IllegalArgumentException] {
      m1.update("bp", PipelineSpec("bp", "parquet", "parquet", srcDir,
        destinationConnection = dP))
    }
    assert(e.getMessage.contains("already in use"), e.getMessage)
    // unreadable store → fail-closed reject, not blind acceptance
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$root/specs/torn.json")
    val out = fs.create(torn, true)
    out.write("{not json".getBytes("UTF-8")); out.close()
    val e2 = intercept[IllegalArgumentException] {
      m1.update("bp", PipelineSpec("bp", "parquet", "parquet", srcDir,
        destinationConnection = dZ))
    }
    assert(e2.getMessage.contains("unreadable"), e2.getMessage)
    // store repaired → the same legitimate update goes through
    fs.delete(torn, false)
    m1.update("bp", PipelineSpec("bp", "parquet", "parquet", srcDir,
      destinationConnection = dZ)): Unit
    assert(m1.get("bp").get.destinationConnection == dZ)
    m1.close(); m2.close()
  }

  test("a torn spec file suspends holdback forfeit instead of enabling it") {
    // the destructive guards' fail-toward-KEEP contract under an
    // unreadable store: delete() must NOT forfeit a holdback dir
    // while any spec file is unreadable (the 'owner gone' and 'dest
    // unserved' answers are unknowable), and must forfeit once the
    // store is readable again.
    val root = Files.createTempDirectory("graft-torn-").toString
    val srcDir = Files.createTempDirectory("graft-torn-src-").toString
    Seq((1L, "e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("ta", "parquet", "parquet", srcDir,
      destinationConnection =
        Files.createTempDirectory("graft-torn-d-").toString + "/d"))
    pm.create(PipelineSpec("tb", "parquet", "parquet", srcDir))
    pm.startGroup("ta", identity).awaitTermination()
    pm.pause("ta"); pm.pause("tb")
    Seq((2L, "e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.startGroup("ta", identity).awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val hbRoot = new org.apache.hadoop.fs.Path(s"$root/group-holdback")
    assert(fs.exists(hbRoot) && fs.listStatus(hbRoot).nonEmpty,
      "holdback setup broken")
    val torn = new org.apache.hadoop.fs.Path(s"$root/specs/torn.json")
    val out = fs.create(torn, true)
    out.write("{not json".getBytes("UTF-8")); out.close()
    pm.delete("tb")
    pm.delete("ta") // last sharer — but the snapshot is unreadable
    assert(fs.exists(hbRoot) && fs.listStatus(hbRoot).nonEmpty,
      "an unreadable spec store must suspend forfeit, never enable it")
    // store readable again: a later delete-time sweep isn't re-run
    // automatically, but the replay guard must STILL refuse to drain
    // the orphan into a reclaiming tenant (owner positively absent +
    // dest unserved is the forfeit key, and nothing serves it here;
    // the dir simply waits for an operator or the next delete at
    // that destination)
    fs.delete(torn, false)
    pm.close()
  }

  test("a crashed owner's reassign request is consumed by a surviving manager with the recorded old destination") {
    // q76's orphan path: the requestor's own map already carries the
    // NEW spec, so only the request's recorded previous destination
    // tells the survivor what state to move — without it the consume
    // would no-op and strand the holdback at the old destination.
    val root = Files.createTempDirectory("graft-orph-").toString
    val srcDir = Files.createTempDirectory("graft-orph-src-").toString
    val dA = Files.createTempDirectory("graft-orph-da-").toString + "/d"
    val dB = Files.createTempDirectory("graft-orph-db-").toString + "/d"
    val dZ = Files.createTempDirectory("graft-orph-dz-").toString + "/d"
    Seq((1L, "e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val mA = new PipelineManager(spark, root, instance = "ownA")
    mA.create(PipelineSpec("oa", "parquet", "parquet", srcDir,
      destinationConnection = dA))
    mA.create(PipelineSpec("ob", "parquet", "parquet", srcDir,
      destinationConnection = dB))
    mA.startGroup("oa", identity).awaitTermination()
    mA.pause("ob")
    Seq((2L, "e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    mA.startGroup("oa", identity).awaitTermination() // ob's e1 held at dB
    val mB = new PipelineManager(spark, root, instance = "reqB")
    mB.update("ob", PipelineSpec("ob", "parquet", "parquet", srcDir,
      destinationConnection = dZ)): Unit
    // A is live → B only requested; nothing moved yet
    assert(mB.consumeReassignRequests() == 0,
      "a live owner's request must not be consumed by the requestor")
    mA.close() // the owner crashes (registration gone, locks orphaned)
    assert(mB.consumeReassignRequests() == 1,
      "the surviving requestor must consume the orphaned request")
    mB.resume("ob", identity).awaitTermination()
    assert(spark.read.parquet(dZ).as[(Long, String)].collect().toSet ==
      Set((2L, "e1")),
      "the orphan consume must restamp the holdback to the new destination")
    assert(spark.read.parquet(dB).count() == 1,
      "the old destination stays frozen")
    mB.close()
  }

  test("the autoHeartbeat tick consumes a peer's reassign request and restarts the query") {
    // q76's runtime half: the gate drives consumeReassignRequests()
    // directly; this pins the TIMER wiring — a live owner with
    // autoHeartbeat picks a cross-manager update up on its own.
    val root = Files.createTempDirectory("graft-q76t-").toString
    val srcDir = Files.createTempDirectory("graft-q76t-src-").toString
    val dx = Files.createTempDirectory("graft-q76t-dx-").toString + "/d"
    val dz = Files.createTempDirectory("graft-q76t-dz-").toString + "/d"
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val lease = 600000L
    val pmA = new PipelineManager(spark, root, instance = "A",
      livenessLeaseMs = lease, autoHeartbeat = true,
      heartbeatIntervalMs = 50L)
    pmA.create(PipelineSpec("xm", "parquet", "parquet", srcDir,
      destinationConnection = dx))
    val q0 = pmA.start("xm", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    // epoch 0 fully committed BEFORE the update: the owner's restart
    // then deterministically resumes at epoch 1 (an uncommitted
    // epoch would legitimately replay into the NEW destination)
    val fsC = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dl0 = System.currentTimeMillis() + 90000L
    while (!fsC.exists(new org.apache.hadoop.fs.Path(s"$root/xm/commits/0")) &&
        System.currentTimeMillis() < dl0) Thread.sleep(20L)
    assert(fsC.exists(new org.apache.hadoop.fs.Path(s"$root/xm/commits/0")))
    val pmB = new PipelineManager(spark, root, instance = "B")
    pmB.update("xm", PipelineSpec("xm", "parquet", "parquet", srcDir,
      destinationConnection = dz)): Unit
    assert(q0.isActive,
      "the non-owner's update must not touch the owner's query")
    val deadline = System.currentTimeMillis() + 90000L
    while ((q0.isActive || !pmA.queryOf("xm").exists(_.isActive)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20L)
    assert(!q0.isActive, "the owner's tick never restarted the query")
    assert(pmA.queryOf("xm").exists(_.isActive))
    assert(pmA.get("xm").get.destinationConnection == dz,
      "the owner must serve the persisted updated spec")
    Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val dl2 = System.currentTimeMillis() + 90000L
    val fsB = new org.apache.hadoop.fs.Path(dz).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    while (!fsB.exists(new org.apache.hadoop.fs.Path(dz)) &&
        System.currentTimeMillis() < dl2) Thread.sleep(20L)
    val dl3 = System.currentTimeMillis() + 90000L
    while (EpochCommit.committedFiles(dz,
        spark.sparkContext.hadoopConfiguration).isEmpty &&
        System.currentTimeMillis() < dl3) Thread.sleep(20L)
    pmA.stop("xm")
    assert(spark.read.parquet(dz).as[(Long, String)].collect().toSet ==
      Set((2L, "v2")), "post-update epochs must reach the new destination")
    pmA.close(); pmB.close()
  }

  test("group-member lifecycle routed cross-manager: pause diverts to holdback, requestResume replays exactly once") {
    // q77's GROUP shape (the gate pins the solo round trip): the
    // member's locks are held by A even BETWEEN availableNow drains,
    // so B's pause/resume must route — and the enactment is what
    // makes A's own batch-admission check see the flip.
    val root = Files.createTempDirectory("graft-xgp-").toString
    val srcDir = Files.createTempDirectory("graft-xgp-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val da = Files.createTempDirectory("graft-xgp-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-xgp-db-").toString + "/d"
    val pmA = new PipelineManager(spark, root, instance = "A")
    pmA.create(PipelineSpec("ga", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pmA.create(PipelineSpec("gb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pmA.startGroup("ga", identity).awaitTermination()
    val pmB = new PipelineManager(spark, root, instance = "B")
    pmB.pause("gb")
    // routed: nothing flips anywhere until the OWNER enacts
    assert(pmA.get("gb").get.status == PipelineStatus.Ready,
      "non-owner pause must not flip the owner's status")
    assert(pmB.consumeLifecycleRequests() == 0,
      "the requestor must refuse to enact while the owner is live")
    assert(pmA.consumeLifecycleRequests() == 1)
    assert(pmA.get("gb").get.status == PipelineStatus.Paused)
    // the enacted flip is what the batch admission reads: gb diverts
    Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pmA.startGroup("ga", identity).awaitTermination()
    assert(spark.read.parquet(da).count() == 2, "sibling delivery stalled")
    assert(spark.read.parquet(db).count() == 1, "paused member kept receiving")
    // the return leg: requestResume routes to A, which replays the
    // held epoch exactly once through its own leader transport
    pmB.requestResume("gb")
    assert(pmA.get("gb").get.status == PipelineStatus.Paused,
      "non-owner requestResume must not flip the owner's status")
    assert(pmA.consumeLifecycleRequests() == 1)
    assert(pmA.get("gb").get.status == PipelineStatus.Ready)
    assert(spark.read.parquet(db).as[(Long, String)].collect().toSet ==
      Set((1L, "v1"), (2L, "v2")), "holdback replay lost or duplicated rows")
    pmB.close(); pmA.close()
  }

  test("lifecycle requests: verbs enact in order, stale requests drop, dead-owner orphans enact anywhere") {
    val root = Files.createTempDirectory("graft-xlc-").toString
    val srcDir = Files.createTempDirectory("graft-xlc-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val d1 = Files.createTempDirectory("graft-xlc-d1-").toString + "/d"
    val d2 = Files.createTempDirectory("graft-xlc-d2-").toString + "/d"
    val lease = 600000L
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val pmA = new PipelineManager(spark, root, instance = "A",
      livenessLeaseMs = lease)
    pmA.create(PipelineSpec("l1", "parquet", "parquet", srcDir,
      destinationConnection = d1))
    pmA.create(PipelineSpec("l2", "parquet", "parquet", freshSrcDir(),
      destinationConnection = d2))
    pmA.start("l1", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    pmA.start("l2", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    assert(pmA.heartbeat(), "A's lease lapsed during setup")
    val pmB = new PipelineManager(spark, root, instance = "B",
      livenessLeaseMs = lease)
    assert(pmB.heartbeat(), "B's lease lapsed during setup")
    // IN-ORDER QUEUE: pause-then-stop are two create-once requests
    // (overwrite semantics would lose a verb written mid-consume);
    // both enact in issue order, finishing Stopped with the lock
    // RELEASED — never a lost stop
    pmB.pause("l1")
    pmB.stop("l1")
    assert(pmA.consumeLifecycleRequests() == 2,
      "both queued verbs must enact, in order")
    assert(pmA.get("l1").get.status == PipelineStatus.Stopped)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/locks/l1.lock")),
      "the enacted stop must release the lock")
    // STALE REQUEST: a verb routed for a spec that is then DELETED
    // durably must drop without enacting — a stale-mapped manager
    // enacting pause would persistSpec() the deleted spec back
    pmB.pause("l2")
    pmA.delete("l2") // owner-side local delete: spec durably gone
    assert(pmB.consumeLifecycleRequests() == 0,
      "a stale request must not enact (resurrecting the deleted spec)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/specs/l2.json")),
      "the dropped request must not have resurrected the spec")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$root/lifecycle-requests")).exists(
        _.getPath.getName.startsWith("l2.")),
      "the stale request must be swept")
    pmB.close(); pmA.close()

    // DEAD-OWNER ORPHAN: the verb outlives the owner — whichever live
    // manager's tick sees it enacts (here: delete, the destructive
    // one, completing against durable state with the owner gone)
    val root2 = Files.createTempDirectory("graft-xlc2-").toString
    val pmC = new PipelineManager(spark, root2, instance = "C",
      livenessLeaseMs = lease)
    pmC.create(PipelineSpec("l3", "parquet", "parquet", srcDir,
      destinationConnection = d1 + "3"))
    pmC.start("l3", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    assert(pmC.heartbeat(), "C's lease lapsed during setup")
    val pmD = new PipelineManager(spark, root2, instance = "D",
      livenessLeaseMs = lease)
    assert(pmD.heartbeat(), "D's lease lapsed during setup")
    pmD.delete("l3")
    assert(pmD.consumeLifecycleRequests() == 0, "C is live and owns l3")
    // C "crashes": demote stops its queries (the lease contract's
    // self-demotion — in production the JVM is simply gone), then age
    // its registration past the lease so peers see it dead
    pmC.demote()
    val fs2 = new org.apache.hadoop.fs.Path(root2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs2.setTimes(new DurableRecords(fs2, root2).instance("C"),
      System.currentTimeMillis() - lease - 1000L, -1)
    assert(pmD.consumeLifecycleRequests() == 1,
      "a dead owner's orphaned verb must enact on a surviving manager")
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(s"$root2/specs/l3.json")),
      "the orphan delete must complete durably")
    pmD.close(); pmC.close()
  }

  test("spec reconciliation: peers discover later-created specs and sweep deleted ones (two-tick grace)") {
    val root = Files.createTempDirectory("graft-xrec-").toString
    val srcDir = Files.createTempDirectory("graft-xrec-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val dest = Files.createTempDirectory("graft-xrec-dest-").toString + "/d"
    val pmB = new PipelineManager(spark, root, instance = "B")
    val pmA = new PipelineManager(spark, root, instance = "A")
    // created AFTER B's constructor load: invisible to B until a
    // reconcile tick — and so unreachable by any verb on B
    pmA.create(PipelineSpec("rc", "parquet", "parquet", srcDir,
      destinationConnection = dest))
    pmA.start("rc", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    assert(pmB.get("rc").isEmpty, "not yet discovered")
    intercept[RuntimeException] { pmB.pause("rc") }
    pmB.reconcileSpecs()
    // a live peer executes it: the durable Ready status is adopted
    // verbatim (truthful — A's query IS running)
    assert(pmB.get("rc").exists(_.status == PipelineStatus.Ready),
      "discovery must adopt a live peer's running spec")
    // ...and the routed verb can now target it end-to-end
    pmB.pause("rc")
    assert(pmA.consumeLifecycleRequests() == 1)
    assert(pmA.get("rc").get.status == PipelineStatus.Paused)
    // owner-side delete, then B's reconcile sweeps the ghost — but
    // only on the SECOND consecutive absent tick (create() registers
    // in-memory before its persist lands; a one-tick sweep could
    // remove a mid-create entry)
    pmA.delete("rc")
    pmB.reconcileSpecs()
    assert(pmB.get("rc").isDefined, "first absent tick must only mark")
    pmB.reconcileSpecs()
    assert(pmB.get("rc").isEmpty, "second absent tick must sweep")
    pmB.close(); pmA.close()
  }

  test("a remembered-run resume that cannot proceed mutates nothing (no Ready-with-no-query)") {
    // the routed resume's enacting body must judge restartability
    // BEFORE any flip/persist/replay: a restarted manager has no
    // remembered group run, and flipping first would persist the
    // exact Ready-with-no-query status lie the routing exists to
    // prevent
    val root = Files.createTempDirectory("graft-xnr-").toString
    val srcDir = Files.createTempDirectory("graft-xnr-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val da = Files.createTempDirectory("graft-xnr-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-xnr-db-").toString + "/d"
    val pm1 = new PipelineManager(spark, root, instance = "A")
    pm1.create(PipelineSpec("na", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pm1.create(PipelineSpec("nb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pm1.startGroup("na", identity).awaitTermination()
    pm1.close() // the owner is gone, and its remembered runs with it
    val pm2 = new PipelineManager(spark, root, instance = "A2")
    assert(pm2.get("na").get.status == PipelineStatus.Stopped)
    intercept[IllegalStateException] { pm2.requestResume("na") }
    assert(pm2.get("na").get.status == PipelineStatus.Stopped,
      "a failed remembered-run resume must not flip the status")
    // the explicit-transform resume still works — it IS the remedy
    pm2.resume("na", identity).awaitTermination()
    assert(pm2.get("na").get.status == PipelineStatus.Ready)
    pm2.close()
  }

  test("two survivors racing a dead owner's orphaned delete enact it idempotently") {
    // the orphan-consume entitlement is deliberately not exclusive
    // (whichever live manager's tick sees it first), so two ticks CAN
    // run the destructive body concurrently — every step must be
    // idempotent: fs deletes, map removals, lock releases. Pin that
    // the race ends in exactly the deleted state with no exception
    // escaping either consumer.
    val root = Files.createTempDirectory("graft-xrace-").toString
    val srcDir = Files.createTempDirectory("graft-xrace-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val dest = Files.createTempDirectory("graft-xrace-dest-").toString + "/d"
    val lease = 600000L
    val pmA = new PipelineManager(spark, root, instance = "A",
      livenessLeaseMs = lease)
    pmA.create(PipelineSpec("rx", "parquet", "parquet", srcDir,
      destinationConnection = dest))
    pmA.start("rx", identity).awaitTermination()
    assert(pmA.heartbeat(), "A's lease lapsed during setup")
    val pmB = new PipelineManager(spark, root, instance = "B",
      livenessLeaseMs = lease)
    val pmC = new PipelineManager(spark, root, instance = "C",
      livenessLeaseMs = lease)
    assert(pmB.heartbeat() && pmC.heartbeat())
    pmB.delete("rx") // routed: A is live and owns the lock
    // A hard-crashes: stop its work, age its registration past the lease
    pmA.demote()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new DurableRecords(fs, root).instance("A"),
      System.currentTimeMillis() - lease - 1000L, -1)
    // both survivors' ticks race the orphan
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val counts = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = Seq(pmB, pmC).map { pm =>
      new Thread(() =>
        try counts.addAndGet(pm.consumeLifecycleRequests()): Unit
        catch { case t: Throwable => errs.add(t): Unit })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(errs.isEmpty, s"a racing consumer threw: ${errs.peek()}")
    assert(counts.get() >= 1, "nobody enacted the orphaned delete")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/specs/rx.json")),
      "the delete must complete durably")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/rx")),
      "the checkpoint must be swept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/lifecycle-requests")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$root/lifecycle-requests")).isEmpty,
      "the request must be consumed")
    pmC.close(); pmB.close(); pmA.close()
  }

  // a distinct source per pipeline keeps l2 out of l1's task group
  // (group membership is keyed on the shared source)
  private def freshSrcDir(): String = {
    val d = Files.createTempDirectory("graft-xlc-src2-").toString
    Seq((9L, "w")).toDF("k", "v").write.mode(SaveMode.Append).parquet(d)
    d
  }

  test("heartbeat timer self-demotes an expired manager: queries stop, locks stay, starts refuse") {
    val root = Files.createTempDirectory("graft-hb-").toString
    val lease = 600000L // expiry is SIMULATED by aging, never slept for
    val pmA = new PipelineManager(spark, root, instance = "A",
      livenessLeaseMs = lease, autoHeartbeat = true, heartbeatIntervalMs = 50L)
    pmA.create(PipelineSpec("hb", "rate", "noop", "ignored"))
    val q = pmA.start("hb", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    assert(q.isActive)
    assert(!pmA.isDemoted, "demoted while the lease was fresh")
    // hard-expire the lease: age the registration past it — the NEXT
    // heartbeat tick must demote this manager on its own
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // re-aged every iteration: a tick's non-atomic check-then-touch
    // can overwrite a single aging write (read fresh, then refresh
    // after the test's setTimes landed) — re-applying converges
    val regA = new DurableRecords(fs, root).instance("A")
    // 90 s: the 50 ms timer normally reacts in well under a second,
    // but this suite runs beside gate batteries on a loaded box and
    // the aging write must land in a tick's check-then-touch gap —
    // a short deadline here has flaked purely on scheduler delay
    val deadline = System.currentTimeMillis() + 90000L
    // the flag flips FIRST (it fences starts during the sweep), so
    // wait for the handle sweep too, not just the flag
    while ((!pmA.isDemoted || pmA.queryOf("hb").nonEmpty) &&
        System.currentTimeMillis() < deadline) {
      fs.setTimes(regA, System.currentTimeMillis() - lease - 60000L, -1)
      Thread.sleep(20L)
    }
    assert(pmA.isDemoted, "heartbeat loop never demoted the expired manager")
    assert(!q.isActive, "demotion left the query running")
    assert(pmA.queryOf("hb").isEmpty)
    assert(pmA.get("hb").get.status == PipelineStatus.Stopped)
    // the lock is NOT released (a reclaimer may own it by now); it is
    // still on disk, and a live peer reclaims it through the lease
    val lockFile = new org.apache.hadoop.fs.Path(s"$root/locks/hb.lock")
    assert(fs.exists(lockFile), "demotion deleted the lock")
    // a demoted manager refuses to start anything
    intercept[IllegalStateException] { pmA.start("hb", identity) }
    intercept[IllegalStateException] { pmA.resume("hb", identity) }
    // ...and the pipeline fails over to a live peer
    val pmB = new PipelineManager(spark, root, instance = "B",
      livenessLeaseMs = lease)
    val q2 = pmB.start("hb", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    assert(q2.isActive, "peer could not reclaim the demoted manager's lock")
    pmB.close()
    pmA.close()
  }

  test("instance registration is exclusive: live same-id rebirth rejected, expired same-id fenced") {
    val root = Files.createTempDirectory("graft-reg-").toString
    val srcDir = Files.createTempDirectory("graft-reg-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    // existence-only mode: a second manager under an occupied id is a
    // config error, not a silent mod-time refresh
    val pm1 = new PipelineManager(spark, root, instance = "dup")
    intercept[IllegalStateException] {
      new PipelineManager(spark, root, instance = "dup")
    }
    pm1.close()
    // an id is one path component of the registration: `a/b` would
    // nest it and `..` would leave the root
    Seq("a/b", "..", ".").foreach { id =>
      intercept[IllegalArgumentException](new PipelineManager(spark, root, instance = id))
    }
    // lease mode: a crashed host restarting under its static name
    // BEFORE the lease ran out is rejected the same way...
    val lease = 600000L
    val pmOld = new PipelineManager(spark, root, instance = "host1",
      livenessLeaseMs = lease)
    pmOld.create(PipelineSpec("rg", "parquet", "parquet", srcDir))
    pmOld.start("rg", identity).awaitTermination()
    intercept[IllegalStateException] {
      new PipelineManager(spark, root, instance = "host1",
        livenessLeaseMs = lease)
    }
    // ...and AFTER expiry the rebirth is fenced: the predecessor's
    // stale locks are reclaimed (not resurrected as live-owned), so
    // the new incarnation starts with no inherited ownership
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new DurableRecords(fs, root).instance("host1"),
      System.currentTimeMillis() - lease - 60000L, -1)
    val reborn = new PipelineManager(spark, root, instance = "host1",
      livenessLeaseMs = lease)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/locks/rg.lock")),
      "fence left the predecessor's stale lock to read as live-owned")
    // the zombie predecessor cannot act: its heartbeat stays false
    // (the fresh registration belongs to the new incarnation)
    assert(reborn.heartbeat(), "reborn instance's lease not confirmable")
    reborn.resume("rg", identity).awaitTermination()
    reborn.close()
    pmOld.close()
  }

  test("startGroup rolls back partially-acquired locks on rejection") {
    val root = Files.createTempDirectory("graft-grplk-").toString
    val srcDir = Files.createTempDirectory("graft-grplk-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val da = Files.createTempDirectory("graft-grplk-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-grplk-db-").toString + "/d"
    val pmA = new PipelineManager(spark, root, instance = "A")
    pmA.create(PipelineSpec("ga", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pmA.create(PipelineSpec("gb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    val pmB = new PipelineManager(spark, root, instance = "B")
    // B owns gb solo; A's group start must fail on gb AND release the
    // ga lock it had just taken — otherwise ga stays locked by a
    // manager that runs no query
    pmB.start("gb", identity).awaitTermination()
    intercept[PipelineLockedException] { pmA.startGroup("ga", identity) }
    pmB.start("ga", identity).awaitTermination()
    assert(pmB.queryOf("ga").isDefined, "A leaked ga's lock on rollback")
    pmB.close(); pmA.close()
  }

  test("every member of a group run reports the shared query's metrics") {
    val root = Files.createTempDirectory("graft-grpm-").toString
    val srcDir = Files.createTempDirectory("graft-grpm-src-").toString
    Seq((1L, "v1"), (2L, "v2")).toDF("k", "value")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val da = Files.createTempDirectory("graft-grpm-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-grpm-db-").toString + "/d"
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("ma", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pm.create(PipelineSpec("mb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pm.startGroup("ma", identity).awaitTermination()
    // progress events reach the listener asynchronously
    def events(m: String) = pm.metrics(m).getOrElse("events", 0L)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (Seq("ma", "mb").exists(events(_) == 0L) && System.nanoTime() < deadline)
      Thread.sleep(50)
    Seq("ma", "mb").foreach(m =>
      assert(events(m) > 0L, s"group member $m reports no events of the shared query"))
    pm.close()
  }

  /** The status `name`'s spec record holds on disk. */
  private def durableStatus(root: String, name: String): PipelineStatus.Value = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new DurableRecords(fs, root).spec(name)
    graft.model.PipelineSpecJson.read(
      new String(Files.readAllBytes(java.nio.file.Paths.get(p.toString)), "UTF-8")).status
  }

  private def lockHeld(root: String, name: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new DurableRecords(fs, root).lock(name))
  }

  private val failingTransform: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame =
    _ => throw new IllegalStateException("transform failed")

  test("a group start whose build fails leaves force-stopped members Stopped and releases the locks it took") {
    val root = Files.createTempDirectory("graft-grpf-").toString
    val srcDir = Files.createTempDirectory("graft-grpf-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val da = Files.createTempDirectory("graft-grpf-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-grpf-db-").toString + "/d"
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("fa", "parquet", "parquet", srcDir,
      destinationConnection = da))
    pm.create(PipelineSpec("fb", "parquet", "parquet", srcDir,
      destinationConnection = db))
    pm.startGroup("fa", identity).awaitTermination()
    pm.stop("fa", force = true)
    val e = intercept[IllegalStateException] { pm.startGroup("fa", failingTransform) }
    assert(e.getMessage == "transform failed")
    Seq("fa", "fb").foreach { m =>
      assert(pm.get(m).get.status == PipelineStatus.Stopped,
        s"$m flipped in memory by a start that never ran")
      assert(durableStatus(root, m) == PipelineStatus.Stopped,
        s"$m persisted by a start that never ran")
      assert(!lockHeld(root, m), s"the failed start kept $m's lock")
      assert(pm.queryOf(m).isEmpty)
    }
    pm.close()
  }

  test("a solo start whose build fails releases only the lock it newly took") {
    val root = Files.createTempDirectory("graft-solof-").toString
    val srcDir = Files.createTempDirectory("graft-solof-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(spark, root)
    pm.create(PipelineSpec("sf", "parquet", "parquet", srcDir))
    intercept[IllegalStateException] { pm.start("sf", failingTransform) }
    assert(!lockHeld(root, "sf"), "the failed start kept the lock it took")
    assert(pm.queryOf("sf").isEmpty)
    // pause keeps the lock: a failed start (or resume) must not drop
    // it, nor flip the pipeline out of Paused
    pm.start("sf", identity).awaitTermination()
    pm.pause("sf")
    intercept[IllegalStateException] { pm.start("sf", failingTransform) }
    intercept[IllegalStateException] { pm.resume("sf", failingTransform) }
    assert(lockHeld(root, "sf"), "a failed start released a lock held before it")
    assert(pm.get("sf").get.status == PipelineStatus.Paused)
    assert(durableStatus(root, "sf") == PipelineStatus.Paused,
      "a failed resume persisted Ready with no query")
    assert(pm.queryOf("sf").isEmpty)
    pm.close()
  }

  test("a demote while the source builds: start and startGroup refuse, stop the query, leave no handle") {
    Seq(false, true).foreach { group =>
      val root = Files.createTempDirectory("graft-demb-").toString
      val srcDir = Files.createTempDirectory("graft-demb-src-").toString
      Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      var pm: PipelineManager = null
      pm = new PipelineManager(spark, root, PipelineHooks(connectors = Map(
        "demoting" -> ((s, spec) => {
          pm.demote()
          s.readStream.schema(schema).parquet(spec.sourceConnection)
        }))))
      val members = if (group) Seq("dx", "dy") else Seq("dx")
      members.foreach(m => pm.create(PipelineSpec(m, "demoting", "parquet", srcDir,
        destinationConnection = Files.createTempDirectory("graft-demb-d-").toString + "/d")))
      val e = intercept[IllegalStateException] {
        if (group) pm.startGroup("dx", identity) else pm.start("dx", identity)
      }
      assert(e.getMessage.contains("demoted"), e.getMessage)
      members.foreach(m => assert(pm.queryOf(m).isEmpty, s"$m kept a handle"))
      assert(!spark.streams.active.exists(q => q.name == "dx" || q.name == "group-dx"),
        "the demoted start left its query running")
      pm.close()
    }
  }

  test("pipeline lock: one owner among live managers, stop releases, close orphans") {
    val root = Files.createTempDirectory("graft-lock-").toString
    val srcDir = Files.createTempDirectory("graft-lock-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)

    val pmA = new PipelineManager(spark, root, instance = "A")
    pmA.create(PipelineSpec("lk", "parquet", "parquet", srcDir))
    val pmB = new PipelineManager(spark, root, instance = "B")
    pmA.start("lk", identity).awaitTermination()

    // B is live but A owns the lock — rejection names the owner and
    // leaves B with no query
    val e = intercept[PipelineLockedException] { pmB.start("lk", identity) }
    assert(e.lockedBy == "A" && pmB.queryOf("lk").isEmpty)

    // pause keeps the assignment (and the lock); stop releases it
    pmA.pause("lk")
    intercept[PipelineLockedException] { pmB.resume("lk", identity) }
    pmA.stop("lk")
    pmB.resume("lk", identity).awaitTermination()

    // ownership flipped: now A is the one locked out
    intercept[PipelineLockedException] { pmA.resume("lk", identity) }

    // B's session ends without releasing — A reclaims the orphan
    pmB.close()
    pmA.resume("lk", identity).awaitTermination()
    pmA.delete("lk")
    pmA.close()
  }

  test("group holdback survives leadership change and owner deletion (never dropped)") {
    val root = Files.createTempDirectory("graft-hbchurn-").toString
    val srcDir = Files.createTempDirectory("graft-hbchurn-src-").toString
    val dest = Files.createTempDirectory("graft-hbchurn-dest-").toString + "/d"
    val pm = new PipelineManager(spark, root)
    def append(e: Long): Unit = PipelineManager.epochAppend(
      (0 until 10).map(i => (e * 100 + i, e)).toDF("id", "ep").coalesce(1),
      srcDir, e, "hcsrc"): Unit
    def destState(): (Long, Set[Long]) = {
      val df = spark.read.parquet(dest)
      (df.count(), df.select($"ep").distinct().as[Long].collect().toSet)
    }
    // b1 owns the destination; b2 dedups onto the same source and
    // INHERITS it (D1) — one dest group with two members
    pm.create(PipelineSpec("b1", "parquet", "parquet", srcDir,
      destinationConnection = dest))
    pm.create(PipelineSpec("b2", "parquet", "parquet", srcDir))
    assert(pm.get("b2").get.destinationConnection == dest)
    append(0)
    pm.startGroup("b1", identity).awaitTermination()
    // every member paused → the next epoch lands in holdback, keyed
    // by the CURRENT leader b1
    pm.pause("b1"); pm.pause("b2")
    append(1)
    pm.startGroup("b1", identity).awaitTermination()
    assert(destState() == (10L, Set(0L)), "held epoch must not deliver")
    // leadership change: an EARLIER-named member dedups in — the
    // b1-keyed holdback dir must still drain on resume
    pm.create(PipelineSpec("a0", "parquet", "parquet", srcDir))
    pm.resume("b2", identity)
    assert(destState() == (20L, Set(0L, 1L)),
      "epoch held under the old leader's dir stranded after leadership moved")
    // hold an epoch under the NEW leader a0, then DELETE a0 — the
    // orphaned dir must still drain through its stamp
    pm.pause("a0"); pm.pause("b1"); pm.pause("b2")
    append(2)
    pm.startGroup("b1", identity).awaitTermination()
    assert(destState() == (20L, Set(0L, 1L)))
    pm.delete("a0")
    pm.resume("b1", identity)
    assert(destState() == (30L, Set(0L, 1L, 2L)),
      "epoch held under a deleted owner's dir was dropped")
    // replay is idempotent across views: a second resume re-drains
    // nothing (the commit markers already exist)
    pm.resume("b2", identity)
    assert(destState() == (30L, Set(0L, 1L, 2L)))
    pm.close()
  }

  test("restart survives an orphan metadata-log temp file (stop racing batch 0)") {
    // Reproduces a battery-caught failure deterministically: a
    // pause/stop that lands while batch 0 is initializing kills the
    // query between CheckpointFileManager's temp-write and rename,
    // stranding `.0.<uuid>.tmp` in offsets/ — and Spark 4's
    // fresh-checkpoint verification then refuses the RESTART with
    // STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY. The start path's
    // sweep removes the uncommitted temp (rename is the commit, so a
    // temp is garbage by construction) and the restart proceeds.
    val root = Files.createTempDirectory("graft-pm-otmp-").toString
    val pm = new PipelineManager(spark, root)
    try {
      val srcDir = Files.createTempDirectory("graft-pm-otmp-src-").toString
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .write.mode(SaveMode.Append).parquet(srcDir)
      val spec = pm.create(PipelineSpec("otmp", "parquet", "parquet", srcDir))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the stop-racing-batch-0 residue, planted exactly as
      // CheckpointFileManager names it
      val off = new org.apache.hadoop.fs.Path(s"$root/otmp/offsets")
      fs.mkdirs(off)
      val tmp = new org.apache.hadoop.fs.Path(off,
        ".0.e69b0ae0-dead-beef-866c-3abbc9a5e0cd.tmp")
      val out = fs.create(tmp, true)
      try out.write("partial".getBytes("UTF-8")) finally out.close()
      pm.start("otmp", identity).awaitTermination()
      assert(!fs.exists(tmp), "the start must sweep the orphan temp")
      assert(spark.read.parquet(spec.destinationConnection).count() == 2,
        "the restart over the swept checkpoint must deliver")
    } finally pm.close()
  }

  test("catalog resume restarts a crashed owner's GROUP from the spec alone") {
    // the group-branch twin of the q81 gate (which pins the solo
    // path): a routed force-resume for a paused GROUP whose owner
    // hard-crashed is enacted by a survivor that never ran the group,
    // materializing the transform from the specs' catalog name and
    // restarting from the shared group checkpoint exactly-once
    val root = Files.createTempDirectory("graft-pm-gcat-").toString
    val srcDir = Files.createTempDirectory("graft-pm-gcat-src-").toString
    val da = Files.createTempDirectory("graft-pm-gcat-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-pm-gcat-db-").toString + "/d"
    val lease = 600000L // expiry SIMULATED by aging, never slept for
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mA = new PipelineManager(spark, root, instance = "gcatA",
      livenessLeaseMs = lease)
    var mBOpt: Option[PipelineManager] = None
    try {
      val md = Map(PipelineManager.TransformKey -> "identity")
      mA.create(PipelineSpec("gca", "parquet", "parquet", srcDir,
        destinationConnection = da, metadata = md))
      mA.create(PipelineSpec("gcb", "parquet", "parquet", srcDir,
        destinationConnection = db, metadata = md))
      PipelineManager.epochAppend(
        Seq((1L, "e0")).toDF("k", "v").coalesce(1), srcDir, 0L, "gcatsrc")
      mA.startGroup("gca", identity).awaitTermination()
      assert(spark.read.parquet(da).count() == 1 &&
        spark.read.parquet(db).count() == 1)
      mA.pause("gca", force = true) // whole group held, locks KEPT
      val mB = new PipelineManager(spark, root, instance = "gcatB",
        livenessLeaseMs = lease)
      mBOpt = Some(mB)
      // routed while the owner lives (locks are A's, A registered)
      mB.requestResume("gca", force = true)
      assert(mB.queryOf("gca") == None && mB.consumeLifecycleRequests() == 0)
      // HARD CRASH: age A's registration one lease past
      fs.setTimes(new DurableRecords(fs, root).instance("gcatA"),
        System.currentTimeMillis() - lease - 60000L, -1)
      assert(!mA.heartbeat())
      PipelineManager.epochAppend(
        Seq((2L, "e1")).toDF("k", "v").coalesce(1), srcDir, 1L, "gcatsrc")
      // the survivor's tick enacts the orphaned force-resume from the
      // CATALOG (no remembered group run on B), reclaiming A's locks
      assert(mB.consumeLifecycleRequests() == 1,
        "survivor did not consume the orphaned group resume")
      mB.queryOf("gca").foreach(_.awaitTermination())
      assert(mB.get("gca").exists(_.status == PipelineStatus.Ready))
      assert(mB.get("gcb").exists(_.status == PipelineStatus.Ready))
      // exactly-once across the crash: epoch 0 not redelivered, the
      // held epoch 1 lands once at BOTH destinations
      assert(spark.read.parquet(da).as[(Long, String)].collect().toSet ==
        Set((1L, "e0"), (2L, "e1")))
      assert(spark.read.parquet(db).as[(Long, String)].collect().toSet ==
        Set((1L, "e0"), (2L, "e1")))
    } finally {
      mBOpt.foreach(m => try m.close() catch { case _: Throwable => () })
      try mA.close() catch { case _: Throwable => () }
    }
  }

  test("transform catalog: spec-named transforms resolve with params; trigger declared in metadata") {
    val root = Files.createTempDirectory("graft-pm-cat-").toString
    val pm = new PipelineManager(spark, root, PipelineHooks(transforms = Map(
      "tagWith" -> (md => df =>
        df.withColumn("tag", lit(md.getOrElse("transform.value", "?")))))))
    try {
      // the catalog name + params + trigger all live in the spec
      val s1 = pm.create(PipelineSpec("ct1", "parquet", "memory", "/src/ct1",
        metadata = Map(PipelineManager.TransformKey -> "tagWith",
          "transform.value" -> "T", PipelineManager.TriggerKey ->
            "processingTime:250")))
      val t = pm.resolveTransform(s1)
      assert(t.isDefined, "catalog name must resolve")
      val out = t.get(Seq((1L, "x")).toDF("k", "v"))
      assert(out.columns.toSeq == Seq("k", "v", "tag"))
      assert(out.select(col("tag")).head().getString(0) == "T",
        "params must ride the spec's metadata into the factory")
      assert(PipelineManager.specTrigger(s1) ==
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      // identity is always available; no declaration resolves nothing
      val s2 = pm.create(PipelineSpec("ct2", "parquet", "memory", "/src/ct2",
        metadata = Map(PipelineManager.TransformKey -> "identity")))
      assert(pm.resolveTransform(s2).isDefined)
      assert(PipelineManager.specTrigger(s2) ==
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val s3 = pm.create(PipelineSpec("ct3", "parquet", "memory", "/src/ct3"))
      assert(pm.resolveTransform(s3).isEmpty,
        "a spec that names nothing must resolve nothing")
      // a name this catalog lacks resolves nothing (the enacting
      // manager drops the routed resume loudly instead of guessing)
      val s4 = pm.create(PipelineSpec("ct4", "parquet", "memory", "/src/ct4",
        metadata = Map(PipelineManager.TransformKey -> "absent")))
      assert(pm.resolveTransform(s4).isEmpty)
      // a trigger typo throws instead of silently one-shotting a
      // standing pipeline
      intercept[IllegalStateException] {
        PipelineManager.specTrigger(s1.copy(metadata =
          Map(PipelineManager.TriggerKey -> "every5s")))
      }
      intercept[IllegalStateException] {
        PipelineManager.specTrigger(s1.copy(metadata =
          Map(PipelineManager.TriggerKey -> "processingTime:5s")))
      }
      // an overflowing (20-digit) value lands in the SAME
      // IllegalStateException the routed-resume consumer drops
      // loudly — a NumberFormatException would retry the doomed
      // request every heartbeat tick forever. (A Unicode-digit value
      // like ١٢ parses: Long.parseLong accepts any Character.digit.)
      intercept[IllegalStateException] {
        PipelineManager.specTrigger(s1.copy(metadata =
          Map(PipelineManager.TriggerKey ->
            "processingTime:99999999999999999999")))
      }
      assert(PipelineManager.specTrigger(s1.copy(metadata =
        Map(PipelineManager.TriggerKey -> "processingTime:١٢"))) ==
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(12L))
      // factories receive ONLY the reserved transform.* slice of the
      // metadata — everything a factory can read is delivery-relevant
      // by construction (q82); free-form keys stay invisible to it
      val s5 = s1.copy(metadata = s1.metadata +
        ("label" -> "cosmetic") - "transform.value")
      val out5 = pm.resolveTransform(s5).get(Seq((1L, "x")).toDF("k", "v"))
      assert(out5.select(col("tag")).head().getString(0) == "?",
        "a free-form key must never reach a catalog factory")
      // the recipe keys are delivery-relevant: changing any of name /
      // params / trigger must reassign a running query; free-form
      // metadata must not
      assert(PipelineManager.isDeliveryRelevantMetadataKey(
        PipelineManager.TransformKey))
      assert(PipelineManager.isDeliveryRelevantMetadataKey(
        PipelineManager.TriggerKey))
      assert(PipelineManager.isDeliveryRelevantMetadataKey("transform.mod"))
      assert(!PipelineManager.isDeliveryRelevantMetadataKey("label"))
    } finally pm.close()
  }

  test("group catalog materialization requires member-recipe agreement: a routed resume of a diverged group drops loudly, mutating nothing") {
    val root = Files.createTempDirectory("graft-pm-gdiv-").toString
    val srcDir = Files.createTempDirectory("graft-pm-gdiv-src-").toString
    val da = Files.createTempDirectory("graft-pm-gdiv-da-").toString + "/d"
    val db = Files.createTempDirectory("graft-pm-gdiv-db-").toString + "/d"
    val lease = 600000L // expiry SIMULATED by aging, never slept for
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val catalog = PipelineHooks(transforms = Map(
      "tagWith" -> (md => df =>
        df.withColumn("tag", lit(md.getOrElse("transform.value", "?"))))))
    val mA = new PipelineManager(spark, root, catalog, instance = "gdivA",
      livenessLeaseMs = lease)
    var mBOpt: Option[PipelineManager] = None
    try {
      // two members, same source (one task group) — but DIVERGENT
      // recipes: one query cannot honestly run both
      mA.create(PipelineSpec("gda", "parquet", "parquet", srcDir,
        destinationConnection = da, metadata = Map(
          PipelineManager.TransformKey -> "tagWith",
          "transform.value" -> "A")))
      mA.create(PipelineSpec("gdb", "parquet", "parquet", srcDir,
        destinationConnection = db, metadata = Map(
          PipelineManager.TransformKey -> "tagWith",
          "transform.value" -> "B")))
      PipelineManager.epochAppend(
        Seq((1L, "e0")).toDF("k", "v").coalesce(1), srcDir, 0L, "gdivsrc")
      mA.startGroup("gda",
        mA.resolveTransform(mA.get("gda").get).get).awaitTermination()
      mA.pause("gda", force = true)
      val mB = new PipelineManager(spark, root, catalog, instance = "gdivB",
        livenessLeaseMs = lease)
      mBOpt = Some(mB)
      mB.requestResume("gda", force = true) // routed: A holds the locks
      fs.setTimes(new DurableRecords(fs, root).instance("gdivA"),
        System.currentTimeMillis() - lease - 60000L, -1)
      assert(!mA.heartbeat())
      // the survivor consumes the orphaned request but must DROP it
      // loudly (catalogGroupRun throws on divergence) — no restart,
      // no status flip: a silent materialization of gda's recipe
      // would run transform A over gdb's checkpointed stream
      assert(mB.consumeLifecycleRequests() == 1,
        "the orphaned request must be consumed (dropped), not retried")
      assert(mB.queryOf("gda").isEmpty && mB.queryOf("gdb").isEmpty,
        "a diverged group must not be restarted from the catalog")
      assert(mB.get("gda").exists(_.status == PipelineStatus.Paused),
        "a dropped resume must mutate nothing")
      // aligning the recipes makes the SAME verb enactable
      val aligned = mB.get("gdb").get
      mB.update("gdb", aligned.copy(metadata = aligned.metadata +
        ("transform.value" -> "A"))): Unit
      mB.requestResume("gda", force = true)
      assert(mB.queryOf("gda").nonEmpty,
        "an aligned group must resume from the catalog")
      mB.queryOf("gda").foreach(_.awaitTermination())
      assert(mB.get("gda").exists(_.status == PipelineStatus.Ready))
      mB.stop("gda", force = true)
    } finally {
      mBOpt.foreach(m => try m.close() catch { case _: Throwable => () })
      try mA.close() catch { case _: Throwable => () }
    }
  }

  test("reconcile's lock snapshot tracks an owner handover: the (mtime,len)-gated cache never pins a stale owner") {
    // The round-20 tick-read bounding caches lock CONTENTS keyed by
    // the locks-dir listing's (mtime, length) stamp. A handover
    // rewrites the lock file (delete + exclusive create), moving the
    // stamp — so a cached owner read on tick T must be replaced on
    // the first tick after the swap, and the liveness-collapse
    // judgment must follow the NEW owner's liveness, not the cached
    // old one's. Locks are aged past AcquireGraceMs so the cached
    // (not the re-read-while-young) path is the one under test.
    val root = Files.createTempDirectory("graft-pm-locksnap-").toString
    val lease = 600000L
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mA = new PipelineManager(spark, root, instance = "lsA",
      livenessLeaseMs = lease)
    val mB = new PipelineManager(spark, root, instance = "lsB",
      livenessLeaseMs = lease)
    val obs = new PipelineManager(spark, root, instance = "lsObs",
      livenessLeaseMs = lease)
    try {
      mA.create(PipelineSpec("lsp", "parquet", "memory", "/src/lsp")): Unit
      // simulate A running lsp: lock content = the instance id framed
      // by the record codec (the acquireLockUnsynced format), spec
      // persisted Ready
      val lockP = new org.apache.hadoop.fs.Path(
        s"$root/locks/${PipelineManager.namespaceOf("lsp")}.lock")
      fs.mkdirs(lockP.getParent)
      val o1 = fs.create(lockP, false)
      try o1.write(DurableRecords.frame(Seq("lsA"))) finally o1.close()
      val mAspec = mA.get("lsp").get
      mA.update("lsp", mAspec.copy(metadata =
        mAspec.metadata + ("note" -> "r"))): Unit // persist a stamp move
      // age the lock past the cache-trust margin, then let the
      // observer cache it over two ticks
      fs.setTimes(lockP, System.currentTimeMillis() - 60000L, -1)
      obs.reconcileSpecs()
      obs.reconcileSpecs()
      assert(obs.get("lsp").exists(_.status == PipelineStatus.Ready),
        "a foreign-Ready pipeline under a LIVE owner's lock must stay Ready")
      // HANDOVER: the lock is rewritten for lsB (same length — the
      // stamp must move via mtime alone), and lsA "crashes" (aged
      // registration). The pipeline must STAY Ready: either the
      // snapshot refreshed to lsB (live), or — belt and braces — the
      // act-time direct-read confirmation vetoes a collapse screened
      // from any stale evidence. Both layers are what this pins.
      fs.delete(lockP, false): Unit
      val o2 = fs.create(lockP, false)
      try o2.write(DurableRecords.frame(Seq("lsB"))) finally o2.close()
      // a DIFFERENT aged mtime than the first write: same content
      // length, so the stamp's mtime component alone must carry the
      // cache invalidation
      fs.setTimes(lockP, System.currentTimeMillis() - 50000L, -1)
      fs.setTimes(new DurableRecords(fs, root).instance("lsA"),
        System.currentTimeMillis() - lease - 60000L, -1)
      obs.reconcileSpecs()
      obs.reconcileSpecs()
      obs.reconcileSpecs()
      assert(obs.get("lsp").exists(_.status == PipelineStatus.Ready),
        "the snapshot cache must follow the handover to the live owner")
      // and when the NEW owner also dies, the collapse fires from the
      // refreshed cache (two-tick grace)
      fs.setTimes(new DurableRecords(fs, root).instance("lsB"),
        System.currentTimeMillis() - lease - 60000L, -1)
      obs.reconcileSpecs()
      obs.reconcileSpecs()
      assert(obs.get("lsp").exists(_.status == PipelineStatus.Stopped),
        "a dead owner's foreign-Ready entry must collapse from the cached snapshot")
    } finally { obs.close(); mB.close(); mA.close() }
  }

  test("persistSpec stamps a monotonic specVersion: equal-length same-granule writes stay visible") {
    val root = Files.createTempDirectory("graft-pm-ver-").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(): (Long, Long) = {
      val st = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$root/specs/vp.json"))
      (st.getModificationTime, st.getLen)
    }
    val pmA = new PipelineManager(spark, root, instance = "verA")
    val pmB = new PipelineManager(spark, root, instance = "verB")
    try {
      pmA.create(PipelineSpec("vp", "parquet", "memory", "/src/vp",
        metadata = Map("flip" -> "aa")))
      val st1 = stamp()
      assert(st1._1 == 1L, s"first persist must stamp version 1: $st1")
      pmB.reconcileSpecs() // observer pins (1, L)
      assert(pmB.get("vp").exists(_.metadata("flip") == "aa"))
      // two EQUAL-LENGTH writes, same wall-clock granule: versions 2,3
      pmA.update("vp", PipelineSpec("vp", "parquet", "memory", "/src/vp",
        metadata = Map("flip" -> "bb")))
      pmA.update("vp", PipelineSpec("vp", "parquet", "memory", "/src/vp",
        metadata = Map("flip" -> "cc")))
      val st3 = stamp()
      assert(st3._1 == 3L && st3._2 == st1._2,
        s"equal-length writes must advance ONLY the version: $st1 -> $st3")
      pmB.reconcileSpecs()
      assert(pmB.get("vp").exists(_.metadata("flip") == "cc"),
        "the observer's single tick must see the second same-length write")
      // a manager that READ version 3 continues the sequence at 4 —
      // never restarts it (pmB adopted the file in its reconcile)
      pmB.pause("vp")
      assert(stamp()._1 == 4L,
        "a reader's next persist must extend the writer's sequence")
      // the stored JSON carries the same counter the stamp shows
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/specs/vp.json"))
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(txt.contains("\"specVersion\":4"), txt)
      // cross-writer: pmA's LOCAL counter still reads 3 (it never saw
      // pmB's pause-write), so a blind mint would re-issue 4 — two
      // equal-length writes under one stamp, the exact blind spot the
      // feature closes intra-writer. The persist maxes against the
      // version already IN the file instead.
      pmA.update("vp", PipelineSpec("vp", "parquet", "memory", "/src/vp",
        metadata = Map("flip" -> "dd")))
      assert(stamp()._1 == 5L,
        "a stale writer must extend the on-disk sequence, not re-mint it")
    } finally { pmB.close(); pmA.close() }
  }

  test("a reconcile tick never puts back a spec read before a local update or delete") {
    val root = Files.createTempDirectory("graft-stale-put-").toString
    // only this manager's rootFs serves spec reads through the hook
    val pm = SpecReadHookFs.manager(spark, root, "S")
    try {
      // update: the tick reads rev 1, then the update to rev 2 lands
      pm.create(PipelineSpec("u", "parquet", "memory", "/src/u",
        metadata = Map("rev" -> "1")))
      SpecReadHookFs.arm("u.json", () => pm.update("u",
        PipelineSpec("u", "parquet", "memory", "/src/u",
          metadata = Map("rev" -> "2"))))
      pm.reconcileSpecs()
      assert(SpecReadHookFs.fired.get, "the tick must have read u's spec")
      assert(pm.get("u").flatMap(_.metadata.get("rev")).contains("2"),
        "the tick restored the spec it read before the update")
      // delete: the tick reads d, then the delete lands
      pm.create(PipelineSpec("d", "parquet", "memory", "/src/d"))
      SpecReadHookFs.arm("d.json", () => pm.delete("d"))
      pm.reconcileSpecs()
      assert(SpecReadHookFs.fired.get, "the tick must have read d's spec")
      assert(pm.get("d").isEmpty && !pm.list(0, 10).exists(_.name == "d"),
        "the tick resurrected a spec deleted after its read")
      pm.reconcileSpecs()
      assert(pm.get("u").flatMap(_.metadata.get("rev")).contains("2"))
      assert(pm.get("d").isEmpty)
    } finally pm.close()
  }

  test("a write that dies mid-record leaves the previous spec and pause set") {
    // the spec and the pause set were truncated in place: a crash
    // mid-write left a torn spec that made every later manager on the
    // root throw at construction, and a torn pause set that loaded as
    // a partial set (delivering rows from paused partitions)
    val root = Files.createTempDirectory("graft-torn-w-").toString
    val srcDir = Files.createTempDirectory("graft-torn-w-src-").toString
    Seq((1L, "p0"), (2L, "p1")).toDF("k", "part")
      .write.mode(SaveMode.Append).parquet(srcDir)
    def spec(rev: String) = PipelineSpec("tw", "parquet", "parquet", srcDir,
      metadata = Map("rev" -> rev))
    SpecReadHookFs.during(spark) {
      val pm = new PipelineManager(spark, root)
      try {
        pm.create(spec("1"))
        pm.pausePartitions("tw", "part", Set("p1"), identity).awaitTermination()
        // each rewrite crashes after a few bytes have landed
        SpecReadHookFs.armCreate("tw.json", 12)
        intercept[java.io.IOException](pm.update("tw", spec("2")))
        assert(SpecReadHookFs.fired.get, "the spec rewrite must have crashed")
        SpecReadHookFs.armCreate("tw.paused", 6)
        intercept[java.io.IOException](
          pm.pausePartitions("tw", "part", Set("p0"), identity))
        assert(SpecReadHookFs.fired.get, "the pause-set rewrite must have crashed")
      } finally pm.close()
    }
    val pm2 = new PipelineManager(spark, root)
    try {
      assert(pm2.get("tw").flatMap(_.metadata.get("rev")).contains("1"),
        "the previous spec must survive a crashed rewrite")
      assert(pm2.paused("tw") == Set("p1"),
        "the previous pause set must survive a crashed rewrite")
    } finally pm2.close()
  }

  test("a reassign request survives a failed spec read and is enacted on the next tick") {
    // the reassign consumer used to delete a pending request whenever
    // the spec read failed, losing the recorded previous destination
    val root = Files.createTempDirectory("graft-rsv-").toString
    val srcDir = Files.createTempDirectory("graft-rsv-src-").toString
    val dA = Files.createTempDirectory("graft-rsv-da-").toString + "/d"
    val dB = Files.createTempDirectory("graft-rsv-db-").toString + "/d"
    val dZ = Files.createTempDirectory("graft-rsv-dz-").toString + "/d"
    Seq((1L, "e0")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val mA = new PipelineManager(spark, root, instance = "rsvA")
    mA.create(PipelineSpec("oa", "parquet", "parquet", srcDir,
      destinationConnection = dA))
    mA.create(PipelineSpec("ob", "parquet", "parquet", srcDir,
      destinationConnection = dB))
    mA.startGroup("oa", identity).awaitTermination()
    mA.pause("ob")
    Seq((2L, "e1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    mA.startGroup("oa", identity).awaitTermination() // ob's e1 held at dB
    val mB = SpecReadHookFs.manager(spark, root, "rsvB")
    try {
      mB.update("ob", PipelineSpec("ob", "parquet", "parquet", srcDir,
        destinationConnection = dZ)): Unit
      mA.close() // the owner is gone: the requestor may consume
      val reqDir = new org.apache.hadoop.fs.Path(s"$root/reassign-requests")
      val fs = reqDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def pending = fs.exists(reqDir) && fs.listStatus(reqDir).nonEmpty
      SpecReadHookFs.arm("ob.json",
        () => throw new java.io.IOException("injected spec read failure"))
      assert(mB.consumeReassignRequests() == 0,
        "nothing may be enacted while the spec is unreadable")
      assert(SpecReadHookFs.fired.get, "the consume must have read ob's spec")
      assert(pending, "a failed spec read must not drop the request")
      assert(mB.consumeReassignRequests() == 1, "the next tick enacts it")
      assert(!pending)
      mB.resume("ob", identity).awaitTermination()
      assert(spark.read.parquet(dZ).as[(Long, String)].collect().toSet ==
        Set((2L, "e1")),
        "the held epoch must follow the recorded old destination's re-point")
    } finally mB.close()
  }

  test("a routed verb on a pipeline whose name holds a newline is enacted, not GC'd as torn") {
    val root = Files.createTempDirectory("graft-nl-").toString
    val name = "n\nl"
    val mA = new PipelineManager(spark, root, instance = "nlA")
    mA.create(PipelineSpec(name, "parquet", "memory", "/src/nl"))
    assert(mA.acquireLock(name)) // mA owns the pipeline's execution
    val mB = new PipelineManager(spark, root, instance = "nlB")
    try {
      mB.pause(name) // routed: a live peer holds the lock
      assert(mA.consumeLifecycleRequests() == 1,
        "the owner must parse and enact the routed pause")
      assert(mA.get(name).exists(_.status == PipelineStatus.Paused))
    } finally { mB.close(); mA.close() }
  }

  test("a spec read racing a replace's rename is never taken for an absent spec") {
    // a replace deletes the spec, then renames its staged .next into
    // place: a reader that misses the spec and then the .next (renamed
    // in between) used to read "absent" — and the request consumer
    // dropped a pending request unenacted
    val root = Files.createTempDirectory("graft-rr-").toString
    val mA = SpecReadHookFs.manager(spark, root, "rrA")
    mA.create(PipelineSpec("rr", "parquet", "memory", "/src/rr"))
    assert(mA.acquireLock("rr")) // mA owns the pipeline's execution
    val mB = new PipelineManager(spark, root, instance = "rrB")
    try {
      mB.pause("rr") // routed: a live peer holds the lock
      // the replace window: the spec deleted, its successor staged
      val p = new org.apache.hadoop.fs.Path(s"$root/specs/rr.json")
      val next = new org.apache.hadoop.fs.Path(s"$root/specs/rr.json.next")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(p, next))
      // the rename lands right after the reader misses the spec
      SpecReadHookFs.arm("rr.json", () => assert(fs.rename(next, p)))
      assert(mA.consumeLifecycleRequests() == 1,
        "the request must be enacted, not dropped as for a deleted spec")
      assert(SpecReadHookFs.fired.get, "the consume must have read rr's spec")
      assert(mA.get("rr").exists(_.status == PipelineStatus.Paused))
    } finally { mB.close(); mA.close() }
  }

  test("a pipeline restarted in the same session runs its tasks under its first run's classloader: no recompile") {
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-warm-src-").toString
    Seq((1L, "v1"), (2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    pm.create(PipelineSpec("warm", "parquet", "parquet", srcDir))
    val probe = udf((k: Long) => TaskLoaderProbe.record(k))
    val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.withColumn("k", probe(col("k")))
    def run(start: => org.apache.spark.sql.streaming.StreamingQuery) = {
      TaskLoaderProbe.clear()
      start.awaitTermination()
      TaskLoaderProbe.seen
    }
    try {
      val first = run(pm.start("warm", transform))
      pm.pause("warm")
      Seq((3L, "v3")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val restarted = run(pm.resume("warm", transform))
      val compiles =
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      assert(first.size == 1 && restarted.size == 1, s"tasks ran under $first, then $restarted")
      // CodeGenerator caches compiled classes per task classloader: the
      // same loader is what lets the restart reuse the first run's classes
      assert(restarted.head eq first.head, s"the restart's first epoch ran its tasks under " +
        s"${restarted.head}, not the first run's ${first.head}: its generated classes were " +
        s"compiled again ($compiles codegen compiles)")
      assert(!spark.conf.getAll.contains("spark.sql.artifact.isolation.enabled"),
        "the start's isolation pin must not stay in the caller's session")
    } finally pm.close()
  }

  test("stop/start cycles of a parquet pipeline do not grow the driver's broadcast blocks") {
    // the epoch writer destroys its conf broadcast after each write;
    // the other broadcasts of a run (task binaries, the source scan's
    // conf) are freed by the context cleaner once garbage
    val pm = newManager()
    val srcDir = Files.createTempDirectory("graft-bc-src-").toString
    pm.create(PipelineSpec("bc", "parquet", "parquet", srcDir))
    /** The broadcast count once the cleaner has freed what is garbage:
      * three equal readings in a row, a gc before each. */
    def settled(): Int = {
      var readings = List.empty[Int]
      while (readings.size < 3 || readings.take(3).distinct.size > 1) {
        System.gc()
        Thread.sleep(150)
        readings = org.apache.spark.GraftTestAccess.broadcastIds(spark.sparkContext).size :: readings
        assert(readings.size < 100, s"broadcast count never settled: $readings")
      }
      readings.head
    }
    try {
      val counts = (1 to 5).map { cycle =>
        Seq((cycle.toLong, s"v$cycle")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
        val q = if (cycle == 1) pm.start("bc", identity) else pm.resume("bc", identity)
        q.awaitTermination()
        pm.pause("bc")
        settled()
      }
      assert(spark.read.parquet(pm.get("bc").get.destinationConnection).count() == 5)
      assert(counts.tail.forall(_ <= counts.head),
        s"broadcast blocks after each of 5 stop/start cycles: ${counts.mkString(", ")}")
    } finally pm.close()
  }

  test("a session holding an added jar keeps artifact isolation: its stream's tasks load the jar's class") {
    val dir = Files.createTempDirectory("graft-artifact-")
    val src = dir.resolve("GraftArtifactProbe.java")
    Files.writeString(src,
      "public class GraftArtifactProbe { public static String tag() { return \"from-jar\"; } }")
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, "-d", dir.toString, src.toString) == 0)
    val jar = dir.resolve("probe.jar")
    val out = new java.util.jar.JarOutputStream(Files.newOutputStream(jar))
    try {
      out.putNextEntry(new java.util.jar.JarEntry("GraftArtifactProbe.class"))
      out.write(Files.readAllBytes(dir.resolve("GraftArtifactProbe.class")))
      out.closeEntry()
    } finally out.close()

    val s2 = spark.newSession()
    s2.addArtifact(jar.toString)
    val srcDir = Files.createTempDirectory("graft-artifact-src-").toString
    s2.range(3).toDF("k").write.mode(SaveMode.Append).parquet(srcDir)
    val pm = new PipelineManager(s2, Files.createTempDirectory("graft-pm-").toString)
    val viaJar = udf { (k: Long) =>
      TaskLoaderProbe.record(k)
      Class.forName("GraftArtifactProbe", true, Thread.currentThread.getContextClassLoader)
        .getMethod("tag").invoke(null).toString + k
    }
    try {
      val spec = pm.create(PipelineSpec("art", "parquet", "parquet", srcDir))
      TaskLoaderProbe.clear()
      pm.start("art", _.withColumn("tag", viaJar(col("k")))).awaitTermination()
      val streamLoaders = TaskLoaderProbe.seen
      assert(s2.read.parquet(spec.destinationConnection).select("tag").as[String]
        .collect().sorted.toSeq == Seq("from-jar0", "from-jar1", "from-jar2"))
      assert(!s2.conf.getAll.contains("spark.sql.artifact.isolation.enabled"))
      // the stream kept isolation: its tasks did not run under the
      // application's classloader, which sessions without isolation share
      val shared = spark.newSession()
      shared.conf.set("spark.sql.artifact.isolation.enabled", "false")
      TaskLoaderProbe.clear()
      shared.range(1).select(udf((k: Long) => TaskLoaderProbe.record(k)).apply(col("id"))).collect()
      val appLoader = TaskLoaderProbe.seen
      assert(appLoader.size == 1 && streamLoaders.nonEmpty)
      assert(!streamLoaders.exists(_ eq appLoader.head),
        s"the stream ran its tasks under the application's classloader ${appLoader.head}")
    } finally pm.close()
  }

  /** `dir`'s schema as the parquet connector reads it, as Spark's
    * inference reads it, and the Spark jobs the connector's read ran. */
  private def schemas(dir: String) = {
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    val tag = s"schema-${System.nanoTime}"
    val viaFooter = inGroup(s"$tag-footer")(PipelineManager.parquetSchema(spark, dir))
    val viaSpark = inGroup(s"$tag-spark")(spark.read.parquet(dir).schema)
    // job events arrive in order: once the inference job shows, any job
    // of the footer read would have shown too
    val deadline = System.currentTimeMillis() + 30000L
    while (sc.statusTracker.getJobIdsForGroup(s"$tag-spark").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$tag-spark").nonEmpty)
    (viaFooter, viaSpark, sc.statusTracker.getJobIdsForGroup(s"$tag-footer").length)
  }

  test("the parquet connector's schema of parquet-hadoop files without a Spark footer key equals Spark's inference, with no job") {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message feed {
        |  required binary topic (STRING);
        |  required int32 partition;
        |  required int64 offset;
        |  optional binary name (STRING);
        |  optional int32 shard;
        |  optional int64 updated;
        |  required binary value;
        |}""".stripMargin)
    val dir = Files.createTempDirectory("graft-feed-")
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("b.parquet", "a.parquet").foreach { name =>
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(name).toString), conf)).withType(schema).build()
      try {
        val g = new SimpleGroup(schema)
        g.add("topic", "t"); g.add("partition", 1); g.add("offset", 2L)
        g.add("value", org.apache.parquet.io.api.Binary.fromString("x"))
        w.write(g)
      } finally w.close()
    }
    val (viaFooter, viaSpark, footerJobs) = schemas(dir.toString)
    assert(viaFooter == viaSpark)
    assert(viaSpark.fields.map(_.dataType.typeName).toSeq ==
      Seq("string", "integer", "long", "string", "integer", "long", "binary"))
    assert(footerJobs == 0, "the footer read must run no Spark job")
  }

  test("the parquet connector's schema of Spark-written decimal, timestamp and metadata columns equals Spark's inference") {
    val dir = Files.createTempDirectory("graft-typed-").toString
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("comment", "kept").build()
    spark.range(3).select(
      col("id").as("tagged", meta),
      (col("id") / 3).cast("decimal(12,4)").as("d"),
      (col("id") * 1000000L).cast("decimal(30,2)").as("wide"),
      timestamp_seconds(col("id")).as("ts"),
      timestamp_seconds(col("id")).cast("timestamp_ntz").as("ntz"),
      lit(1).as("required_int"),
      struct(col("id").as("inner")).as("nested"),
      array(col("id")).as("arr"))
      .write.mode(SaveMode.Append).parquet(dir)
    val (viaFooter, viaSpark, footerJobs) = schemas(dir)
    assert(viaFooter == viaSpark)
    assert(viaSpark("tagged").metadata == meta && viaSpark("required_int").nullable)
    assert(footerJobs == 0, "the footer read must run no Spark job")
  }

  test("the parquet connector's schema of an empty source directory fails with Spark's error") {
    val dir = Files.createTempDirectory("graft-empty-").toString
    val viaSpark = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(dir).schema)
    val viaFooter = intercept[org.apache.spark.sql.AnalysisException](
      PipelineManager.parquetSchema(spark, dir))
    assert(viaFooter.getMessage == viaSpark.getMessage)
    assert(viaFooter.getCondition == viaSpark.getCondition)
  }

  test("the parquet connector keeps the partition columns of a partitioned source directory") {
    val dir = Files.createTempDirectory("graft-parted-").toString
    spark.range(4).select(col("id"), (col("id") % 2).as("p"), lit("x").as("q"))
      .write.mode(SaveMode.Overwrite).partitionBy("p", "q").parquet(dir)
    val viaFooter = PipelineManager.parquetSchema(spark, dir)
    assert(viaFooter == spark.read.parquet(dir).schema)
    assert(viaFooter.fieldNames.toSeq == Seq("id", "p", "q"))
  }
}

/** The context classloaders executor tasks ran under, recorded by a
  * UDF: the key CodeGenerator caches compiled classes by. */
object TaskLoaderProbe {
  private val loaders = java.util.concurrent.ConcurrentHashMap.newKeySet[ClassLoader]()
  def record(k: Long): Long = { loaders.add(Thread.currentThread.getContextClassLoader); k }
  def clear(): Unit = loaders.clear()
  def seen: Seq[ClassLoader] = loaders.toArray(Array.empty[ClassLoader]).toSeq
}

/** The library's local filesystem with hooks, for crash and race
  * tests. [[SpecReadHookFs.arm]] runs a hook right after a file has
  * been read and before the reader gets its bytes: it forces a write
  * to land between a reconcile tick's read and its put, or (a
  * throwing hook) fails the open. On a file that does not exist, the
  * hook runs between the miss and the reader seeing it.
  * [[SpecReadHookFs.armCreate]] makes the next create of a file whose
  * name starts with the armed prefix fail after that many bytes — the
  * bytes written so far land, as in a writer crashing mid-write.
  * [[SpecReadHookFs.failAt]] fails the Nth call of a named op before
  * it runs, as in a process killed at that call, and
  * [[SpecReadHookFs.census]] counts calls per op. Both see only
  * OUTERMOST calls (a glob's inner listings are part of the glob) and
  * name a call by its path — a rename by its destination. */
final class SpecReadHookFs
    extends org.apache.hadoop.fs.LocalFileSystem(new graft.fs.NioRawLocalFileSystem) {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import SpecReadHookFs.call

  override def open(f: Path, bufferSize: Int): FSDataInputStream = call("open", f) {
    SpecReadHookFs.take(f.getName) match {
      case None => super.open(f, bufferSize)
      case Some(hook) if !pathToFile(f).exists() =>
        hook()
        throw new java.io.FileNotFoundException(s"File $f does not exist")
      case Some(hook) =>
        val copy = new Path(f.getParent.getParent, s"read-of-${f.getName}")
        Files.copy(pathToFile(f).toPath, pathToFile(copy).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        hook()
        super.open(copy, bufferSize)
    }
  }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : FSDataOutputStream = call("create", f) {
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    SpecReadHookFs.takeCreate(f.getName) match {
      case None => out
      case Some(n) =>
        new FSDataOutputStream(new java.io.OutputStream {
          private var left = n
          override def write(b: Int): Unit = {
            if (left == 0) throw new java.io.IOException(s"injected crash writing $f")
            out.write(b)
            left -= 1
          }
          override def close(): Unit = out.close()
        }, null)
    }
  }

  override def rename(src: Path, dst: Path): Boolean =
    call("rename", dst)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    call("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = call("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    call("mkdirs", f)(super.mkdirs(f, permission))
  override def exists(f: Path): Boolean = call("exists", f)(super.exists(f))
  override def getFileStatus(f: Path): FileStatus =
    call("getFileStatus", f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    call("listStatus", f)(super.listStatus(f))
  override def globStatus(f: Path): Array[FileStatus] =
    call("globStatus", f)(super.globStatus(f))
}

object SpecReadHookFs {
  private val armed =
    new java.util.concurrent.atomic.AtomicReference[(String, () => Unit)]
  private val armedCreate =
    new java.util.concurrent.atomic.AtomicReference[(String, Int)]
  val fired = new java.util.concurrent.atomic.AtomicBoolean
  def arm(file: String, hook: () => Unit): Unit = {
    fired.set(false)
    armed.set((file, hook))
  }
  def armCreate(prefix: String, bytes: Int): Unit = {
    fired.set(false)
    armedCreate.set((prefix, bytes))
  }
  private def take(file: String): Option[() => Unit] = {
    val a = armed.get
    if (a != null && a._1 == file && armed.compareAndSet(a, null)) {
      fired.set(true)
      Some(a._2)
    } else None
  }
  private def takeCreate(file: String): Option[Int] = {
    val a = armedCreate.get
    if (a != null && file.startsWith(a._1) && armedCreate.compareAndSet(a, null)) {
      fired.set(true)
      Some(a._2)
    } else None
  }

  /** A call the hooks saw: its op and its path, qualified. */
  final case class Call(op: String, path: String)

  /** Fails the `n`-th (1-based) outermost driver-side call of `op`
    * whose path satisfies `where` by throwing before the call runs;
    * [[fired]] then turns true. One shot: the calls after it run. */
  private final class Fault(val op: String, val where: String => Boolean, n: Int) {
    private val seen = new java.util.concurrent.atomic.AtomicInteger
    def hits(c: Call): Boolean = c.op == op && where(c.path) && seen.incrementAndGet() == n
  }
  private val fault = new java.util.concurrent.atomic.AtomicReference[Fault]
  def failAt(op: String, n: Int, where: String => Boolean): Unit = {
    fired.set(false)
    fault.set(new Fault(op, where, n))
  }
  def disarm(): Unit = fault.set(null)

  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val recorders =
    new java.util.concurrent.CopyOnWriteArrayList[Call => Unit]

  /** Runs `body` as an outermost call when no hooked call encloses it. */
  private def call[T](op: String, p: org.apache.hadoop.fs.Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) {
      val c = Call(op, p.toUri.getPath)
      recorders.forEach(_(c))
      val f = fault.get
      if (f != null && !isExecutorThread && f.hits(c) && fault.compareAndSet(f, null)) {
        fired.set(true)
        throw new java.io.IOException(s"injected crash at $op $p")
      }
    }
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  private def isExecutorThread: Boolean =
    Thread.currentThread.getName.startsWith("Executor task launch worker")

  /** The outermost driver-side calls `body` makes whose path satisfies
    * `where`, in order (executor tasks' calls are left out). */
  def record(where: String => Boolean)(body: => Unit): Seq[Call] = {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]
    val rec: Call => Unit = c => if (!isExecutorThread && where(c.path)) calls.add(c): Unit
    recorders.add(rec)
    try body finally recorders.remove(rec)
    calls.toArray(Array.empty[Call]).toSeq
  }

  /** [[record]], counted per op. */
  def census(where: String => Boolean)(body: => Unit): Map[String, Int] =
    record(where)(body).groupBy(_.op).view.mapValues(_.size).toMap

  /** Run `body` with every `file:` filesystem the session creates
    * being a fresh [[SpecReadHookFs]]. */
  def during[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[SpecReadHookFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** A manager whose root filesystem is a [[SpecReadHookFs]] (the
    * other managers and the test's own reads keep the plain one). */
  def manager(spark: org.apache.spark.sql.SparkSession, root: String,
      instance: String): PipelineManager =
    during(spark)(new PipelineManager(spark, root, instance = instance))
}

package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

/**
 * Pins the Trigger.AvailableNow no-data micro-batch contract the s10
 * oracle depends on. Under the default
 * spark.sql.streaming.noDataMicroBatches.enabled=true, each run ends
 * with a trailing no-data batch that (a) persists the watermark
 * advanced by that run's own data and (b) sweeps outer-join state with
 * it — so an unmatched click whose eviction point falls under the
 * final watermark IS emitted as a null row at the end of the last run.
 * With the flag off, neither happens: the watermark lags a full batch
 * and the trailing null row never appears.
 *
 * The synthetic case makes the distinction observable: click c100
 * (eviction point 11:00) survives every in-batch sweep (planned
 * watermark 09:30) but is evicted by the final trailing sweep
 * (watermark 12:30). If a Spark upgrade changes either schedule, one
 * of these tests fails loudly — update the s10 oracle alongside.
 */
class NoDataBatchContractSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  // Batch 0 establishes watermark 10:00 - 30m = 09:30 for batch 1.
  private val batch0 = Seq(
    (1L, 100L, "click", ts("2026-01-01 10:00:00")),     // never matched
    (3L, 300L, "click", ts("2026-01-01 10:00:00")),     // matched in batch 1
    (99L, 900L, "purchase", ts("2026-01-01 10:00:00"))) // watermark anchor
  // Batch 1 is planned under watermark 09:30; its own data advances the
  // final watermark to 13:00 - 30m = 12:30 > c100's eviction point 11:00.
  private val batch1 = Seq(
    (2L, 200L, "click", ts("2026-01-01 13:00:00")),
    (3L, 301L, "purchase", ts("2026-01-01 10:30:00")),  // matches click 300
    (98L, 901L, "purchase", ts("2026-01-01 13:00:00"))) // advances watermark

  /** Run the two-file outer-join harness (one AvailableNow run per
    * file over a shared checkpoint — the s10 shape) and return the
    * emitted rows. */
  private def runHarness(noDataBatches: Boolean): Set[(Long, Long, Option[Long])] = {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-ndb-src-").toString
    val ckpt = Files.createTempDirectory("graft-ndb-ckpt-").toString
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    // set-before only: a key found unset is unset again, never left
    // set to its default for the rest of the battery
    val ndbBefore = spark.conf.getAll.get(key)
    spark.conf.set(key, noDataBatches.toString)

    val schema = batch0.toDF("user_id", "event_id", "event_type", "ts").schema
    val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])]()

    def runBatch(rows: Seq[(Long, Long, String, Timestamp)]): Unit = {
      rows.toDF("user_id", "event_id", "event_type", "ts")
        .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val got = batch.as[(Long, Long, Option[Long])].collect()
          sink.synchronized { sink ++= got }
          ()
        }
        .start()
      q.awaitTermination()
    }

    try {
      runBatch(batch0)
      runBatch(batch1)
    } finally ndbBefore.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    sink.synchronized(sink.toSet)
  }

  test("default schedule: trailing no-data batch sweeps state and " +
      "emits the final-watermark null row") {
    val out = runHarness(noDataBatches = true)
    assert(out === Set((3L, 300L, Some(301L)), (1L, 100L, None)),
      "the AvailableNow trailing-sweep schedule changed — the s10 " +
        "oracle's final-watermark null-emission rule no longer holds " +
        "on this Spark")
  }

  test("noDataMicroBatches off: watermark lags a batch and no trailing " +
      "null row is emitted") {
    val out = runHarness(noDataBatches = false)
    assert(out === Set((3L, 300L, Some(301L))),
      "flag-off AvailableNow behavior changed — revisit the s10 " +
        "oracle's watermark-persistence model")
  }

  // Node-reset rule: per-watermark-node maxima do NOT survive an
  // AvailableNow restart — only the global watermark is restored. So
  // a restarted run's watermark is max(restored, min over sides of
  // that run's OWN maxima - delay), a running max of PER-RUN minima.
  // run 0: click max 11:00, purchase max 18:00 → wm = 10:30.
  // run 1: click max 18:00, purchase max 12:00 → per-run min = 11:30
  //   (> restored 10:30 → sweep at 11:30). The CUMULATIVE-maxima
  //   model would put run 1's watermark at min(18:00, 18:00) - 30m =
  //   17:30 and also emit click B (eviction point 12:00) — observing
  //   B's absence distinguishes the models.
  test("restart resets per-node watermark maxima: sweep uses per-run minima") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-nr-src-").toString
    val ckpt = Files.createTempDirectory("graft-nr-ckpt-").toString
    val schema = batch0.toDF("user_id", "event_id", "event_type", "ts").schema
    val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])]()

    def runBatch(rows: Seq[(Long, Long, String, Timestamp)]): Unit = {
      rows.toDF("user_id", "event_id", "event_type", "ts")
        .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val got = batch.as[(Long, Long, Option[Long])].collect()
          sink.synchronized { sink ++= got }
          ()
        }
        .start()
      q.awaitTermination()
    }

    runBatch(Seq(
      (1L, 100L, "click", ts("2026-01-01 10:00:00")),      // A: evict 11:00
      (2L, 200L, "click", ts("2026-01-01 11:00:00")),      // B: evict 12:00
      (99L, 900L, "purchase", ts("2026-01-01 18:00:00")))) // purchase node anchor
    runBatch(Seq(
      (98L, 201L, "click", ts("2026-01-01 18:00:00")),
      (97L, 901L, "purchase", ts("2026-01-01 12:00:00"))))
    val out = sink.synchronized(sink.toSet)
    assert(out.contains((1L, 100L, None)),
      "click A (eviction 11:00 < run-1 watermark 11:30) must emit its null row")
    assert(!out.exists(_._2 == 200L),
      "click B must NOT emit: run-1 watermark is 11:30 (per-run minima, " +
        "nodes reset on restart) — if this fails with B present, Spark " +
        "began restoring per-node maxima; update the s10 oracle's wme model")
  }
}

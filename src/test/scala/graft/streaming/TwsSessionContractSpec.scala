package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}

import graft.SparkTestBase

/**
 * Pins the event-time timer contract the s13 gate (and its oracle)
 * depend on, with hand-picked timestamps:
 *
 *  1. a timer fires in the run whose watermark passes `last + gap`,
 *     emitting the session and clearing state;
 *  2. new data for a key re-arms its timer (the fire moves out);
 *  3. a key whose expiry stays above the final watermark never emits;
 *  4. state survives the checkpointed restart between runs.
 *
 * If a Spark upgrade changes when expired timers are evaluated (data
 * batch vs trailing no-data batch, < vs <=), this fails loudly before
 * the correctness gate does.
 */
class TwsSessionContractSpec extends SparkTestBase {
  import spark.implicits._

  test("timers fire on watermark passage, re-arm on data, clear on fire") {
    val srcDir = Files.createTempDirectory("tws-sess-src-").toString
    val ckpt = Files.createTempDirectory("tws-sess-ckpt-").toString
    val outDir = Files.createTempDirectory("tws-sess-out-").toString
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val provBefore = spark.conf.getAll.get(provKey) // unset again if unset
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val gapMs = 100000L // 100 s of event-time silence

    def run(rows: Seq[(Long, Long)]): Unit = { // (user_id, ts_ms)
      rows.toDF("user_id", "ms")
        .select(col("user_id"), timestamp_millis(col("ms")).as("ts"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      val closed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .withWatermark("ts", "0 seconds")
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(new TwsSessionProcessor(gapMs),
          TimeMode.EventTime(), OutputMode.Update())
      val q = closed.toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          PipelineManager.epochAppend(batch, outDir, epoch, "tws-sess"): Unit
        }.start()
      q.awaitTermination()
    }

    try {
      // run 1: user 1 quiet since 2s, wm driven to 500s by user 2
      //   → user 1 fires (2 events, last 2000); user 2 pending.
      run(Seq((1L, 1000L), (1L, 2000L), (2L, 500000L)))
      val after1 = spark.read.parquet(outDir)
        .as[(Long, Long, Long)].collect().toSet
      assert(after1 == Set((1L, 2L, 2000L)),
        s"run-1 watermark must close only user 1's session, got $after1")

      // run 2: user 1 returns (NEW session — state was cleared), user 3
      // pushes wm to 1000s → user 2's pending timer (600s) fires with
      // the state that survived the restart; users 1/3 stay pending
      // (expiry 700s/1100s > wm is false for 700s! wm=1000s passes it).
      // user 1's new session fires too: last=600s, expiry 700s <= 1000s.
      run(Seq((1L, 600000L), (3L, 1000000L)))
      val after2 = spark.read.parquet(outDir)
        .as[(Long, Long, Long)].collect().toSet
      assert(after2 == Set((1L, 2L, 2000L), (2L, 1L, 500000L),
        (1L, 1L, 600000L)),
        s"run-2 must fire user 2's survived timer and user 1's re-armed one, got $after2")
      // user 3 (expiry 1100s > wm 1000s) never fired — state is alive,
      // not emitted: condition 3.
      assert(!after2.exists(_._1 == 3L))
    } finally provBefore.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }

  test("a timer fires when the watermark exactly EQUALS its expiry") {
    val srcDir = Files.createTempDirectory("tws-eq-src-").toString
    val ckpt = Files.createTempDirectory("tws-eq-ckpt-").toString
    val outDir = Files.createTempDirectory("tws-eq-out-").toString
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val provBefore = spark.conf.getAll.get(provKey) // unset again if unset
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val gapMs = 100000L

    def run(rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("user_id", "ms")
        .select(col("user_id"), timestamp_millis(col("ms")).as("ts"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      val closed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .withWatermark("ts", "0 seconds")
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(new TwsSessionProcessor(gapMs),
          TimeMode.EventTime(), OutputMode.Update())
      val q = closed.toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          PipelineManager.epochAppend(batch, outDir, epoch, "tws-eq"): Unit
        }.start()
      q.awaitTermination()
    }

    try {
      // user 1 at t=1000ms → timer expiry 101000ms; user 2's event at
      // EXACTLY 101000ms pushes the watermark to precisely the expiry.
      run(Seq((1L, 1000L), (2L, 101000L)))
      val out = spark.read.parquet(outDir)
        .as[(Long, Long, Long)].collect().toSet
      // Pins the s13 oracle's `wm >= expiry` fire rule: equality fires.
      // If this fails, Spark switched to a strict comparison — change
      // the oracle's `g >= m + G` conditions to `>`.
      assert(out == Set((1L, 1L, 1000L)),
        s"watermark == expiry must fire the timer, got $out")
    } finally provBefore.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }
}

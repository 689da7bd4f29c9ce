package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.text.Text

/** The full-vocabulary incremental lexical index: serve equals the
  * batch closed form over every ingested prefix, compaction keeps the
  * file count flat without changing results, and every crash window
  * of the compaction protocol re-opens exactly once-committed. */
class IncrementalLexIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def docs: DataFrame =
    spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))

  /** Terms deliberately NOT special-cased anywhere at ingest. */
  private val qTerms = Seq("table", "stream", "window", "sort")

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def serveRows(ilx: IncrementalLexIndex): Seq[(Long, Long, Double)] =
    ilx.serve(qTerms, 5).as[(Long, Long, Double)].collect().toSeq

  private def oracleRows(prefix: DataFrame): Seq[(Long, Long, Double)] =
    Text.bm25TopK(prefix, qTerms, 5).as[(Long, Long, Double)].collect().toSeq

  test("serve matches the batch closed form on every prefix; compaction keeps files flat") {
    val dir = tmp("ilx-")
    val ilx = new IncrementalLexIndex(spark, dir, name = "t",
      compactEvery = 2)
    val fileCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until 6).foreach { e =>
      ilx.appendEpoch(docs.filter(pmod(col("doc_id"), lit(6L)) === e), e)
      fileCounts += ilx.postingsFileCount()
      assert(serveRows(ilx) ==
        oracleRows(docs.filter(pmod(col("doc_id"), lit(6L)) <= e)),
        s"epoch $e serve diverged from the batch closed form")
    }
    // compaction ran after epochs 1, 3, 5: at each of those points
    // the store must sit at its TIERED floor — at most one file per
    // term-hash bucket PER LIVE RUN (one level-1 run per tick until
    // tierFanIn fills a level), never the accumulated raw epochs'
    // worth. The bound in epoch count is tierFanIn·levels runs, not
    // one — that is the price of O(N·levels) instead of O(N²) total
    // rewrite bytes (StoreFuzzSpec, and the deleted StreamScaleProbe
    // at commit 4d47ea1, carry the long-horizon flatness/write-cost
    // evidence).
    for ((e, liveRuns) <- Seq(1 -> 1, 3 -> 2, 5 -> 3))
      assert(fileCounts(e) <= Text.LexIndexBuckets * liveRuns,
        s"store not at its compacted floor after epoch $e: $fileCounts")
    // the stats store is swept too: cumulative rows below the
    // compaction FRONTIER are subsumed by the row at it (the sweep is
    // deferred one tick, so rows from the frontier on linger)
    assert(PipelineManager.committedFiles(s"$dir/stats",
        spark.sparkContext.hadoopConfiguration).size <= 4,
      "stats store must not grow one file per epoch across compactions")
  }

  test("serves and stats reads survive a racing sweep (seeded stress)") {
    // The r17 tip hardening (retryingSweepRace) under an actual race,
    // not a hand-built one: compaction ticks EVERY epoch (grace
    // window = one epoch) while a reader thread hammers serve+health.
    // Contract under stress: a read may fail transiently with the
    // sweep-race shape (FileNotFound lineage — the retry inside
    // converges, and a caller-level retry is the documented fallback);
    // NOTHING ELSE may escape, reads must keep succeeding between
    // races, and the final serve equals the batch closed form.
    for (seed <- Seq(7L, 23L)) {
      val dir = tmp(s"ilx-race-$seed-")
      val ilx = new IncrementalLexIndex(spark, dir, name = "rz",
        compactEvery = 1)
      def isSweepRaceShape(t: Throwable): Boolean =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .exists { c =>
            val m = Option(c.getMessage).getOrElse("")
            c.isInstanceOf[java.io.FileNotFoundException] ||
              m.contains("FileNotFoundException") ||
              m.contains("FILE_NOT_EXIST") || m.contains("does not exist")
          }
      @volatile var stop = false
      val hardFailures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val okReads = new java.util.concurrent.atomic.AtomicLong(0L)
      val racedReads = new java.util.concurrent.atomic.AtomicLong(0L)
      ilx.appendEpoch(docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 0L)
      val reader = new Thread(() => {
        while (!stop) {
          try {
            ilx.serve(qTerms, 5).count(): Unit
            ilx.health: Unit
            okReads.incrementAndGet(): Unit
          } catch {
            case t: Throwable if isSweepRaceShape(t) =>
              racedReads.incrementAndGet(): Unit // caller retries
            case t: Throwable => hardFailures.add(t): Unit; stop = true
          }
        }
      }, s"ilx-race-reader-$seed")
      reader.start()
      try (1 until 10).foreach { e =>
        ilx.appendEpoch(
          docs.filter(pmod(col("doc_id"), lit(10L)) === e), e.toLong)
      } finally { stop = true; reader.join(120000L) }
      assert(hardFailures.isEmpty,
        s"seed=$seed: non-sweep-race failure escaped: ${hardFailures.peek()}")
      assert(okReads.get() > 0,
        s"seed=$seed: no concurrent read ever succeeded")
      assert(serveRows(ilx) == oracleRows(docs),
        s"seed=$seed: final serve diverged after the race " +
          s"(ok=${okReads.get()}, raced=${racedReads.get()})")
    }
  }

  test("an index with no documents yet serves an empty result, not a crash") {
    val dir = tmp("ilx-empty-")
    // compactEvery=1: every data-free epoch also ticks the compaction
    // cadence, which must no-op on an empty store rather than die on
    // an uninferrable-schema read
    val ilx = new IncrementalLexIndex(spark, dir, name = "t",
      compactEvery = 1)
    assert(serveRows(ilx).isEmpty, "fresh index must serve empty")
    ilx.appendEpoch(docs.limit(0), 0L) // a data-free first trigger
    assert(serveRows(ilx).isEmpty, "empty-epoch index must serve empty")
    ilx.appendEpoch(docs.limit(50), 1L)
    assert(serveRows(ilx) == oracleRows(docs.limit(50)))
  }

  test("a legacy full-rewrite store (root-level record) migrates and reads as a level-1 run") {
    // builds prior to the tiered rework wrote FULL-STORE generations
    // under `<name>.g` recorded as `_compact_state-<g>` (and, before
    // the EpochPartitionedStore extraction, kept that record at the
    // index ROOT). A reopen must (a) move a root record into the
    // store and (b) honor the legacy record as a level-1 run [0, g] —
    // not read "no run recorded" and sweep the data as an unrecorded
    // attempt.
    val dir = tmp("ilx-mig-")
    val ilx = new IncrementalLexIndex(spark, dir, name = "t")
    (0 until 2).foreach { e =>
      ilx.appendEpoch(docs.filter(pmod(col("doc_id"), lit(2L)) === e), e)
    }
    val want = serveRows(ilx)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate exactly what the legacy code produced: a full rewrite
    // of the store under the un-leveled generation namespace plus a
    // ROOT-level single-number record
    PipelineManager.epochAppendPartitioned(
      spark.read.parquet(s"$dir/postings").repartition(col("tb")),
      s"$dir/postings", "tb", 1L, "t.g"): Unit
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/_compact_state-1"), false)
    out.close()
    val reopened = new IncrementalLexIndex(spark, dir, name = "t")
    assert(serveRows(reopened) == want,
      "legacy record must be honored — data survived the reopen")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/postings/_compact_state-1")),
      "the record must have migrated into the store")
    // and the raw epochs the legacy generation covers are swept by
    // recovery, leaving the legacy run serving alone
    val again = new IncrementalLexIndex(spark, dir, name = "t")
    assert(serveRows(again) == want)
  }

  test("a replayed epoch (and a replayed compaction trigger) is a no-op") {
    val dir = tmp("ilx-rp-")
    val ilx = new IncrementalLexIndex(spark, dir, name = "t",
      compactEvery = 2)
    ilx.appendEpoch(docs.filter(pmod(col("doc_id"), lit(3L)) === 0), 0L)
    ilx.appendEpoch(docs.filter(pmod(col("doc_id"), lit(3L)) === 1), 1L)
    val before = serveRows(ilx)
    // replay epoch 1 with DIFFERENT (poisoned) data: the committed
    // epoch must win everywhere — postings, stats, compaction trigger
    ilx.appendEpoch(docs.limit(7).withColumn("text", lit("table table")), 1L)
    assert(serveRows(ilx) == before, "replayed epoch changed the index")
    assert(before ==
      oracleRows(docs.filter(pmod(col("doc_id"), lit(3L)) <= 1)))
  }

  test("recovery rolls back an unrecorded compaction and completes a recorded one") {
    val dir = tmp("ilx-rc-")
    val ilx = new IncrementalLexIndex(spark, dir, name = "t",
      compactEvery = 2)
    (0 until 4).foreach { e =>
      ilx.appendEpoch(docs.filter(pmod(col("doc_id"), lit(4L)) === e), e)
    }
    val want = oracleRows(docs)
    assert(serveRows(ilx) == want)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window A: a run's data + marker landed but its state
    // record did not (crash between commit and record). Fabricate
    // exactly that in BOTH run namespaces — a legacy full rewrite
    // ("t.g", gen 5) and a tiered level-2 merge ("t.g2", covering
    // epoch 5) — with NO records. Without rollback the store holds
    // rows multiple times and every score multiplies.
    val poison = spark.read.parquet(s"$dir/postings").repartition(col("tb"))
    PipelineManager.epochAppendPartitioned(
      poison, s"$dir/postings", "tb", 5L, "t.g"): Unit
    PipelineManager.epochAppendPartitioned(
      poison, s"$dir/postings", "tb", 5L, "t.g2"): Unit
    val reopened = new IncrementalLexIndex(spark, dir, name = "t")
    assert(serveRows(reopened) == want,
      "recovery must delete unrecorded runs (else scores multiply)")
    // crash window B: records landed, the DEFERRED sweep has not run
    // yet (tick T+1 never came) — a fresh open re-runs the recorded
    // runs' sweep (idempotent): the raw epochs inside the grace
    // window disappear, the live runs serve alone, and a second
    // reopen changes nothing further.
    val ilx3 = new IncrementalLexIndex(spark, dir, name = "t")
    assert(serveRows(ilx3) == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/postings/_compact_state-1-0-1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/postings/_compact_state-1-2-3")),
      "the tiered run records are the surviving authority")
    assert(ilx3.postingsFileCount() <= 2 * Text.LexIndexBuckets,
      "after recovery's sweep only the two live runs' files remain")
    val ilx4 = new IncrementalLexIndex(spark, dir, name = "t")
    assert(serveRows(ilx4) == want)
  }
}

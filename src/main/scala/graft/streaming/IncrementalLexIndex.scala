package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Text

/**
 * Full-vocabulary incremental inverted index — the streaming
 * maintainer of the build-once/serve-many lexical store that
 * [[graft.text.Text.buildLexicalIndex]] builds in batch (t25's
 * serving artifact), upgraded so ingest keeps it fresh WITHOUT a
 * fixed term set: every epoch appends its postings for EVERY term in
 * the batch, hive-partitioned by the same 64-way term-hash bucket the
 * batch builder uses, so a query whose terms were never named at
 * ingest still serves from bucket-pruned index files (never the
 * corpus).
 *
 * Persistence (epoch commits, bounded view, generation compaction,
 * crash recovery) is an [[EpochPartitionedStore]] over
 * `dir/postings` partitioned by `tb` — rows (term, doc_id, tf, dl):
 * one row per (doc, term), the doc length denormalized on-row
 * (Lucene's norms inlined — the s23 form), so serving needs no
 * docstats join and doc-length maintenance is append-only.
 *
 * On top of the store this class adds the O(1) corpus-stats
 * accumulator (`dir/stats`): one CUMULATIVE (epoch, nd, sum_dl) row
 * per epoch, epoch-committed so a crash-replayed epoch REUSES its
 * committed row instead of re-adding its batch. dl is an
 * integer-valued double, so sum_dl is exact and avgdl = sum_dl/nd is
 * bit-identical to an AVG over the ingested prefix. Stats rows below
 * each compaction point are swept through the store's `onSweep` hook
 * (they are subsumed by the row at it), so the stats store's file
 * count stays flat too.
 *
 * Serving prunes at the directory level: a |q|-term query opens
 * ≤ |q| of the 64 bucket directories (PartitionFilters), pushes the
 * term set into those scans, and never touches corpus text.
 *
 * Reference surface: the reference has no retrieval; this closes the
 * engine's own build-once/serve-many contract (Text.scala
 * buildLexicalIndex/bm25TopKFromIndex) for streaming ingest.
 */
final class IncrementalLexIndex(spark: SparkSession, dir: String,
    name: String = "lexidx",
    refreshEvery: Int = DurableIndexView.DefaultRefreshEvery,
    compactEvery: Int = 0) {
  private val statsDir = s"$dir/stats"
  private val conf = spark.sparkContext.hadoopConfiguration
  private val statsPipe = s"$name.s"
  private val statsNs = PipelineManager.namespaceOf(statsPipe)
  // Latest cumulative stats row (epoch, nd, sum_dl) — the single-
  // writer contract makes this cache exact, so the per-epoch hot path
  // never re-reads the stats store; fresh opens and replays of older
  // epochs fall back to the (compaction-swept, bounded) store read.
  // Volatile: written by the maintenance thread, read by /diag health
  // pollers and concurrent serve() callers.
  @volatile private var lastStats: Option[(Long, Double, Double)] = None

  // Migration: builds prior to the EpochPartitionedStore extraction
  // kept the compaction state records at the INDEX root; the store
  // owns them under dir/postings now. Move any legacy records in
  // BEFORE the store's recovery runs — without this, recovery would
  // read "no generation recorded" and delete the compacted data as
  // an unrecorded attempt.
  locally {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "_compact_state-*")))
      .toSeq.flatten
      .foreach { st =>
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/postings"))
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(
          s"$dir/postings/${st.getPath.getName}")): Unit
      }
  }

  private val store = new EpochPartitionedStore(spark, s"$dir/postings",
    "tb", name, refreshEvery, compactEvery, onSweep = (_, upTo) => {
      val fs = new org.apache.hadoop.fs.Path(statsDir).getFileSystem(conf)
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(statsDir,
          EpochCommit.namespaceFileGlob(statsNs))))
        .toSeq.flatten
        .filter(st => EpochCommit.epochOfCommittedFile(
          st.getPath.getName) < upTo)
        .foreach(st => fs.delete(st.getPath, false))
    })

  /** Sweep-race guard for the ONE-FILE stats reads: the stats sweep
    * (onSweep above) trails the postings compaction frontier, so a
    * reader that LISTED before newer epochs committed can pick a file
    * a concurrent tick deletes between the listing and the read —
    * observed in-suite as a transient FAILED_READ_FILE.FILE_NOT_EXIST.
    * A fresh attempt re-lists and converges (the store commits a
    * newer row before the sweep ever deletes an older one); anything
    * that is not the FileNotFound shape propagates. */
  private def retryingSweepRace[T](attempts: Int = 3)(body: => T): T =
    try body catch {
      case t: Throwable if attempts > 1 && isSweepRace(t) =>
        retryingSweepRace(attempts - 1)(body)
    }

  private def isSweepRace(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .exists { c =>
        val m = Option(c.getMessage).getOrElse("")
        c.isInstanceOf[java.io.FileNotFoundException] ||
          m.contains("FileNotFoundException") ||
          m.contains("FILE_NOT_EXIST") || m.contains("does not exist")
      }

  /** Cumulative (nd, sum_dl) after folding `epoch`'s batch in — the
    * committed row for THIS epoch wins (crash replay), else the
    * previous cumulative plus this batch's 1-row aggregate. The hot
    * path (a new epoch on a warm instance) is O(1) from the in-memory
    * cache; fresh opens and replays of older epochs read the store,
    * whose row count compaction keeps bounded. */
  private def updateStats(batchDl: DataFrame, epoch: Long): (Double, Double) = {
    def batchAgg(): (Double, Double) = {
      val b = batchDl.agg(count(lit(1)).cast("double"),
        coalesce(sum(col("dl")), lit(0.0))).head()
      (b.getDouble(0), b.getDouble(1))
    }
    val (nd, sumDl) = retryingSweepRace()(lastStats match {
      case Some((e, n, s)) if epoch == e => (n, s) // in-run replay
      case Some((e, n, s)) if epoch > e =>
        val (bn, bs) = batchAgg()
        (n + bn, s + bs)
      case _ => // fresh open, or a replay older than the cache:
        // committed file NAMES carry their epoch, so the cumulative
        // chain resumes from ONE file read — the exact row for a
        // replayed epoch (it wins: crash replay must reuse, never
        // re-add), else the newest prior row plus this batch.
        val byEpoch = EpochCommit.committedFiles(statsDir, conf)
          .map(f => (EpochCommit.epochOfCommittedFile(f), f))
        byEpoch.find(_._1 == epoch) match {
          case Some((_, f)) =>
            val r = spark.read.parquet(f).head()
            (r.getDouble(1), r.getDouble(2))
          case None =>
            val prior = byEpoch.filter(_._1 < epoch)
              .sortBy(-_._1).headOption
              .map { case (_, f) => spark.read.parquet(f).head() }
            val (bn, bs) = batchAgg()
            (prior.map(_.getDouble(1)).getOrElse(0.0) + bn,
              prior.map(_.getDouble(2)).getOrElse(0.0) + bs)
        }
    })
    // driver-side 1-row commit: same protocol/naming as epochAppend,
    // without the per-epoch Spark job a LocalRelation write costs
    EpochCommit.epochAppendLocalRow(spark, statsDir, epoch, statsPipe,
      Seq(("epoch", epoch), ("nd", nd), ("sum_dl", sumDl))): Unit
    // NOTE: the in-memory lastStats cache is NOT written here — only
    // after the postings commit in [[appendEpoch]]. Stats commit
    // before postings (compaction's onSweep needs the row), so caching
    // at this point would let a postings-commit failure leave a live
    // instance serving stats for an epoch with no committed postings
    // (the cold path's ceiling cap exists precisely to exclude that
    // row; the hot cache must honor the same prefix).
    (nd, sumDl)
  }

  /**
   * Fold one ingest batch (`doc_id`, `text`) into the index: ONE
   * tokenize pass of the batch builds the full-vocabulary postings
   * (term, doc_id, tf, dl, tb), committed partition-by-bucket under
   * this epoch; the stats accumulator folds the batch's (count, Σdl);
   * the store extends its view by exactly this epoch's files and
   * compacts on its cadence. Idempotent per epoch end to end.
   */
  def appendEpoch(batch: DataFrame, epoch: Long): Unit = {
    // ONE tokenize of the batch feeds both actions below (the
    // postings write and the stats aggregate) — persisted for exactly
    // the reason buildLexicalIndex persists its token frame: unpinned,
    // each action would re-read the micro-batch and re-split every
    // document.
    val btok = batch.select(col("doc_id"), Text.tokens(col("text")).as("w"))
      .persist()
    try {
      val bpost = btok.select(col("doc_id"),
          size(col("w")).cast("double").as("dl"), explode(col("w")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"),
          pmod(graft.functions.Portable.hash64(col("term")),
            lit(Text.LexIndexBuckets.toLong)).as("tb"))
      // stats BEFORE the store append: the store's compaction cadence
      // fires inside appendEpoch and its onSweep must see this
      // epoch's stats row already committed
      val (nd, sumDl) = updateStats(btok.select(col("doc_id"),
        size(col("w")).cast("double").as("dl")), epoch)
      store.appendEpoch(bpost, epoch)
      // cache only AFTER the postings commit: a failure between the
      // stats commit and here must leave the hot serving path on the
      // previous epoch's stats (same committed prefix the cold path's
      // ceiling cap enforces); the orphan stats row is reused when
      // this epoch replays
      if (lastStats.forall(_._1 <= epoch)) lastStats = Some((epoch, nd, sumDl))
    } finally btok.unpersist(false): Unit
  }

  /** Newest USABLE cumulative stats row for serving, from at most ONE
    * stats file read. Two properties at once:
    *  - O(1) cold open: committed file names carry their epoch, so
    *    "latest" is a name sort, never a read of every row —
    *    `compactEvery = 0` after 10 000 epochs still reads one file.
    *  - Capped at the postings store's committed ceiling: stats
    *    commit BEFORE postings inside [[appendEpoch]] (compaction's
    *    onSweep needs the row), so a crash between the two leaves a
    *    stats row whose batch has no postings — serving it would
    *    transiently break the bit-identical-to-batch contract. The
    *    cap makes stats and postings always describe the same
    *    prefix; the orphan row is simply reused when its epoch
    *    replays. */
  // Cold-path cache keyed by the store ceiling it was read at: an
  // instance that never ingests (a /diag standby polling health, a
  // pure serving session) must not pay the one-file Spark read per
  // poll — the ceiling check is FS metadata only, and a ceiling
  // advance (another JVM committed an epoch) invalidates naturally.
  // Volatile for the same reader threads as lastStats (entries are
  // ceiling-keyed, so a racy overwrite costs one re-read, never a
  // wrong value).
  @volatile private var servableCache: Option[(Long, Double, Double)] = None

  private def latestServableStats(): Option[(Double, Double)] =
    lastStats.map(t => (t._2, t._3)).orElse(retryingSweepRace() {
      val ceiling = store.committedEpochCeiling
      servableCache match {
        case Some((c, n, s)) if c == ceiling => Some((n, s))
        case _ =>
          val read = EpochCommit.committedFiles(statsDir, conf)
            .map(f => (EpochCommit.epochOfCommittedFile(f), f))
            .filter(_._1 <= ceiling)
            .sortBy(-_._1).headOption
            .map { case (_, f) =>
              val r = spark.read.parquet(f).head()
              (r.getDouble(1), r.getDouble(2))
            }
          read.foreach { case (n, s) => servableCache = Some((ceiling, n, s)) }
          read
      }
    })

  /**
   * BM25 top-`k` for `terms` — NONE of which need to have been named
   * at ingest — served from index files only: the postings scan
   * carries the bucket predicate (PartitionFilters: unvisited bucket
   * directories never open) and the term set (PushedFilters inside
   * the visited buckets); (N, avgdl) come from the accumulator's
   * latest row as a 1-row frame. Scored by
   * [[graft.text.Text.bm25ScoreTopK]], so the scores are
   * bit-identical to [[graft.text.Text.bm25TopK]] over the ingested
   * prefix.
   */
  def serve(terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    servable(terms) match {
      case Some((post, stats)) => Text.bm25ScoreTopK(post, stats, k, k1, b)
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long, Double)].toDF("doc_id", "rank", "score")
    }

  /**
   * Q keyword queries against the LIVE index in ONE postings pass —
   * [[graft.text.Text.bm25TopKFromIndexMulti]]'s curation-batch shape
   * against the streaming store: the union of the term sets prunes
   * one bucket-filtered read of the view and
   * [[graft.text.Text.bm25ScoreTopKMulti]] scores it. Per query, rows
   * and scores are bit-identical to Q independent [[serve]] calls.
   * Returns (query_id, doc_id, rank, score); empty before any data.
   */
  def serveMulti(queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    servable(queries.flatMap(_._2).distinct) match {
      case Some((post, stats)) =>
        Text.bm25ScoreTopKMulti(post, stats, queries, k, k1, b)
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long, Long, Double)]
          .toDF("query_id", "doc_id", "rank", "score")
    }

  /** The scorers' two inputs for `terms`: the view's postings pruned
    * to the terms' buckets and filtered to the terms, and the latest
    * servable corpus stats as a driver-local 1-row frame. None while
    * the index has seen no documents (no epochs, or only empty
    * batches): a ProcessingTime stream's first data-free triggers
    * must serve an empty result, not fail on an uninferrable-schema
    * read. */
  private def servable(terms: Seq[String]): Option[(DataFrame, DataFrame)] =
    for {
      (nd, sumDl) <- latestServableStats().filter(_._1 > 0.0)
      fr <- store.frameIfAny
    } yield (fr.filter(Text.termBucketFilter(terms)),
      Text.corpusStats(spark, nd, sumDl))

  /** Committed postings data-file count (all buckets) — the quantity
    * compaction keeps flat; probes and specs assert on it. */
  def postingsFileCount(): Int = store.fileCount

  /** The postings store, for probes and the /diag health surface —
    * telemetry reads only; all writes go through [[appendEpoch]]. */
  private[graft] def postingsStore: EpochPartitionedStore = store

  /** Operator-facing index health: the store's numbers plus the
    * serving corpus stats (docs indexed, average doc length) from the
    * accumulator's latest SERVABLE row — exactly what BM25 scoring
    * would use right now. Registered per pipeline on the management
    * plane ([[PipelineManager.registerIndexHealth]]) and served on
    * `/diag/{name}`. */
  def health: Map[String, Double] =
    store.health.map { case (k, v) => k -> v.toDouble } ++
      latestServableStats().toList.flatMap { case (nd, sumDl) =>
        List("docsIndexed" -> nd,
          "avgDocLength" -> (if (nd > 0.0) sumDl / nd else 0.0))
      }
}

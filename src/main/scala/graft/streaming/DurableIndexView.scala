package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * In-run view of a durable, epoch-committed parquet index (the
 * s15/s16 streaming-dedup loops, the s24 incremental lexical index,
 * and any d19-style incremental-index ingest).
 *
 * Lifecycle: starts from a fresh read of the compacted index dir (the
 * same read the crash-recovery path performs), and after each epoch's
 * admission commit extends itself with just that epoch's committed
 * files — so an epoch never re-lists the whole (growing) directory.
 *
 * The bound this class exists for: a plain per-epoch
 * `view = view.union(read(newFiles))` grows the logical plan by one
 * relation per epoch, and analysis/planning cost grows with it — the
 * round-12 StreamScaleProbe (deleted since; at commit 4d47ea1)
 * measured ~22% late-over-early per-epoch drift at 40 epochs from
 * exactly this. Every `refreshEvery`
 * extensions the view therefore swaps back to a single fresh read of
 * the compacted dir (one relation, flat listing), so the union plan
 * never exceeds `refreshEvery` relations no matter how many epochs a
 * run processes. Correctness is unchanged: the dir holds precisely
 * the committed files the unions accumulated ([[EpochCommit]]'s
 * rename-then-marker contract; Spark's parquet reader ignores its
 * underscore-prefixed staging and marker paths),
 * so the refreshed frame has the same rows as the union it replaces.
 *
 * At 100 TB the same bound matters more, not less: a long-running
 * ingest does thousands of epochs per run, and the periodic re-read
 * amortizes a directory listing over K epochs instead of carrying an
 * ever-wider plan into every batch's analysis.
 *
 * `partitioned = true` marks a hive-partitioned store (written by
 * [[EpochCommit.epochAppendPartitioned]]): epoch-extension reads
 * of leaf files then set `basePath` to the store root so the
 * partition column (and its pruning) survives the leaf-file read —
 * without it Spark would drop the directory-encoded column and every
 * extension would lose the bucket predicate.
 */
final class DurableIndexView(spark: SparkSession, dir: String,
    refreshEvery: Int = DurableIndexView.DefaultRefreshEvery,
    partitioned: Boolean = false,
    snapshotFiles: Option[() => Seq[String]] = None) {
  require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")

  /** One fresh read of the store. With a `snapshotFiles` supplier
    * (the [[EpochPartitionedStore]] form) the read is PINNED to the
    * supplier's live-file set instead of a directory glob — the
    * difference between reading a committed snapshot and racing a
    * concurrent compaction's renames/deletes (and, under the store's
    * deferred sweep, the only read shape that doesn't double-count
    * superseded files still inside their grace window). */
  private def freshRead(): DataFrame = snapshotFiles match {
    case Some(f) =>
      val files = f()
      if (files.isEmpty) spark.read.parquet(dir) // pre-data bootstrap only
      else spark.read.option("basePath", dir).parquet(files: _*)
    case None => spark.read.parquet(dir)
  }

  private var view: DataFrame = freshRead()
  private var sinceRefresh = 0

  /** The current index frame — bootstrap plus every committed epoch
    * extension so far. */
  def frame: DataFrame = view

  /** Fold one epoch's committed admission files into the view. A
    * replayed epoch hands back the SAME files (epochAppend is
    * idempotent), and duplicate rows cannot change a dedup verdict
    * (countDistinct/min), so extending twice is harmless. */
  def extend(committed: Seq[String]): Unit = if (committed.nonEmpty) {
    sinceRefresh += 1
    if (sinceRefresh >= refreshEvery) reset()
    else {
      val reader =
        if (partitioned) spark.read.option("basePath", dir) else spark.read
      view = view.union(reader.parquet(committed: _*))
    }
  }

  /** Swap back to one fresh read of the store — called on the
    * refresh cadence, and by owners whose maintenance REPLACED files
    * under the view (the s24 compaction: the union'd plan still names
    * the superseded files, so it must be dropped, not extended). */
  def reset(): Unit = {
    view = freshRead() // one relation again: plan reset
    sinceRefresh = 0
  }
}

object DurableIndexView {
  /** Union plan width cap — listing cost amortized over 8 epochs while
    * the analyzed plan stays <= 8 relations wide. */
  val DefaultRefreshEvery = 8
}

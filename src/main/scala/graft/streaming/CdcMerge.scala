package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable

/**
 * CDC merge: apply old/new-image change records (T7 envelopes carrying
 * `OpCode {INSERT, UPDATE, DELETE}` + a change sequence number) onto a
 * keyed materialized state table — SURVEY.md §7.3 hard part (2).
 *
 * Reference semantics: BrooklinEnvelope.java:16-21 (key = primary key,
 * value = new image), BrooklinEnvelopeMetadataConstants.java:19-29
 * (opcodes, Scn). The reference only TRANSPORTS these; materializing
 * them is the downstream contract this engine completes.
 *
 * Spark-first shape: last-writer-wins per key by scn is one window
 * rank — partial-agg/shuffle on the key, no driver loop. The streaming
 * form applies the same reduction per micro-batch in `foreachBatch`
 * against a parquet state directory that is SPLIT INTO KEY-HASH
 * BUCKETS: an epoch rewrites only the buckets whose keys it touches,
 * so per-epoch write cost is O(|touched buckets|), not O(|state|) —
 * at 100 TB an epoch touching a handful of keys rewrites a handful of
 * bucket directories, never the full table (Delta's MERGE INTO is the
 * managed-table equivalent; this is the same file-pruning idea with
 * explicit buckets).
 *
 * Layout: `statePath/bNNNNN/` per bucket; scratch (`statePath.tmp/`)
 * and move-aside backups (`statePath.bak/`) live OUTSIDE the state
 * root so state readers never see half-written files.
 *
 * Crash safety per bucket: each touched bucket is swapped by
 * [[EpochCommit.replaceDir]] — scratch is complete, the bucket dir
 * moves aside to its backup, scratch is promoted, the backup is
 * dropped — so at every instant the bucket dir or its backup holds a
 * complete copy, and [[currentState]] reads whichever survives. A
 * replayed micro-batch (Spark's at-least-once foreachBatch contract)
 * re-merges idempotently: each touched key takes the batch's final
 * image again, so re-applying the same changes leaves the same rows.
 */
object CdcMerge {

  /** Default key-hash bucket count for the state directory. Sized so
    * one bucket's state fits an executor comfortably; at larger state
    * sizes pass a bigger count (buckets = parallel units AND the
    * rewrite granularity). */
  val DefaultBuckets = 16

  /**
   * Collapse a CDC log (key, scn, opcode, value...) to its final
   * state: the highest-scn record per key, dropping keys whose last
   * operation is DELETE.
   */
  def latestState(log: DataFrame, keyCols: Seq[String], scnCol: String,
      opcodeCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(scnCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opcodeCol) =!= "DELETE")
      .drop("__rn")
  }

  /**
   * Expand a CDC log into its full change HISTORY (SCD2-style
   * validity intervals): one row per non-DELETE change with
   * [scn, scn_to) bounds — scn_to is the next change's scn for the
   * same key (whatever its opcode), or -1 while the version is still
   * current. A trailing DELETE closes the last interval and leaves
   * the key with no current row. This is the audit view the
   * envelope's old/new-image design exists for
   * (BrooklinEnvelope.java:16-21: key = primary key, value = new
   * image, previousValue = old image; opcodes
   * BrooklinEnvelopeMetadataConstants.java:19-23) — every
   * superseded image stays queryable, not just the latest state.
   *
   * Scale: one keyed window (partition by key, order by scn), the
   * same shuffle key as the latestState collapse — never a global
   * ordering.
   */
  def changeHistory(log: DataFrame, keyCols: Seq[String], scnCol: String,
      opcodeCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(scnCol))
    log
      .withColumn("scn_to", coalesce(lead(col(scnCol), 1).over(w), lit(-1L)))
      .filter(col(opcodeCol) =!= "DELETE")
      .withColumn("is_current", col("scn_to") === -1L)
  }

  private def bucketDir(statePath: String, b: Long) =
    new Path(statePath, f"b$b%05d")
  private def bakDir(statePath: String, b: Long) =
    new Path(s"$statePath.bak", f"b$b%05d")

  /** The live copy of one bucket ([[EpochCommit.liveDir]]). */
  private def liveBucket(fs: FileSystem, statePath: String, b: Long): Option[Path] =
    EpochCommit.liveDir(fs, bucketDir(statePath, b), bakDir(statePath, b))

  /**
   * Read the live copies of buckets `ids`; None when none of them holds
   * a data file (never written, or every key deleted: an emptied bucket
   * is an empty dir, which parquet schema inference rejects). The
   * schema is read from ONE part file's footer on the driver, so the
   * scan plans without Spark's schema-inference job.
   */
  private def readBuckets(spark: SparkSession, fs: FileSystem, statePath: String,
      ids: Seq[Long]): Option[DataFrame] = {
    val withData = ids.flatMap(liveBucket(fs, statePath, _)).flatMap { dir =>
      fs.listStatus(dir).map(_.getPath)
        .find(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .map(dir.toString -> _)
    }
    withData.headOption.map { case (_, file) =>
      val dirs = withData.map(_._1)
      // every bucket file is Spark-written: its footer holds the schema
      val schema = PipelineManager.footerSchema(spark, file)
        .getOrElse(sys.error(s"$file: unreadable Spark schema footer key"))
      spark.read.schema(schema).parquet(dirs: _*)
    }
  }

  /**
   * Apply one micro-batch of changes onto the bucketed parquet state
   * at `statePath`: untouched buckets are not read or written; within
   * a touched bucket, untouched keys survive, changed keys take the
   * batch's final image whatever the state row's scn, DELETEs drop.
   *
   * One shuffle merges every touched bucket. The live rows of the
   * touched buckets (tagged state) and the raw micro-batch (tagged
   * change) union and are repartitioned by bucket; one `row_number`
   * window over (bucket, key), ordered change-before-state and then by
   * scn descending, keeps each key's winner, and a DELETE winner drops
   * the key. The bucket partitioning satisfies the window's clustering
   * and the window's sort satisfies the `partitionBy("__bucket")`
   * writer's ordering, so the exchange feeds the write directly and
   * each touched bucket lands as ONE file under
   * `statePath.tmp/__bucket=N`. At most three Spark jobs per epoch:
   * the touched-bucket collect (one set per input partition, no
   * shuffle) and the exchange's map and write stages (one job each
   * under AQE). The per-bucket crash-safe rename swap then runs over
   * the pre-written scratch dirs — metadata-only operations, O(touched)
   * namenode calls, not O(touched) Spark jobs. The price is that every
   * row of every touched bucket crosses the shuffle and each bucket is
   * written by one task: this shape saves per-job overhead, which wins
   * while touched buckets are small, and is unmeasured for large ones.
   *
   * The window groups null key components together, as [[latestState]]
   * does, so a null key is replaced, never duplicated. The merged rows
   * keep the state's columns (the batch's on a first write): the
   * batch is projected onto them before the union, so columns only
   * the batch carries are dropped and a state column the batch lacks
   * fails the epoch. The state rows' bucket is
   * recomputed from their key columns — the bucket function is pure,
   * so it always agrees with the dir the row was read from.
   */
  def applyBatch(spark: SparkSession, batch: DataFrame, statePath: String,
      keyCols: Seq[String], scnCol: String, opcodeCol: String,
      numBuckets: Int = DefaultBuckets): Unit = {
    val fs = new Path(statePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketOf =
      pmod(Portable.hash64(concat_ws("|", keyCols.map(col): _*)), lit(numBuckets.toLong))
    val changes = batch.withColumn("__bucket", bucketOf).withColumn("__state", lit(false))
    // Touched-bucket ids: at most numBuckets, so the collect is safe.
    val touched = changes.select("__bucket").rdd
      .mapPartitions(rows => Iterator(rows.map(_.getLong(0)).toSet))
      .collect().flatten.distinct.sorted.toSeq
    if (touched.isEmpty) return
    val existing = readBuckets(spark, fs, statePath, touched)
    val cols = existing.getOrElse(batch).columns
    val rows = existing.fold(changes)(_.withColumn("__bucket", bucketOf)
      .withColumn("__state", lit(true))
      .unionByName(changes.select((cols :+ "__bucket" :+ "__state").map(col): _*)))
    val w = Window.partitionBy((col("__bucket") +: keyCols.map(col)): _*)
      .orderBy(col("__state"), col(scnCol).desc)
    val merged = rows.repartition(col("__bucket"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && (col("__state") || col(opcodeCol) =!= "DELETE"))
      .select((cols :+ "__bucket").map(col): _*)
    val tmpRoot = new Path(s"$statePath.tmp")
    fs.delete(tmpRoot, true) // leftovers of a crashed epoch
    merged.write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(tmpRoot.toString)
    touched.foreach { b =>
      // a missing scratch dir is a bucket whose keys were all deleted
      // (a partitioned write emits no dir for an empty partition): an
      // empty dir is installed so the swap still retires the old copy
      val tmp = new Path(tmpRoot, s"__bucket=$b")
      if (!fs.exists(tmp)) fs.mkdirs(tmp)
      EpochCommit.replaceDir(fs, tmp, bucketDir(statePath, b), bakDir(statePath, b))
    }
    fs.delete(tmpRoot, true)
  }

  /** The full live state: the union of every bucket's surviving copy;
    * None when no bucket holds a row (every key deleted). Falls back to
    * a flat (non-bucketed) layout for state dirs written by older
    * versions. */
  def currentState(spark: SparkSession, statePath: String): Option[DataFrame] = {
    val fs = new Path(statePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(statePath)
    val bakRoot = new Path(statePath + ".bak")
    def bucketIds(p: Path): Set[Long] =
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("b\\d{5}"))
        .map(_.getPath.getName.drop(1).toLong).toSet
    val ids = bucketIds(root) ++ bucketIds(bakRoot)
    if (ids.nonEmpty) readBuckets(spark, fs, statePath, ids.toSeq.sorted)
    else if (fs.exists(root)) Some(spark.read.parquet(statePath))
    else if (fs.exists(bakRoot)) Some(spark.read.parquet(bakRoot.toString))
    else None
  }
}

package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The data plane's durable layout and its two publish protocols: the
 * exactly-once epoch commit and the directory swap. Every reader and
 * writer of a destination, an epoch-partitioned store or a swapped
 * state directory names its paths through this object.
 *
 * EPOCH COMMIT. Idempotent per-epoch parquet append — upgrades the
 * parquet and directory transports from at-least-once to exactly-once
 * across epoch replays. Under a destination `dest`:
 *  - `graft-<ns>-e<N>-p<i>.parquet` ([[epochFileName]]) — the `i`-th
 *    published part file of epoch `N` in namespace `ns`;
 *  - `_graft_commits/<ns>/<N>` ([[marker]]) — the empty file that
 *    records epoch `N` as committed;
 *  - `_staging-<ns>-<N>` ([[stagingDir]]) — the attempt's staged write.
 * Staging and marker paths start with '_', so parquet readers of
 * `dest` ignore them.
 *
 * The protocol ([[epochCommitCore]]): a replayed epoch whose marker
 * exists is a no-op that returns the committed files. Otherwise the
 * attempt stages the batch, clears a crashed attempt's published
 * files (they carry namespace and epoch in their names, so the redo
 * is deterministic), renames the staged parts into place — failing
 * the epoch on a false rename return — and writes the marker last. A
 * crash at any step leaves no marker, so the replay redoes the epoch
 * from the top. Negative epochs (holdback replays from
 * [[PipelineManager.resumePartitions]]) are plain appends: their
 * dedup is the holdback subdirectory delete, documented at-least-once.
 *
 * Markers and published names are NAMESPACED PER PIPELINE because D1
 * destination-reuse intentionally lets several pipelines share one
 * destination, each with an independent epoch counter — un-namespaced
 * markers would no-op a second pipeline's epoch N (data loss) and its
 * redo would delete the first pipeline's files. The namespace is
 * [[PipelineManager.namespaceOf]], an INJECTIVE encoding: ASCII
 * alphanumerics pass through; every other character is hex-escaped as
 * `_xx` per UTF-8 byte (`_` itself becomes `_5f`), so distinct names
 * like `etl-a` and `etl.a` can never share markers. '-' never appears
 * in an encoded namespace or an epoch number, so it stays a structural
 * delimiter, and the `-p` after the epoch keeps the epoch-N redo glob
 * from ever matching epoch-N0..N9 files. The empty name maps to the
 * reserved namespace `default` ([[PipelineManager.ReservedNamespace]];
 * `create` rejects it as a pipeline name so a library caller using the
 * default parameter cannot couple with a real pipeline).
 *
 * Migration: alphanumeric pipeline names encode identically before
 * and after the injective encoding, so their markers and files carry
 * over. A destination written by a pre-namespacing build (markers
 * directly under `_graft_commits/<epoch>`) must be recreated — old
 * markers are not recognized, so a replay against such a destination
 * re-appends.
 *
 * Reference guarantee being matched: checkpoint-then-flush in
 * AbstractKafkaBasedConnectorTask (the flush barrier) plus the
 * reference's broker-side idempotent producer; here the
 * (pipeline, epoch) id from the offset log plays the
 * producer-(id, sequence) role.
 *
 * DIRECTORY SWAP ([[replaceDir]], [[liveDir]]). A state directory
 * rewritten whole each epoch (a CDC bucket, a sketch register table)
 * is replaced in one order: the staged copy is complete, the live copy
 * moves aside, the staged copy is promoted, the aside copy is dropped.
 * At every instant the live dir or the aside dir holds a complete
 * copy, and readers take the live dir, else the aside dir. Callers
 * pass their own on-disk names; both callers replay a crashed epoch
 * and re-merge it idempotently, so a stray staged copy is simply
 * overwritten by the next attempt.
 */
object EpochCommit {

  // ---- layout ----

  /** Published name of epoch `epoch`'s `i`-th part file in namespace
    * `ns`. */
  private[streaming] def epochFileName(ns: String, epoch: Long, i: Int): String =
    s"graft-$ns-e$epoch-p$i.parquet"

  /** Glob matching exactly epoch `epoch`'s published files in `ns`. */
  private[streaming] def epochFileGlob(ns: String, epoch: Long): String =
    s"graft-$ns-e$epoch-p*.parquet"

  /** Glob matching every epoch's published files in `ns`; `"*"` matches
    * every namespace. */
  private[streaming] def namespaceFileGlob(ns: String): String =
    s"graft-$ns-e*-p*.parquet"

  private val CommittedEpochFileRe =
    "graft-[A-Za-z0-9_]+-e\\d+-p\\d+\\.parquet".r

  /** Does `name` follow the published-file naming (any namespace, any
    * epoch)? `part-*` staging names and `_`-prefixed metadata never
    * match. */
  def isCommittedEpochFile(name: String): Boolean =
    CommittedEpochFileRe.matches(name)

  /** Epoch number parsed from a committed epoch file name or full
    * path. Epoch-keyed stores (the s23/s24 stats accumulators,
    * [[EpochPartitionedStore]]) discover "the newest row" from NAMES
    * instead of reading every file — O(1) data read on a cold open no
    * matter how many epochs the store holds. */
  def epochOfCommittedFile(path: String): Long = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name.split('-')(2).drop(1).toLong
  }

  /** Namespace parsed from a committed epoch file name. */
  private[streaming] def namespaceOfCommittedFile(name: String): String =
    name.split('-')(1)

  private def markerRoot(dest: String): Path = new Path(dest, "_graft_commits")

  /** Directory of namespace `ns`'s commit markers under `dest`. */
  private[streaming] def markerDir(dest: String, ns: String): Path =
    new Path(markerRoot(dest), ns)

  /** The marker recording epoch `epoch` of `ns` as committed. */
  private[streaming] def marker(dest: String, ns: String, epoch: Long): Path =
    new Path(markerDir(dest, ns), epoch.toString)

  /** Where an attempt at epoch `epoch` of `ns` stages its write. */
  private[streaming] def stagingDir(dest: String, ns: String, epoch: Long): Path =
    new Path(dest, s"_staging-$ns-$epoch")

  /** `p`'s entries, or none when `p` does not exist — one listing, no
    * separate existence probe. */
  private def listOrEmpty(fs: FileSystem, p: Path): Seq[FileStatus] =
    try fs.listStatus(p).toSeq catch { case _: FileNotFoundException => Nil }

  /** Every namespace with a marker directory under `dest`. */
  private[streaming] def markerNamespaces(fs: FileSystem, dest: String): Seq[String] =
    listOrEmpty(fs, markerRoot(dest))
      .filter(_.isDirectory).map(_.getPath.getName)

  /** The epochs of `ns` committed at `dest`, in listing order. Stray
    * tolerant: a non-numeric artifact in the marker dir is neither an
    * epoch nor a failure, so one leftover temp file never bricks a
    * reader. */
  private[streaming] def committedEpochs(fs: FileSystem, dest: String,
      ns: String): Seq[Long] =
    listOrEmpty(fs, markerDir(dest, ns)).flatMap(_.getPath.getName.toLongOption)

  /** The committed epoch files directly under `dir` (any namespace,
    * any epoch), sorted; empty when the dir does not exist. Probing for
    * these names is how an incremental-index loop decides whether a
    * durable store holds committed data yet. */
  def committedFiles(dir: String, conf: Configuration): Seq[String] = {
    val p = new Path(dir)
    listOrEmpty(p.getFileSystem(conf), p)
      .filter(st => st.isFile && isCommittedEpochFile(st.getPath.getName))
      .map(_.getPath.toString).sorted
  }

  // ---- epoch commit ----

  /** Commit `batch` as epoch `epoch` of `pipeline` at `dest`, exactly
    * once across replays (see the object doc). Returns the epoch's
    * committed files, so a caller can reuse the commit as the batch's
    * materialization point (the durable-index loops read them back
    * instead of paying a second localCheckpoint job); a replayed epoch
    * returns the SAME files. A negative epoch is a plain append that
    * returns Nil even though it wrote data — plain appends have no
    * deterministic file names to report. The batch is staged by
    * [[EpochWriter]], which ships the write's Hadoop conf once per
    * conf instead of inside every task. */
  def epochAppend(batch: DataFrame, dest: String, epoch: Long,
      pipeline: String = ""): Seq[String] = {
    if (epoch < 0) { batch.write.mode("append").parquet(dest); return Nil }
    epochCommitCore(batch, dest, epoch, pipeline,
      stage = EpochWriter.write,
      relativeGlob = ns => epochFileGlob(ns, epoch),
      publish = (fs, staging, destPath, ns) =>
        renameStagedParts(fs, staging, destPath, ns, epoch))
  }

  /**
   * [[epochAppend]] for ONE DRIVER-KNOWN row of long/double/string
   * columns — the incremental indexes' per-epoch cumulative-stats
   * commit. The staged parquet file is written DRIVER-SIDE through
   * parquet-hadoop (no Spark job: a 1-row LocalRelation write still
   * pays a full job + task launch per epoch), then published through
   * the same protocol, so replay semantics and file naming are
   * identical. Readers (spark.read.parquet) see the same column
   * names/types/values a DataFrame write would have produced.
   */
  def epochAppendLocalRow(spark: SparkSession,
      dest: String, epoch: Long, pipeline: String,
      cols: Seq[(String, Any)]): Seq[String] = {
    require(epoch >= 0, "epochAppendLocalRow is epoch-committed only")
    import org.apache.parquet.schema.{Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val fields = cols.map {
      case (n, _: Long) =>
        PTypes.required(INT64).named(n)
      case (n, _: Double) =>
        PTypes.required(DOUBLE).named(n)
      case (n, _: String) =>
        PTypes.required(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(n)
      case (n, v) => sys.error(
        s"epochAppendLocalRow: unsupported column $n type ${v.getClass}")
    }
    val schema = new org.apache.parquet.schema.MessageType(
      "spark_schema", fields: _*)
    epochCommitCore(null, dest, epoch, pipeline,
      stage = (_, stagingDir) => {
        // COPY of the session conf: setSchema mutates the
        // 'parquet.example.schema' key as a side channel to the
        // writer, and two concurrent committers (or any future caller
        // with different columns) would race on the session-global
        // Configuration — each stage call gets its own.
        val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
        org.apache.parquet.hadoop.example.GroupWriteSupport
          .setSchema(schema, conf)
        val file = new Path(stagingDir, "part-00000")
        val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
            .fromPath(file, conf))
          .withConf(conf)
          .withCompressionCodec(
            org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
          .build()
        try {
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          cols.foreach {
            case (n, v: Long) => g.add(n, v)
            case (n, v: Double) => g.add(n, v)
            case (n, v: String) => g.add(n, v)
            case _ => () // unreachable: rejected while building fields
          }
          w.write(g)
        } finally w.close()
      },
      relativeGlob = ns => epochFileGlob(ns, epoch),
      publish = (fs, staging, destPath, ns) =>
        renameStagedParts(fs, staging, destPath, ns, epoch),
      hadoopConf = Some(spark.sparkContext.hadoopConfiguration))
  }

  /**
   * [[epochAppend]] for a HIVE-PARTITIONED destination: the batch is
   * staged `partitionBy(partCol)` and each staged partition's part
   * files rename into `dest/<partCol>=<v>/` under the same naming (file
   * index per partition directory), with ONE marker for the whole
   * epoch — an epoch is visible in all of its partitions or none. This
   * is what lets a streaming ingest maintain a partition-pruned serving
   * store (the s24 incremental lexical index appends postings by
   * term-hash bucket, so a query's bucket predicate keeps pruning at
   * the directory level as the store grows). Readers recover the
   * partition column from the directory name — leaf-file reads must
   * set `basePath` to `dest` ([[DurableIndexView]] does). Negative
   * epochs are not supported (partitioned holdback replay has no use
   * case).
   */
  def epochAppendPartitioned(batch: DataFrame, dest: String, partCol: String,
      epoch: Long, pipeline: String = ""): Seq[String] = {
    require(epoch >= 0, "epochAppendPartitioned is epoch-committed only")
    epochCommitCore(batch, dest, epoch, pipeline,
      stage = (b, s) =>
        b.write.mode("overwrite").partitionBy(partCol).parquet(s),
      relativeGlob = ns => s"$partCol=*/${epochFileGlob(ns, epoch)}",
      publish = (fs, staging, destPath, ns) =>
        fs.listStatus(staging)
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith(s"$partCol="))
          .sortBy(_.getPath.getName)
          .foreach { pd =>
            val targetDir = new Path(destPath, pd.getPath.getName)
            fs.mkdirs(targetDir)
            renameStagedParts(fs, pd.getPath, targetDir, ns, epoch)
          })
  }

  /** The one spelling of the protocol: marker check → stage → clear
    * the previous attempt's published files → rename into place →
    * marker. Every append above goes through it. */
  private def epochCommitCore(batch: DataFrame, dest: String, epoch: Long,
      pipeline: String,
      stage: (DataFrame, String) => Unit,
      relativeGlob: String => String,
      publish: (FileSystem, Path, Path, String) => Unit,
      // driver-side stagers (epochAppendLocalRow) have no batch frame
      // to derive the FS from; they pass the session's conf instead
      hadoopConf: Option[Configuration] = None): Seq[String] = {
    val ns = PipelineManager.namespaceOf(pipeline)
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(hadoopConf.getOrElse(
      batch.sparkSession.sparkContext.hadoopConfiguration))
    def published: Seq[String] =
      Option(fs.globStatus(new Path(destPath, relativeGlob(ns))))
        .toSeq.flatten.map(_.getPath.toString).sorted
    val done = marker(dest, ns, epoch)
    if (fs.exists(done)) return published // replayed epoch: already committed
    val staging = stagingDir(dest, ns, epoch)
    fs.delete(staging, true)
    stage(batch, staging.toString)
    Option(fs.globStatus(new Path(destPath, relativeGlob(ns))))
      .foreach(_.foreach(st => fs.delete(st.getPath, false)))
    publish(fs, staging, destPath, ns)
    fs.delete(staging, true)
    fs.mkdirs(done.getParent)
    fs.create(done, true).close()
    published
  }

  /** Rename one staged directory's part files into `toDir` under the
    * published naming, failing the epoch on a false rename return. */
  private def renameStagedParts(fs: FileSystem,
      fromDir: Path, toDir: Path, ns: String, epoch: Long): Unit = {
    val parts = fs.listStatus(fromDir)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
    parts.zipWithIndex.foreach { case (st, i) =>
      val target = new Path(toDir, epochFileName(ns, epoch, i))
      if (!fs.rename(st.getPath, target))
        sys.error(s"rename ${st.getPath} -> $target failed; failing epoch $epoch")
    }
  }

  // ---- directory swap ----

  /** Replace directory `live` with the complete directory `staged`
    * (see the object doc for the order), checking every rename — a
    * false return fails the epoch so it replays instead of committing
    * a half-swap. */
  def replaceDir(fs: FileSystem, staged: Path, live: Path, aside: Path): Unit = {
    if (fs.exists(live)) {
      // an aside copy next to a live dir is a leftover of a crash
      // after the promote: the live dir is newer
      if (fs.exists(aside)) require(fs.delete(aside, true), s"cannot clear stale $aside")
      fs.mkdirs(aside.getParent)
      require(fs.rename(live, aside), s"cannot move aside $live")
    }
    // with no live dir (first write, or a crash between the move-aside
    // and the promote) the aside copy — the only complete one — stays
    // until the staged copy, merged from it, is promoted
    fs.mkdirs(live.getParent)
    require(fs.rename(staged, live), s"cannot install $staged as $live")
    fs.delete(aside, true): Unit
  }

  /** The copy of a swapped directory to read: the live dir, else the
    * aside dir a crash mid-swap left; None before the first swap. */
  def liveDir(fs: FileSystem, live: Path, aside: Path): Option[Path] =
    if (fs.exists(live)) Some(live)
    else if (fs.exists(aside)) Some(aside)
    else None
}

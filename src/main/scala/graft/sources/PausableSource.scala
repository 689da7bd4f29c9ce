package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-partition pausable source (F2/A4 at the SOURCE layer) — the one
 * genuinely custom physical piece SURVEY.md §7.3 calls out: Spark can
 * only pause a whole query, while the reference pauses individual
 * source partitions and rewinds/holds their offsets so nothing is
 * consumed from them until resume
 * (AbstractKafkaBasedConnectorTask.translateAndSendBatch :275-307
 * skips paused partitions; preConsumerPollHook :855+ reconciles the
 * pause set before every poll; PausedSourcePartitionMetadata carries
 * the reasons).
 *
 * Design: the offset is a VECTOR of per-partition next indices (the
 * same shape as Kafka's per-TopicPartition offsets). At every
 * offset-planning call the stream re-reads the pause-control file —
 * the engine's stand-in for the reference's ZK-pushed pause set — and
 * simply does not advance the paused partitions' components. Their
 * data is therefore never read, never buffered, and never dropped:
 * when a later run (or a later micro-batch) finds the partition
 * unpaused, planning resumes from the HELD index and delivers
 * exactly the records that accumulated while paused. This composes
 * with the transform-layer admission filter (Filters.notPaused +
 * PipelineManager holdback) — that path covers sources Spark owns
 * (Kafka/files); this one covers DSv2 sources we author.
 *
 * Scale shape: the pause set and offset vector are O(#partitions)
 * driver-side control state; record flow stays fully parallel across
 * unpaused partitions. Pause reconciliation is one tiny file read per
 * micro-batch, mirroring the reference's once-per-poll ZK lookup.
 */
object PausableSource {
  val Schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("idx", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** THE pause-control file reader, shared with
    * [[PausingMicroBatchStream]]: comma/whitespace-separated tokens
    * (partition ids here, component names there). Absent or empty
    * file = nothing paused. The pause set is RECONCILED control
    * input, not a schema the query dies on: a token that names
    * nothing (stray character, torn read during a concurrent edit)
    * is dropped by the caller — throwing here happens inside
    * latestOffset on the driver and would kill the whole streaming
    * query over an operator's fat-fingered control write; the next
    * micro-batch re-reads whatever the file then says. */
  def readPauseTokens(path: String): Set[String] = {
    if (path.isEmpty) return Set.empty
    val p = Paths.get(path)
    if (!Files.exists(p)) return Set.empty
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("[,\\s]+").iterator.map(_.trim).filter(_.nonEmpty).toSet
  }
}

/** Offset = one next-index per partition, serialized positionally
  * ("12,0,12,12") so the log stays human-readable and stable. */
final case class VectorOffset(next: IndexedSeq[Long]) extends Offset {
  override def json(): String = next.mkString(",")
}

/** `spark.readStream.format(classOf[PausableProvider].getName)
  * .option("rowsPerPartition", n).option("pauseFile", path)`. */
final class PausableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PausableSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    require(opts.containsKey("rowsperpartition"),
      "pausable source requires option 'rowsPerPartition'")
    val rows = opts.getLong("rowsperpartition", 0L)
    new PausableTable(rows,
      parts = opts.getLong("numpartitions", 4L).toInt,
      batchPer = opts.getLong("batchperpartition", rows),
      size = opts.getLong("payloadsize", 64L).toInt,
      pauseFile = opts.getOrDefault("pausefile", ""))
  }
}

final class PausableTable(rows: Long, parts: Int, batchPer: Long, size: Int,
    pauseFile: String) extends Table with SupportsRead {
  require(rows >= 0 && parts > 0 && batchPer > 0 && size >= 0,
    s"invalid pausable source config: rows=$rows parts=$parts batchPer=$batchPer size=$size")
  override def name(): String = s"pausable($rows x $parts)"
  override def schema(): StructType = PausableSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = PausableSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PausableStream(rows, parts, batchPer, size, pauseFile)
    }
}

final class PausableStream(rows: Long, parts: Int, batchPer: Long, size: Int,
    pauseFile: String) extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  @volatile private var target: Long = rows
  override def prepareForTriggerAvailableNow(): Unit = { target = rows }

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(batchPer * parts)

  override def initialOffset(): Offset =
    VectorOffset(IndexedSeq.fill(parts)(0L))
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: use latestOffset(start, limit)")

  /** Pre-poll reconciliation: read the pause set NOW, hold the paused
    * components, advance the rest by the admitted per-partition step.
    * Never regresses (a shrunken `rows` config no-ops, as in
    * SyntheticStream). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VectorOffset].next
    val paused = PausableSource.readPauseTokens(pauseFile).flatMap(_.toIntOption)
    // The row budget is shared by the partitions that can actually
    // advance: dividing by the TOTAL partition count would shrink
    // every micro-batch while partitions are paused (2 of 4 paused =
    // half the admitted throughput for no reason).
    val active = math.max(1, parts - paused.count(p => p >= 0 && p < parts))
    val step = limit match {
      case r: ReadMaxRows => math.max(1L, r.maxRows() / active)
      case _ => batchPer
    }
    VectorOffset(s.indices.map { p =>
      if (paused(p)) s(p)
      else math.max(s(p), math.min(s(p) + step, target))
    }.toIndexedSeq)
  }
  override def reportLatestOffset(): Offset =
    VectorOffset(IndexedSeq.fill(parts)(target))

  override def deserializeOffset(json: String): Offset =
    VectorOffset(json.split(",").iterator.map(_.toLong).toIndexedSeq)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VectorOffset].next
    val e = end.asInstanceOf[VectorOffset].next
    require(s.length == parts && e.length == parts,
      s"offset arity ${s.length}/${e.length} != numPartitions $parts — " +
        "checkpoint written by a different partition count")
    s.indices.iterator
      .filter(p => e(p) > s(p))
      .map(p => PausableSlice(p, s(p), e(p), size): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[PausableSlice]
      new PartitionReader[InternalRow] {
        private var i = p.lo - 1
        override def next(): Boolean = { i += 1; i < p.hi }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](
          p.partition, i,
          UTF8String.fromString(SyntheticSource.payloadFor(i, p.size))))
        override def close(): Unit = ()
      }
    }
}

final case class PausableSlice(partition: Int, lo: Long, hi: Long, size: Int)
    extends InputPartition

package graft.sources

import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

/**
 * Per-partition pause for FOREIGN DSv2 sources (SURVEY §7.3 hard part
 * 1, the external-source variant of [[PausableStream]]): a wrapping
 * MicroBatchStream that holds individual partitions of a source that
 * knows nothing about pausing.
 *
 * Why a codec SPI and not a generic wrapper: a DSv2 offset is opaque
 * JSON. Filtering at planInputPartitions would be DATA LOSS — the
 * committed offset advances past rows that were never read. The only
 * safe generic hold is at the OFFSET layer, and that requires the
 * source's offset to decompose into independent per-partition
 * components. Sources with a scalar offset (e.g. [[SyntheticStream]]'s
 * single index) cannot be partially held — for those, pause degrades
 * to all-or-nothing at the pipeline layer (PipelineManager holdback).
 *
 * The reference pauses partitions inside its connector poll loop
 * (KafkaConnectorTask: pausedPartitions reconciled pre-poll from the
 * datastream's metadata); this wrapper is the Spark-shaped equivalent
 * for sources whose offsets expose the same per-partition structure
 * Kafka's do.
 *
 * Safety requirement on the inner source: `latestOffset(start, limit)`
 * must be a pure admission decision (no internal progress side
 * effects) — true of the Spark Kafka source (a metadata fetch) and of
 * every engine-authored source here. The wrapper clamps paused
 * components of the returned offset back to `start`'s value, so the
 * held range is simply re-offered next micro-batch.
 */
trait PartitionedOffsetCodec extends Serializable {
  /** Decompose a source offset JSON into named per-partition
    * components. Keys are the pause-control names (e.g. "topic-0"). */
  def split(json: String): Map[String, String]

  /** Recompose components into offset JSON; must invert [[split]] for
    * every reachable offset of the wrapped source. */
  def merge(components: Map[String, String]): String
}

/** Positional comma-vector offsets ("12,0,3") — the shape of
  * [[VectorOffset]] and of any home-grown per-partition counter.
  * Component keys are the positional indices ("0", "1", ...). */
object VectorOffsetCodec extends PartitionedOffsetCodec {
  override def split(json: String): Map[String, String] =
    json.split(",").iterator.zipWithIndex
      .map { case (v, i) => i.toString -> v.trim }.toMap
  override def merge(components: Map[String, String]): String = {
    val n = components.size
    (0 until n).map(i => components(i.toString)).mkString(",")
  }
}

/**
 * The Spark Kafka source's offset shape —
 * `{"topicA":{"0":123,"1":45},"topicB":{"0":7}}` (the public
 * KafkaSourceOffset JSON format) — as pause components keyed
 * "topic-partition". Pure JSON re-shaping; needs no Kafka classes, so
 * the pause wrapper for Kafka streams ships even in this broker-less
 * build.
 */
object KafkaOffsetCodec extends PartitionedOffsetCodec {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  override def split(json: String): Map[String, String] =
    JsonMethods.parse(json) match {
      case JObject(topics) => topics.flatMap {
        case (topic, JObject(parts)) => parts.map {
          case (p, JInt(off)) => s"$topic-$p" -> off.toString
          case (p, JLong(off)) => s"$topic-$p" -> off.toString
          case (p, other) => sys.error(s"non-numeric offset $other at $topic-$p")
        }
        case (topic, other) => sys.error(s"non-object topic entry $other at $topic")
      }.toMap
      case other => sys.error(s"unrecognized Kafka offset JSON: $other")
    }

  override def merge(components: Map[String, String]): String = {
    val byTopic = components.toSeq.map { case (k, v) =>
      val cut = k.lastIndexOf('-')
      require(cut > 0, s"component key $k is not topic-partition shaped")
      (k.substring(0, cut), k.substring(cut + 1), v)
    }.groupBy(_._1)
    JsonMethods.compact(JsonMethods.render(JObject(
      byTopic.toList.sortBy(_._1).map { case (topic, parts) =>
        topic -> JObject(parts.sortBy(_._2.toInt).map { case (_, p, v) =>
          p -> (JInt(BigInt(v)): JValue)
        }.toList)
      })))
  }
}

/**
 * The wrapper itself. Pause control mirrors [[PausableSource]]: a
 * reconciled file of comma/whitespace-separated component names
 * (absent/empty = nothing paused; unparseable tokens are control
 * input, matched against component keys, so a stray token simply
 * matches nothing).
 */
final class PausingMicroBatchStream(
    inner: MicroBatchStream with SupportsAdmissionControl,
    codec: PartitionedOffsetCodec,
    pauseFile: String)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset =
    inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def reportLatestOffset(): Offset = inner.reportLatestOffset()

  override def prepareForTriggerAvailableNow(): Unit = inner match {
    case an: SupportsTriggerAvailableNow => an.prepareForTriggerAvailableNow()
    case _ => () // inner runs AvailableNow as plain micro-batches
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled wrapper: use latestOffset(start, limit)")

  /** The hold: let the inner source propose its advance, then clamp
    * every paused component back to `start`'s value. Unpaused
    * partitions keep the full proposed advance; the paused range is
    * re-offered (and re-proposed by the inner source) once the pause
    * set shrinks. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val advanced = inner.latestOffset(start, limit)
    val paused = PausableSource.readPauseTokens(pauseFile)
    if (paused.isEmpty) return advanced
    val s = codec.split(start.json())
    val held = codec.split(advanced.json()).map { case (k, v) =>
      k -> (if (paused(k)) s.getOrElse(k, v) else v)
    }
    inner.deserializeOffset(codec.merge(held))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    inner.planInputPartitions(start, end)
  override def createReaderFactory(): PartitionReaderFactory =
    inner.createReaderFactory()
}

/**
 * Server-side registry of inner providers the pausing wrapper may
 * instantiate. The reference only ever constructs connectors from its
 * server-configured factory list (the coordinator's connector
 * registry), never from client input — mirroring that, `innerFormat`
 * is resolved against this allowlist, not raw `Class.forName` on
 * whatever a REST create carried. Engine-authored providers are
 * pre-registered; an operator extends the list at deploy time via
 * [[PausingProvider.register]] (server code, not the management API).
 */
object PausingProvider {
  private val allowed = new java.util.concurrent.ConcurrentHashMap[String, Unit]()
  Seq(
    classOf[PausableProvider].getName,
    classOf[SyntheticProvider].getName,
    classOf[DirWatchProvider].getName,
    // the Spark Kafka provider, when its jar is on the classpath
    "org.apache.spark.sql.kafka010.KafkaSourceProvider"
  ).foreach(allowed.put(_, ()))

  /** Deploy-time extension point (server configuration, like the
    * reference's connector factory list). */
  def register(className: String): Unit = allowed.put(className, ())

  /** Symmetric removal — a registration typo should not require a
    * process restart (and tests must not leak entries into the
    * process-global allowlist). */
  def unregister(className: String): Unit = { allowed.remove(className): Unit }

  private[sources] def resolveInner(className: String)
      : org.apache.spark.sql.connector.catalog.TableProvider = {
    require(allowed.containsKey(className),
      s"innerFormat '$className' is not a registered inner provider; " +
        "register it server-side via PausingProvider.register")
    val loaded = Class.forName(className)
    require(
      classOf[org.apache.spark.sql.connector.catalog.TableProvider]
        .isAssignableFrom(loaded),
      s"innerFormat '$className' is not a TableProvider")
    loaded.getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableProvider]
  }
}

/**
 * Provider-level integration: `spark.readStream
 *   .format(classOf[PausingProvider].getName)
 *   .option("innerFormat", "<TableProvider class name>")
 *   .option("offsetCodec", "vector" | "kafka")
 *   .option("pauseFile", path)
 *   .options(<inner source options>)` — wraps ANY foreign DSv2
 * TableProvider's micro-batch stream in [[PausingMicroBatchStream]]
 * without the inner source changing a line. Inner options pass
 * through untouched (the wrapper consumes only its own three).
 * `innerFormat` must name a provider registered in the server-side
 * allowlist ([[PausingProvider.register]]).
 *
 * The reference shape being matched: the connector-level pause set is
 * applied OUTSIDE the consumer (preConsumerPollHook reconciles before
 * every poll) — here outside the wrapped source, at offset planning.
 */
final class PausingProvider extends org.apache.spark.sql.connector.catalog.TableProvider {
  import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
  import org.apache.spark.sql.connector.expressions.Transform
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  private def innerProvider(opts: CaseInsensitiveStringMap): TableProvider = {
    val cls = opts.get("innerformat")
    require(cls != null && cls.nonEmpty,
      "pausing source requires option 'innerFormat' (inner TableProvider class)")
    PausingProvider.resolveInner(cls)
  }

  private def codecOf(opts: CaseInsensitiveStringMap): PartitionedOffsetCodec =
    opts.getOrDefault("offsetcodec", "vector") match {
      case "vector" => VectorOffsetCodec
      case "kafka" => KafkaOffsetCodec
      case other => throw new IllegalArgumentException(
        s"unknown offsetCodec '$other' (known: vector, kafka)")
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    innerProvider(options).inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val inner = innerProvider(opts).getTable(schema, partitioning, properties)
    val codec = codecOf(opts)
    val pauseFile = opts.getOrDefault("pausefile", "")
    new Table with SupportsRead {
      override def name(): String = s"pausing(${inner.name()})"
      override def schema(): StructType = inner.schema()
      override def capabilities(): java.util.Set[TableCapability] =
        inner.capabilities()
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => {
          val innerScan = inner.asInstanceOf[SupportsRead]
            .newScanBuilder(options).build()
          new Scan {
            override def readSchema(): StructType = innerScan.readSchema()
            override def toMicroBatchStream(checkpointLocation: String) =
              new PausingMicroBatchStream(
                innerScan.toMicroBatchStream(checkpointLocation)
                  .asInstanceOf[MicroBatchStream with SupportsAdmissionControl],
                codec, pauseFile)
          }
        }
    }
  }
}

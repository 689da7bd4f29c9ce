package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType

/** Wall-clock microseconds: the clock input stamps and commit-file
  * mtimes are both read from, so latency is one subtraction. */
object Clock {
  def micros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  def sleepUntilNanos(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = t - System.nanoTime()
    }
  }
}

object Stats {
  /** Weighted quantile over (value, weight) samples, nearest rank. */
  def quantile(samples: Seq[(Double, Long)], q: Double): Double =
    if (samples.isEmpty) Double.NaN
    else {
      val sorted = samples.sortBy(_._1)
      val total = sorted.map(_._2).sum
      val target = math.max(1L, math.ceil(q * total).toLong)
      var acc = 0L
      sorted.find { case (_, w) => acc += w; acc >= target }.get._1
    }
  def quantile(values: Seq[Double], q: Double)(implicit d: DummyImplicit): Double =
    quantile(values.map(v => (v, 1L)), q)
  def median(values: Seq[Double]): Double = quantile(values, 0.5)
  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) 0.0 else values.sum / values.size
}

object Fs {
  def mkdirs(p: String): String = { new File(p).mkdirs(); p }
  def readLines(f: File): Seq[String] =
    try Files.readAllLines(f.toPath).asScala.toSeq
    catch { case _: java.io.IOException => Nil }
  def mtimeMicros(f: File): Long =
    Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS)
}

/** One generated input file: every row in it carries the same creation
  * stamp, the instant the file was due. */
final case class FeedFile(name: String, tick: Long, dueMicros: Long,
    rows: Int, firstSeq: Long)

/**
 * Open-loop input generator. Tick k is due at start + k * period
 * whatever the engine is doing; a late tick is written as soon as the
 * thread gets to it and its lateness is recorded. Files are written on
 * the Spark driver through parquet-hadoop (no Spark job on the session under
 * test), under a hidden name, then renamed into `dir` so the file
 * source never lists a partial file.
 */
final class OpenLoopFeed(dir: String, periodMs: Long, schema: MessageType,
    fill: (FeedFile, Group => Unit) => Unit, rowsOf: Long => Int) {
  private val conf = new Configuration()
  GroupWriteSupport.setSchema(schema, conf)
  private val fs = new Path(dir).getFileSystem(conf)
  private val files = new ConcurrentLinkedQueue[FeedFile]()
  private val late = new ConcurrentLinkedQueue[java.lang.Double]()
  private val seq = new AtomicLong(0L)
  @volatile private var running = false
  private var thread: Thread = _
  private var nextTick = 0L

  def written: Seq[FeedFile] = files.asScala.toSeq
  def rowsWritten: Long = seq.get()
  def lateMs: Seq[Double] = late.asScala.toSeq.map(_.doubleValue)

  /** Write tick `tick` now, stamped `dueMicros`. */
  def writeTick(tick: Long, dueMicros: Long): FeedFile = {
    val n = rowsOf(tick)
    val rec = FeedFile(f"in-$tick%08d.parquet", tick, dueMicros, n,
      seq.getAndAdd(n.toLong))
    val tmp = new Path(dir, s"_tmp-${rec.name}")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try fill(rec, g => w.write(g)) finally w.close()
    if (!fs.rename(tmp, new Path(dir, rec.name)))
      sys.error(s"feed rename failed for ${rec.name}")
    files.add(rec)
    rec
  }

  /** Start the schedule at the next tick; tick times are fixed now. */
  def start(): Unit = {
    running = true
    val first = nextTick
    val t0n = System.nanoTime()
    val t0w = Clock.micros()
    thread = new Thread(() => {
      var k = first
      while (running) {
        val dueN = t0n + (k - first) * periodMs * 1000000L
        Clock.sleepUntilNanos(dueN)
        if (running) {
          late.add((System.nanoTime() - dueN) / 1e6)
          writeTick(k, t0w + (k - first) * periodMs * 1000L)
          k += 1
          nextTick = k
        }
      }
    }, "perfbench-feed")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = { running = false; if (thread != null) thread.join() }

  /** Write `n` ticks back to back, stamped now (a pre-built backlog or
    * the seed file the source infers its schema from). */
  def writeNow(n: Int): Unit = (0 until n).foreach { _ =>
    writeTick(nextTick, Clock.micros()); nextTick += 1
  }
}

/**
 * Ack watcher: reads a streaming query's checkpoint directory only —
 * the file-source log (which source offset admitted each input file),
 * the offset log (which engine batch ends at which source offset) and
 * the commit log, whose file mtime is the batch's ack instant. No
 * Spark job runs and no sink data is read.
 */
final class AckLog(ckpt: String) {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r
  private val LogOffsetRe = "\"logOffset\":(\\d+)".r
  private val fileOffset = new ConcurrentHashMap[String, java.lang.Long]()
  private val batchEnd = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val commitAt = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val seenSourceLogs = ConcurrentHashMap.newKeySet[String]()

  private def numbered(d: String): Seq[File] =
    Option(new File(d).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))

  /** Pick up log entries written since the last refresh. */
  def refresh(): Unit = synchronized {
    numbered(s"$ckpt/sources/0").filter(f => f.getName.matches("\\d+(\\.compact)?"))
      .filterNot(f => seenSourceLogs.contains(f.getName))
      .foreach { f =>
        val lines = Fs.readLines(f)
        // a log file is complete once written (write-temp-then-rename)
        if (lines.nonEmpty) {
          lines.drop(1).foreach { l =>
            for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
              fileOffset.put(p.group(1).substring(p.group(1).lastIndexOf('/') + 1),
                b.group(1).toLong)
          }
          seenSourceLogs.add(f.getName)
        }
      }
    numbered(s"$ckpt/offsets").filter(_.getName.matches("\\d+"))
      .filterNot(f => batchEnd.containsKey(f.getName.toLong))
      .foreach { f =>
        Fs.readLines(f).reverse.iterator
          .flatMap(l => LogOffsetRe.findFirstMatchIn(l)).take(1)
          .foreach(m => batchEnd.put(f.getName.toLong, m.group(1).toLong))
      }
    numbered(s"$ckpt/commits").filter(_.getName.matches("\\d+"))
      .filterNot(f => commitAt.containsKey(f.getName.toLong))
      .foreach(f => commitAt.put(f.getName.toLong, Fs.mtimeMicros(f)))
  }

  /** Engine batch that delivered `file`, once its offset is logged. */
  def batchOf(file: String): Option[Long] =
    Option(fileOffset.get(file)).flatMap { off =>
      batchEnd.asScala.toSeq.filter(_._2 >= off).map(_._1.toLong).sorted.headOption
    }

  def ackMicros(file: String): Option[Long] =
    batchOf(file).flatMap(b => Option(commitAt.get(b)).map(_.toLong))

  def commits: Map[Long, Long] =
    commitAt.asScala.map { case (k, v) => (k.toLong, v.toLong) }.toMap

  /** Acked rate at batch boundaries over `batches` (batch, commit
    * instant): the feed rows of every batch after the earliest, over
    * the seconds from its commit to the latest. The earliest batch's
    * rows were admitted before the span began. Returns (rows, seconds);
    * seconds is NaN with fewer than two batches. */
  def ackedRate(batches: Seq[(Long, Long)], feed: Seq[FeedFile]): (Long, Double) = {
    val sorted = batches.sortBy(_._2)
    val later = sorted.drop(1).map(_._1).toSet
    val rows = feed.filter(f => batchOf(f.name).exists(later)).map(_.rows.toLong).sum
    val secs = if (sorted.size < 2) Double.NaN else (sorted.last._2 - sorted.head._2) / 1e6
    (rows, secs)
  }

  def allAcked(files: Seq[String]): Boolean = {
    refresh(); files.forall(f => ackMicros(f).isDefined)
  }

  def awaitAcked(files: Seq[String], timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!allAcked(files) && System.currentTimeMillis() < end) Thread.sleep(20)
    allAcked(files)
  }

  /** First commit strictly after `micros`, if any. */
  def firstCommitAfter(micros: Long): Option[(Long, Long)] = {
    refresh()
    commits.toSeq.filter(_._2 > micros).sortBy(_._2).headOption
  }
}

/** Named wall-clock durations recorded from the harness's own calls
  * into a module. */
final class Timings {
  private val all = new ConcurrentLinkedQueue[(String, Double)]()

  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally all.add(name -> (System.nanoTime() - t0) / 1e6)
  }

  /** Durations in ms of every call timed as `name`, in call order. */
  def durationsMs(name: String): Seq[Double] =
    all.asScala.toSeq.collect { case (n, ms) if n == name => ms }
}

/** JVM-level counters read through the platform MXBeans. */
object Jvm {
  private def gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMillis: Long = gcs.map(b => math.max(0L, b.getCollectionTime)).sum
  def usedHeapMb: Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
  /** Used heap after full collections: what the run left reachable. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    usedHeapMb
  }
}

/** Samples used heap every 50 ms; `peakMb` is the highest sample. */
final class HeapSampler {
  @volatile private var peak = 0.0
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) { peak = math.max(peak, Jvm.usedHeapMb); Thread.sleep(50) }
  }, "perfbench-heap")
  t.setDaemon(true); t.start()
  def peakMb: Double = peak
  def reset(): Unit = peak = Jvm.usedHeapMb
  def stop(): Unit = { running = false; t.join() }
}

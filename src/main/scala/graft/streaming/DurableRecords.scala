package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/**
 * The control plane's durable store: the one owner of the layout under
 * a manager's checkpoint root and of the bytes of every record kept
 * there — the role the reference gives its single ZkAdapter
 * (ZkAdapter.java: every coordination znode goes through it). Every
 * per-pipeline path is keyed by [[PipelineManager.namespaceOf]], so a
 * name can never alias another pipeline's state or a reserved
 * top-level entry ([[DurableRecords.ReservedNames]]); alphanumeric
 * names encode to themselves, so their layout is the historical one.
 *
 * | record            | path                                      | write           |
 * |-------------------|-------------------------------------------|-----------------|
 * | spec (JSON)       | `specs/<ns>.json` (mtime = specVersion)   | [[replace]]     |
 * | pause set         | `<ns>.paused`                             | [[replace]]     |
 * | reassign request  | `reassign-requests/<ns>.req`              | [[replace]]     |
 * | holdback stamp    | `group-holdback/<ns>/_graft_holdback_meta`| [[replace]]     |
 * | lifecycle request | `lifecycle-requests/<ns>.<requestor>.<seq>.req` | [[createExclusive]] |
 * | execution lock    | `locks/<ns>.lock`                         | [[createExclusive]] |
 * | registration      | `instances/<instanceId>` (empty)          | [[createExclusive]] |
 *
 * Every record but the spec is one [[DurableRecords.frame]]; every
 * read is tri-state ([[DurableRecords.Read]]), and a read of a
 * replaced kind falls back to a complete staged `.next`, so no reader
 * mistakes a replace window for "positively absent". Data directories
 * (checkpoints, holdback tables, sketches, default destinations) are
 * located here too but written by their own protocols.
 */
private[graft] final class DurableRecords(fs: FileSystem, root: String) {
  import DurableRecords._

  private def ns(name: String): String = PipelineManager.namespaceOf(name)

  // ---- layout ----
  val specDir: Path = new Path(s"$root/$SpecsDir")
  val lockDir: Path = new Path(s"$root/$LocksDir")
  val reassignDir: Path = new Path(s"$root/$ReassignDir")
  val lifecycleDir: Path = new Path(s"$root/$LifecycleDir")
  val rootDir: Path = new Path(root)
  private val groupHoldbackDir = new Path(s"$root/$GroupHoldbackDir")
  def spec(name: String): Path = new Path(specDir, s"${ns(name)}.json")
  def lock(name: String): Path = new Path(lockDir, s"${ns(name)}.lock")
  def paused(name: String): Path = new Path(rootDir, s"${ns(name)}$PausedSuffix")
  def reassign(name: String): Path = new Path(reassignDir, s"${ns(name)}.req")
  def lifecycle(name: String, requestor: String, seq: Long): Path =
    new Path(lifecycleDir, f"${ns(name)}.${ns(requestor)}.$seq%012d.req")
  def instance(id: String): Path = new Path(s"$root/$InstancesDir/$id")
  def checkpoint(name: String): Path = new Path(rootDir, ns(name))
  def holdback(name: String): Path = new Path(rootDir, s"${ns(name)}.holdback")
  def groupCheckpoint(prefix: String): Path = new Path(rootDir, s"group-${ns(prefix)}")
  def groupHoldback(leader: String): Path = new Path(groupHoldbackDir, ns(leader))
  def sketch(name: String): String = s"$root/$SketchDir/${ns(name)}"
  def defaultDest(name: String): String = s"$root/$DestDir/${ns(name)}"

  /** Whether `p` is of a kind [[replace]] writes (spec, pause set,
    * reassign request, holdback stamp): only those ever have a staged
    * `.next`, so only their reads and deletes look for one. */
  private def replaced(p: Path): Boolean = {
    val (n, dir) = (p.getName, p.getParent.getName)
    n.endsWith(PausedSuffix) || n == PipelineManager.HoldbackMetaFile ||
      dir == SpecsDir || dir == ReassignDir
  }

  // ---- reads ----

  /** The record at `p`, parsed by `parse` (None, or a throw, = torn).
    * An absent or torn record of a [[replace]]d kind falls back to its
    * staged `.next` — the authority inside a replace window. When both
    * are absent, a replace may have renamed `.next` into place between
    * the two opens, so the record is read once more before it counts
    * as absent (`.next` only ever leaves by that rename or by
    * [[delete]], which removes it before the record). A torn record
    * with nothing staged is an abandoned first write
    * ([[abandonedFirstWrite]]). */
  def read[A](p: Path)(parse: Array[Byte] => Option[A]): Read[A] =
    readOne(p, parse) match {
      case main @ (Found(_) | Unknown(false)) => main
      case main if !replaced(p) => main
      case main => (main, readOne(nextOf(p), parse)) match {
        case (_, staged @ Found(_)) => staged
        case (Absent, Absent) => readOne(p, parse)
        case (Absent, staged) => staged
        case (Unknown(true), Absent) => abandonedFirstWrite(p, parse)
        case _ => main
      }
    }

  /** A torn record of a [[replace]]d kind with nothing staged beside
    * it can only be a first write — replace's exclusive create — that
    * never completed, so no complete record ever existed. Once older
    * than [[PipelineManager.AcquireGraceMs]] (the create-to-write grace
    * the request consumers and lock acquirers apply) it is no longer
    * in flight: it is deleted and reads as absent, so one crashed
    * first write cannot keep every snapshot of the root unknowable.
    * Younger, it stays unknowable. Judged again under the path's
    * replace stripe, so a replace in this JVM that completed the
    * record meanwhile is read, never deleted; a writer in another
    * process stalled past the grace is the hazard the request
    * consumers already accept. */
  private def abandonedFirstWrite[A](p: Path, parse: Array[Byte] => Option[A])
      : Read[A] = replaceStripes(p.toString).synchronized {
    readOne(p, parse) match {
      case torn @ Unknown(true) =>
        val stale =
          try !fs.exists(nextOf(p)) && System.currentTimeMillis() -
            fs.getFileStatus(p).getModificationTime > PipelineManager.AcquireGraceMs
          catch { case _: IOException => false }
        if (stale) { delete(p); Absent } else torn
      case other => other
    }
  }

  private def readOne[A](p: Path, parse: Array[Byte] => Option[A]): Read[A] =
    try {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      (try parse(bytes) catch { case NonFatal(_) => None })
        .fold[Read[A]](Unknown(torn = true))(Found(_))
    } catch {
      case _: FileNotFoundException => Absent
      case _: IOException => Unknown(torn = false)
    }

  /** The framed record at `p` ([[frame]]). */
  def fields(p: Path): Read[Seq[String]] = read(p)(unframe)

  /** Records in `dir` named `<key><suffix>` (or only staged as
    * `<key><suffix>.next`), one entry per key, sorted by key. Throws
    * when the listing itself fails. */
  def list(dir: Path, suffix: String): Seq[Listed] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).flatMap { st =>
      val n = st.getPath.getName
      Seq(suffix, suffix + Next).find(n.endsWith)
        .map(s => (n.stripSuffix(s), s == suffix, st))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (key, sts) =>
      // the record itself outranks a leftover or in-flight `.next`
      val st = sts.find(_._2).getOrElse(sts.head)._3
      Listed(key, new Path(dir, key + suffix), st.getModificationTime, st.getLen)
    }

  /** Every group-holdback dir (sorted by name) with its stamp — the
    * owner namespace its epochs were written under and the
    * destination they drain to — when one is readable. */
  def stamps(): Seq[(Path, Option[(String, String)])] =
    if (!fs.exists(groupHoldbackDir)) Nil
    else fs.listStatus(groupHoldbackDir).toSeq.filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName).map(d => d -> stamp(d))

  def stamp(dir: Path): Option[(String, String)] =
    fields(new Path(dir, PipelineManager.HoldbackMetaFile)).toOption.collect {
      case Seq(owner, dest) if owner.nonEmpty && dest.nonEmpty => (owner, dest)
    }

  def writeStamp(dir: Path, owner: String, dest: String): Unit =
    replace(new Path(dir, PipelineManager.HoldbackMetaFile), frame(Seq(owner, dest)))

  /** Throws FileNotFoundException when `p` does not exist. */
  def status(p: Path): FileStatus = fs.getFileStatus(p)

  // ---- writes ----

  /** Overwrite the record at `p` without a torn window. A first write
    * creates the record exclusively (a reader sees it absent, torn or
    * whole, as it would a staged first write). Otherwise the bytes are
    * staged as `.next`, the record deleted and `.next` renamed into
    * place; every intermediate state reads as the old or the new
    * record ([[read]]'s fallback). A complete `.next` left by a
    * crashed predecessor with the record gone is written over by the
    * new record and never read again while the record stands.
    * `mtime >= 0` stamps the record (a filesystem refusing setTimes
    * keeps its own; a first write shows its creation time until the
    * stamp lands). Serialized per path within the JVM; two
    * uncoordinated processes replacing one record leave one of their
    * values. */
  def replace(p: Path, bytes: Array[Byte], mtime: Long = -1L): Unit = {
    require(replaced(p), s"$p is not a record kind replace writes")
    def stamp(q: Path): Unit =
      if (mtime >= 0L) try fs.setTimes(q, mtime, -1) catch { case NonFatal(_) => () }
    replaceStripes(p.toString).synchronized {
      if (createExclusive(p, bytes)) stamp(p)
      else {
        val next = nextOf(p)
        val out = fs.create(next, true)
        try out.write(bytes) finally out.close()
        stamp(next)
        fs.delete(p, false)
        if (!fs.rename(next, p) && !fs.exists(p))
          throw new IOException(s"replace of $p failed: $next did not move into place")
      }
    }
  }

  /** Create the record at `p` only if nothing is there: false when it
    * exists (both spellings of the collision — any other create
    * failure propagates). A failure after the create removes the
    * partial file and propagates. */
  def createExclusive(p: Path, bytes: Array[Byte]): Boolean = {
    val out =
      try fs.create(p, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException => return false
        case e: IOException =>
          if (try fs.exists(p) catch { case _: IOException => throw e }) return false
          throw e
      }
    try try out.write(bytes) finally out.close()
    catch {
      case e: Throwable =>
        try fs.delete(p, false): Unit catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    }
    true
  }

  /** Delete the record at `p` and, for a [[replace]]d kind, any staged
    * `.next` of it (staged first: a crash in between leaves the
    * record, never a stale `.next` that reads would resurrect). */
  def delete(p: Path): Unit = {
    if (replaced(p)) fs.delete(nextOf(p), false)
    fs.delete(p, false): Unit
  }

  def touch(p: Path, mtime: Long): Unit = fs.setTimes(p, mtime, -1)

  /** Atomically move the lock at `p` aside to a unique tombstone next
    * to it; the tombstone, or None when `p` was already gone. */
  def moveAside(p: Path): Option[Path] = {
    val tomb = new Path(p.getParent,
      s"_reclaim-${p.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    if (fs.rename(p, tomb)) Some(tomb) else None
  }

  /** Move `tomb` back to `p` (fails, keeping the tombstone, when `p`
    * exists again). */
  def restore(tomb: Path, p: Path): Boolean = fs.rename(tomb, p)
}

private[graft] object DurableRecords {

  /** Tri-state result of reading one record. */
  sealed trait Read[+A] {
    def toOption: Option[A] = this match {
      case Found(a) => Some(a)
      case _ => None
    }
    def map[B](f: A => B): Read[B] = this match {
      case Found(a) => Found(f(a))
      case other => other.asInstanceOf[Read[B]]
    }
    /** A complete record failing `valid` reads as torn. */
    def filter(valid: A => Boolean): Read[A] = this match {
      case Found(a) if !valid(a) => Unknown(torn = true)
      case other => other
    }
  }
  /** A complete record. */
  final case class Found[A](value: A) extends Read[A]
  /** Positively absent: neither the record nor a staged `.next` exists. */
  case object Absent extends Read[Nothing]
  /** Unknowable now: `torn` = read whole but incomplete (a crashed or
    * in-flight writer), else the read itself failed (transient IO).
    * Destructive callers keep their hands off either way. */
  final case class Unknown(torn: Boolean) extends Read[Nothing]

  /** One entry of [[DurableRecords.list]]: the record's path (never
    * the `.next`) and the (mtime, length) stamp of the file listed. */
  final case class Listed(key: String, path: Path, mtime: Long, len: Long)

  private val Next = ".next"
  private def nextOf(p: Path): Path = new Path(p.getParent, p.getName + Next)

  private val PausedSuffix = ".paused"

  // the top-level directories of a root, each named once
  private val SpecsDir = "specs"
  private val LocksDir = "locks"
  private val InstancesDir = "instances"
  private val SketchDir = "sketch"
  private val DestDir = "dest"
  private val ReassignDir = "reassign-requests"
  private val LifecycleDir = "lifecycle-requests"
  private val GroupHoldbackDir = "group-holdback"
  private val TopLevelDirs = Seq(SpecsDir, LocksDir, InstancesDir, SketchDir, DestDir,
    ReassignDir, LifecycleDir, GroupHoldbackDir)

  /** Names no pipeline namespace may take: the anonymous writers'
    * namespace and every top-level directory a namespace could spell
    * (one of `[A-Za-z0-9_]`; the others hold `-`, which none does). */
  val ReservedNames: Set[String] = (PipelineManager.ReservedNamespace +:
    TopLevelDirs.filter(_.matches("[A-Za-z0-9_]+"))).toSet

  private val replaceStripes = new Stripes

  /** Closing line of every frame: a frame without it was cut short by
    * a crashed writer. No encoded field line starts with `.`, so only
    * the whole frame ends in `\n.` — EVERY truncation point reads as
    * torn and a partial can never parse as a different record. */
  private val FrameEnd: String = "."

  /** Fields one per line, then [[FrameEnd]]. `\` escapes a backslash,
    * a newline (`\n`) and a leading `.`; any string round-trips, and a
    * field without those characters is stored as itself. */
  def frame(fields: Seq[String]): Array[Byte] =
    (fields.map { f =>
      val e = f.replace("\\", "\\\\").replace("\n", "\\n")
      if (e.startsWith(".")) "\\" + e else e
    } :+ FrameEnd).mkString("\n").getBytes(UTF_8)

  /** The fields of a complete frame; None when torn or malformed. */
  def unframe(bytes: Array[Byte]): Option[Seq[String]] = {
    val lines = new String(bytes, UTF_8).split("\n", -1).toSeq
    if (lines.last != FrameEnd || lines.init.exists(_.startsWith("."))) None
    else {
      val decoded = lines.init.map(unescape)
      if (decoded.contains(None)) None else Some(decoded.flatten)
    }
  }

  private def unescape(line: String): Option[String] = {
    val b = new StringBuilder
    var i = 0
    while (i < line.length) {
      if (line(i) != '\\') { b += line(i); i += 1 }
      else if (i + 1 < line.length && "\\n.".contains(line(i + 1))) {
        b += (if (line(i + 1) == 'n') '\n' else line(i + 1)); i += 2
      } else return None
    }
    Some(b.result())
  }
}

package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{PipelineSpec, PipelineSpecJson}
import graft.streaming.DurableRecords._

/** The control plane's record store: one codec that round-trips any
  * field and reads every truncation as torn, and one replace whose
  * every crash state reads as the old or the new record. */
class DurableRecordsSpec extends AnyFunSuite {

  private def store(): (FileSystem, DurableRecords) = {
    val root = Files.createTempDirectory("graft-records-").toString
    val fs = new Path(root).getFileSystem(new Configuration())
    (fs, new DurableRecords(fs, root))
  }

  private def put(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private val awkward = Seq("", ".", "..", "\n", "a\nb", ".x", "x.", "\\",
    "\\n", "\\.", "a\\", "/tmp/d\n.", "é✓", "\n.\n")

  test("arbitrary strings round-trip through the frame codec") {
    awkward.foreach(f => assert(unframe(frame(Seq(f))).contains(Seq(f)), f))
    assert(unframe(frame(awkward)).contains(awkward))
    assert(unframe(frame(Nil)).contains(Nil))
    val rnd = new scala.util.Random(7)
    val alphabet = "ab.\\\n/é"
    (1 to 500).foreach { _ =>
      val fields = Seq.fill(rnd.nextInt(5))(
        Seq.fill(rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      assert(unframe(frame(fields)).contains(fields), fields)
    }
    // plain fields keep their historical bytes
    assert(new String(frame(Seq("p", "inst-1", "pause", "true")), "UTF-8") ==
      "p\ninst-1\npause\ntrue\n.")
  }

  test("every record kind reads as torn at every truncation point") {
    val (fs, records) = store()
    val spec = PipelineSpecJson.writeVersioned(
      PipelineSpec("a\nb", "parquet", "parquet", "/src/.x"), 3L).getBytes("UTF-8")
    val kinds: Seq[(Path, Array[Byte], Read[Any])] = {
      def framed(p: Path, fields: Seq[String]) = (p, frame(fields), Found(fields))
      Seq(
        (records.spec("a\nb"), spec,
          Found(PipelineSpecJson.read(new String(spec, "UTF-8")))),
        framed(records.paused("a\nb"), Seq("a\nb", "part", "", ".", "v\n")),
        framed(records.reassign("a\nb"), Seq("a\nb", "inst", "/dest/.\nx")),
        framed(records.lifecycle("a\nb", "inst", 0L), Seq("a\nb", "inst", "stop", "true")),
        framed(records.lock("a\nb"), Seq("inst")),
        framed(new Path(records.groupHoldback("a\nb"), PipelineManager.HoldbackMetaFile),
          Seq("a\nb", "/dest/.")))
    }
    def read(p: Path): Read[Any] =
      if (p.getName.endsWith(".json"))
        records.read(p)(b => Some(PipelineSpecJson.read(new String(b, "UTF-8"))))
      else records.fields(p)
    kinds.foreach { case (p, bytes, whole) =>
      assert(read(p) == Absent, p)
      (0 until bytes.length).foreach { cut =>
        put(fs, p, bytes.take(cut))
        assert(read(p) == Unknown(torn = true), s"$p cut at $cut")
      }
      put(fs, p, bytes)
      assert(read(p) == whole, p)
    }
  }

  test("every crash state of a replace reads as the old or the new record") {
    val (fs, records) = store()
    val p = records.reassign("r")
    val next = new Path(p.getParent, p.getName + ".next")
    val (v1, v2) = (frame(Seq("r", "i", "old")), frame(Seq("r", "i", "new")))
    records.replace(p, v1)
    assert(records.fields(p) == Found(Seq("r", "i", "old")))
    // staged write torn: the record stands
    put(fs, next, v2.take(5))
    assert(records.fields(p) == Found(Seq("r", "i", "old")))
    // staged whole, record not yet deleted: still the old record
    put(fs, next, v2)
    assert(records.fields(p) == Found(Seq("r", "i", "old")))
    // record deleted, staged not yet renamed: the staged one IS the
    // record, for point reads and listings alike
    fs.delete(p, false)
    assert(records.fields(p) == Found(Seq("r", "i", "new")))
    assert(records.list(records.reassignDir, ".req").map(_.key) == Seq("r"))
    assert(records.list(records.reassignDir, ".req").head.path == p)
    // the next replace writes the record over it; the staged copy is
    // never read again while the record stands
    records.replace(p, frame(Seq("r", "i", "newer")))
    assert(records.fields(p) == Found(Seq("r", "i", "newer")))
    assert(records.list(records.reassignDir, ".req").map(_.len) ==
      Seq(frame(Seq("r", "i", "newer")).length.toLong))
    // a replace of a standing record leaves no staged copy behind
    records.replace(p, frame(Seq("r", "i", "newest")))
    assert(records.fields(p) == Found(Seq("r", "i", "newest")))
    assert(!fs.exists(next))
    // a staged-only record that is torn is unknowable, never absent
    fs.delete(p, false)
    put(fs, next, v2.take(3))
    assert(records.fields(p) == Unknown(torn = true))
    // delete removes the staged record too
    records.delete(p)
    assert(records.fields(p) == Absent)
    assert(records.list(records.reassignDir, ".req").isEmpty)
  }

  test("a read that misses the record and then its .next renamed in between finds the record") {
    val root = Files.createTempDirectory("graft-records-race-").toString
    val fs = new SpecReadHookFs
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    val records = new DurableRecords(fs, root)
    val p = records.spec("s")
    val next = new Path(p.getParent, p.getName + ".next")
    records.replace(p, "{}".getBytes("UTF-8"))
    assert(fs.rename(p, next)) // inside a replace: deleted, staged
    SpecReadHookFs.arm("s.json", () => assert(fs.rename(next, p)))
    assert(records.read(p)(b => Some(b.length)) == Found(2))
    assert(SpecReadHookFs.fired.get)
  }

  test("an abandoned torn first write reads as absent past the grace, never a record completed meanwhile") {
    val root = Files.createTempDirectory("graft-records-torn-").toString
    val fs = new SpecReadHookFs
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    val records = new DurableRecords(fs, root)
    val p = records.reassign("t")
    def tornFirstWrite(): Unit = {
      put(fs, p, frame(Seq("t", "i", "old")).take(4))
      fs.setTimes(p, System.currentTimeMillis() - PipelineManager.AcquireGraceMs - 60000L, -1)
    }
    // a young torn record may still be mid-write: unknowable, kept
    put(fs, p, frame(Seq("t", "i", "old")).take(4))
    assert(records.fields(p) == Unknown(torn = true))
    assert(fs.exists(p))
    // aged, but a replace completes the record right after the reader
    // saw the torn bytes: the completed record is read, not deleted
    tornFirstWrite()
    SpecReadHookFs.arm("t.req", () => records.replace(p, frame(Seq("t", "i", "new"))))
    assert(records.fields(p) == Found(Seq("t", "i", "new")))
    assert(SpecReadHookFs.fired.get)
    assert(records.fields(p) == Found(Seq("t", "i", "new")))
    // aged with no writer: no complete record ever existed — absent,
    // and removed so no later snapshot of the root reads it as unknown
    tornFirstWrite()
    assert(records.fields(p) == Absent)
    assert(!fs.exists(p))
    assert(records.list(records.reassignDir, ".req").isEmpty)
  }

  test("only the kinds replace writes have a staged .next") {
    val (fs, records) = store()
    val l = records.lock("k")
    put(fs, new Path(l.getParent, l.getName + ".next"), frame(Seq("A")))
    assert(records.fields(l) == Absent, "a lock is never staged")
    intercept[IllegalArgumentException](records.replace(l, frame(Seq("B"))))
    records.replace(records.paused("k"), frame(Seq("k", "c", "v")))
    records.replace(records.spec("k"), "{}".getBytes("UTF-8"))
    records.replace(records.reassign("k"), frame(Seq("k", "i", "d")))
    records.writeStamp(records.groupHoldback("k"), "k", "/d")
    assert(records.stamp(records.groupHoldback("k")).contains(("k", "/d")))
  }

  test("replace stamps the mtime it is given; createExclusive refuses an existing record") {
    val (fs, records) = store()
    val p = records.spec("s")
    records.replace(p, "{}".getBytes("UTF-8"), mtime = 42L) // first write
    assert(fs.getFileStatus(p).getModificationTime == 42L)
    records.replace(p, "{ }".getBytes("UTF-8"), mtime = 43L) // staged
    assert(fs.getFileStatus(p).getModificationTime == 43L)
    val l = records.lock("s")
    assert(records.createExclusive(l, frame(Seq("A"))))
    assert(!records.createExclusive(l, frame(Seq("B"))))
    assert(records.fields(l) == Found(Seq("A")))
  }

  test("per-pipeline paths are namespaced; alphanumeric names keep their layout") {
    val (_, records) = store()
    assert(records.checkpoint("abc").getName == "abc")
    assert(records.spec("abc").getName == "abc.json")
    assert(records.paused("abc").getName == "abc.paused")
    assert(records.checkpoint("a/b").getParent == records.checkpoint("a").getParent)
    assert(records.checkpoint("a/b") != records.checkpoint("a"))
    assert(!ReservedNames.contains(PipelineManager.namespaceOf("spec-s")))
  }
}

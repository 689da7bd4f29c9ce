package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase

/** The `file:` binding of `core-site.xml`: live for every Hadoop
  * Configuration, the same bits, links, rename and checksum behaviour
  * as Hadoop's stock local filesystem, and no forked processes. */
class LocalFsSpec extends SparkTestBase {

  private val local = URI.create("file:///")

  private def tmp(): Path =
    new Path(Files.createTempDirectory("graft-localfs-").toUri)

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  /** Hadoop's own checksummed local filesystem, bypassing the binding. */
  private def stockFs(): LocalFileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(local, new Configuration())
    fs
  }

  private def fc(): FileContext = FileContext.getFileContext(local, new Configuration())

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the binding is live for a new Configuration and for the session's Hadoop conf, through both APIs") {
    for (conf <- Seq(new Configuration(), spark.sessionState.newHadoopConf(),
        spark.sparkContext.hadoopConfiguration)) {
      assert(FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
      assert(FileContext.getFileContext(local, conf).getDefaultFileSystem
        .isInstanceOf[NioLocalFs])
    }
  }

  test("create and mkdirs leave the same permission bits as the stock filesystem") {
    val dir = tmp()
    val ours = FileSystem.get(local, new Configuration())
    val stock = stockFs()
    def both(name: String)(op: (FileSystem, Path) => Unit): Unit = {
      op(ours, new Path(dir, s"$name-nio"))
      op(stock, new Path(dir, s"$name-stock"))
      assert(mode(new Path(dir, s"$name-nio")) == mode(new Path(dir, s"$name-stock")), name)
    }
    both("file")((fs, p) => fs.create(p).close())
    assert(mode(new Path(dir, ".file-nio.crc")) == mode(new Path(dir, ".file-stock.crc")))
    both("explicit")((fs, p) => fs.create(p, new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null).close())
    both("dir")((fs, p) => assert(fs.mkdirs(p)))
    both("dir750")((fs, p) => assert(fs.mkdirs(p, new FsPermission("750"))))
    val fcDir = new Path(dir, "fc")
    write(fc(), new Path(fcDir, "x"), "x")
    val stockFile = new Path(dir, "fc-stock-x")
    stock.create(stockFile).close()
    assert(mode(new Path(fcDir, "x")) == mode(stockFile))
  }

  test("setPermission round-trips, the sticky bit through the stock path") {
    val dir = tmp()
    val fs = FileSystem.get(local, new Configuration())
    val f = new Path(dir, "f")
    fs.create(f).close()
    fs.setPermission(f, new FsPermission("750"))
    assert(mode(f) == "rwxr-x---")
    assert(fs.getFileLinkStatus(f).getPermission == new FsPermission("750"))
    val sticky = new Path(dir, "sticky")
    fs.mkdirs(sticky)
    fs.setPermission(sticky, new FsPermission("1777"))
    val st = fs.getFileLinkStatus(sticky)
    assert(st.isDirectory && st.getPermission.getStickyBit)
    assert(st.getPermission == new FsPermission("1777"))
    assert(st.getPermission == stockFs().getFileLinkStatus(sticky).getPermission)
  }

  test("getFileLinkStatus matches the stock status, and reports a symlink with its target") {
    val dir = tmp()
    val fs = FileSystem.get(local, new Configuration())
    val f = new Path(dir, "data")
    val out = fs.create(f)
    try out.write(Array.fill[Byte](100)(1)) finally out.close()
    val stock = stockFs()
    for (p <- Seq(f, dir)) {
      val (a, b) = (fs.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert((a.getPath, a.getLen, a.isDirectory, a.isSymlink, a.getPermission,
          a.getOwner, a.getGroup, a.getModificationTime, a.getReplication) ==
        (b.getPath, b.getLen, b.isDirectory, b.isSymlink, b.getPermission,
          b.getOwner, b.getGroup, b.getModificationTime, b.getReplication))
    }
    // a scheme-less path: for a qualified one, Hadoop's own link read
    // (which the binding keeps for links) passes "file:/..." to readlink
    // and reports the target's status instead
    val link = new Path(Paths.get(dir.toUri).resolve("link").toString)
    Files.createSymbolicLink(Paths.get(link.toString), Paths.get(f.toUri))
    val ls = fs.getFileLinkStatus(link)
    assert(ls.isSymlink)
    assert(ls.getSymlink == fs.makeQualified(f))
    assert(ls == stock.getFileLinkStatus(link))
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir, "missing")))
  }

  test("FileContext.rename: NONE refuses an existing target, OVERWRITE replaces it, a missing source throws") {
    val dir = tmp()
    val ctx = fc()
    val (a, b) = (new Path(dir, "a"), new Path(dir, "b"))
    write(ctx, a, "new")
    write(ctx, b, "old")
    intercept[FileAlreadyExistsException](ctx.rename(a, b, Options.Rename.NONE))
    assert(read(ctx, b) == "old")
    ctx.rename(a, b, Options.Rename.OVERWRITE)
    assert(read(ctx, b) == "new" && !ctx.util.exists(a))
    assert(!ctx.util.exists(new Path(dir, ".a.crc")) && ctx.util.exists(new Path(dir, ".b.crc")))
    intercept[FileNotFoundException](
      ctx.rename(new Path(dir, "missing"), new Path(dir, "c"), Options.Rename.NONE))
  }

  test("checksums are still written and a corrupted file is detected on read") {
    val dir = tmp()
    val f = new Path(dir, "f")
    write(fc(), f, "payload")
    val crc = Paths.get(new Path(dir, ".f.crc").toUri)
    assert(Files.size(crc) > 0)
    Files.write(Paths.get(f.toUri), "PAYLOAD".getBytes(UTF_8))
    // the FileSystem API verifies; Hadoop's ChecksumFs (FileContext)
    // reads without verifying, with the stock binding as well
    val fs = FileSystem.get(local, new Configuration())
    intercept[ChecksumException] {
      val in = fs.open(f)
      try in.readAllBytes() finally in.close()
    }
  }

  test("FileContext create+rename cycles fork no processes") {
    val stat = Paths.get("/proc/stat")
    assume(Files.isReadable(stat), "needs /proc/stat")
    def forks(): Long = {
      val line = Files.readAllLines(stat).toArray.map(_.toString)
        .find(_.startsWith("processes ")).get
      line.stripPrefix("processes ").trim.toLong
    }
    val dir = tmp()
    val ctx = fc()
    write(ctx, new Path(dir, "warm"), "w") // class loading, parent dirs
    val before = forks()
    (0 until 100).foreach { i =>
      val staged = new Path(dir, s".staged-$i")
      write(ctx, staged, s"epoch $i")
      ctx.rename(staged, new Path(dir, s"$i"), Options.Rename.OVERWRITE)
    }
    val forked = forks() - before
    // the stock filesystem forks at least 6 times per cycle (chmod for
    // the file and its .crc, readlink on each rename's src and dst)
    assert(forked < 20, s"$forked processes started during 100 cycles")
    assert(read(ctx, new Path(dir, "99")) == "epoch 99")
  }
}

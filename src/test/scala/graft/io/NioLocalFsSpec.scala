package graft.io

import java.io.{File, InputStream, OutputStream, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, FSDataInputStream, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.{GraftContextConf, SparkConf}
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` filesystem against Hadoop's stock
  * `LocalFileSystem`/`LocalFs` on the same operations, each side in a
  * directory of its own. */
class NioLocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private def context(cls: Class[_]): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", cls.getName)
    val fc = FileContext.getFileContext(c)
    assert(fc.getDefaultFileSystem.getClass === cls)
    fc
  }
  /** (side, FileSystem, FileContext): Hadoop's first, the engine's second. */
  private def sides = Seq(
    ("stock", init(new LocalFileSystem), context(classOf[LocalFs])),
    ("engine", init(new NioLocalFileSystem), context(classOf[NioLocalFs])))

  private def tmp(): Path = new Path(Files.createTempDirectory("graft-niofs").toString)
  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
  /** The file's mode bits, sticky bit included, in octal. */
  private def mode(p: Path): String =
    Integer.toOctalString(Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode")
      .asInstanceOf[Int] & 0xfff)
  private def crc(p: Path) = new Path(p.getParent, s".${p.getName}.crc")
  private def exists(p: Path) = new File(p.toUri.getPath).exists()
  private def write(fc: FileContext, p: Path, s: String): Unit =
    write(fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), s)
  private def write(out: OutputStream, s: String): Unit =
    try out.write(s.getBytes(UTF_8)) finally out.close()
  private def read(fc: FileContext, p: Path): String = read(fc.open(p))
  private def read(in: InputStream): String =
    try new String(in.readAllBytes(), UTF_8) finally in.close()

  private val Modes = Seq("777", "755", "750", "700", "644", "640", "604", "600", "444", "400", "000")

  test("permission bits after create, mkdirs and setPermission equal Hadoop's") {
    val got = sides.map { case (side, fs, fc) =>
      val root = tmp()
      val modes = Modes.flatMap { m =>
        val f = new Path(root, s"create$m")
        fs.create(f, perm(m), true, 4096, 1.toShort, 1L << 20, null).close()
        val d = new Path(root, s"mkdirs$m/leaf")
        assert(fs.mkdirs(d, perm(m)))
        val g = new Path(root, s"fccreate$m")
        fc.create(g, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.perms(perm(m))).close()
        val e = new Path(root, s"fcmkdir$m/leaf")
        fc.mkdir(e, perm(m), true)
        val s = new Path(root, s"set$m")
        fs.create(s).close()
        fs.setPermission(s, perm(m))
        Seq(f, crc(f), d, d.getParent, g, crc(g), e, e.getParent, s, crc(s))
          .map(p => p.toUri.getPath.stripPrefix(root.toUri.getPath) -> mode(p))
      }
      side -> modes.toMap
    }.toMap
    assert(got("engine") === got("stock"))
    // umask 022 applies on create and mkdirs; setPermission sets as given
    assert(got("engine")("/create640") === "640")
    assert(got("engine")("/create777") === "755")
    assert(got("engine")("/mkdirs750/leaf") === "750")
    assert(got("engine")("/set604") === "604")
    assert(got("engine")("/set000") === "0")
  }

  /** Both FileSystems with a checksum failure left in place: Hadoop's
    * LocalFileSystem moves the failing file into a bad_files directory
    * at the top of its device, outside the test's directory. */
  private def keepingBadFiles: Seq[FileSystem] = Seq(
    init(new LocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }),
    init(new NioLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }))

  test("a flipped data byte raises ChecksumException on read") {
    val text = "checkpoint " * 100
    val got = sides.zip(keepingBadFiles).map { case ((side, _, fc), fs) =>
      side -> Seq("FileSystem", "FileContext").map { writer =>
        val p = new Path(tmp(), "data")
        if (writer == "FileSystem") write(fs.create(p), text) else write(fc, p, text)
        assert(exists(crc(p)) && read(fs.open(p)) === text && read(fc, p) === text, side)
        val raf = new RandomAccessFile(p.toUri.getPath, "rw")
        try {
          raf.seek(500)
          val b = raf.readByte()
          raf.seek(500)
          raf.writeByte(b ^ 1)
        } finally raf.close()
        def failure(read: => String) = Try(read).failed.toOption.map(_.getClass)
        writer -> (failure(read(fs.open(p))), failure(read(fc, p)))
      }
    }.toMap
    assert(got("engine") === got("stock"))
    // FileSystem reads verify whichever API wrote the file. (Hadoop
    // 3.4's ChecksumFs reads through FileContext do not verify, on
    // either side.)
    got("engine").foreach { case (writer, (viaFileSystem, _)) =>
      assert(viaFileSystem === Some(classOf[ChecksumException]), writer)
    }
  }

  test("FileContext.rename replaces an existing target only with OVERWRITE") {
    val got = sides.map { case (side, _, fc) =>
      val root = tmp()
      val (src, dst) = (new Path(root, "src"), new Path(root, "dst"))
      write(fc, src, "new")
      write(fc, dst, "old")
      val refused = Try(fc.rename(src, dst)).failed.toOption.map(_.getClass)
      val kept = (read(fc, src), read(fc, dst))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      side -> (refused, kept, read(fc, dst), exists(src), exists(crc(src)), exists(crc(dst)))
    }.toMap
    assert(got("engine") === got("stock"))
    assert(got("engine") === (Some(classOf[FileAlreadyExistsException]), ("new", "old"),
      "new", false, false, true))
  }

  test("FileSystem.rename onto an existing file replaces it, as Hadoop's LocalFileSystem does") {
    val got = sides.map { case (side, fs, _) =>
      val root = tmp()
      val (src, dst) = (new Path(root, "src"), new Path(root, "dst"))
      write(fs.create(src), "new")
      write(fs.create(dst), "old")
      side -> (fs.rename(src, dst), read(fs.open(dst)), exists(src), exists(crc(dst)))
    }.toMap
    assert(got("engine") === got("stock"))
    assert(got("engine") === (true, "new", false, true))
  }

  test("getFileLinkStatus on a file, a symlink and a dangling symlink equals Hadoop's") {
    val root = Files.createTempDirectory("graft-niofs-links")
    Files.writeString(root.resolve("file"), "data")
    Files.createSymbolicLink(root.resolve("link"), Paths.get("file"))
    Files.createSymbolicLink(root.resolve("abs"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), Paths.get("missing"))
    val raws = Seq(init(new RawLocalFileSystem), init(new NioRawLocalFileSystem))
    val fcs = sides.map(_._3)
    def outcome[T](f: => T): Either[String, String] =
      Try(f.toString).toEither.left.map(_.getClass.getName)
    for (name <- Seq("file", "link", "abs", "dangling", "missing");
         p <- Seq(new Path(root.resolve(name).toString),
           new Path(root.resolve(name).toUri))) {
      Seq(raws.map(fs => outcome(fs.getFileLinkStatus(p))),
        raws.map(fs => outcome(fs.getLinkTarget(p))),
        fcs.map(fc => outcome(fc.getFileLinkStatus(p))))
        .foreach { case Seq(stock, engine) => assert(engine === stock, p) }
    }
    // Hadoop reads the link of `new File(path.toString)`: a plain path
    // is a link, a `file:`-qualified one is not
    val engine = raws(1)
    val link = engine.getFileLinkStatus(new Path(root.resolve("link").toString))
    assert(link.isSymlink && link.getSymlink.toUri.getPath === root.resolve("file").toString)
    assert(engine.getFileLinkStatus(new Path(root.resolve("dangling").toString)).getLen === 0)
    assert(!engine.getFileLinkStatus(new Path(root.resolve("link").toUri)).isSymlink)
  }

  test("a sticky bit falls back to Hadoop's chmod; other modes start no process") {
    val modes = sides.map { case (side, fs, _) =>
      val d = new Path(tmp(), "d")
      assert(fs.mkdirs(d))
      val (_, procs) = ProcessCensus.during(fs.setPermission(d, perm("1777")))
      assert(procs.count(_ == "chmod") === 1, side)
      side -> mode(d)
    }.toMap
    assert(modes === Map("stock" -> "1777", "engine" -> "1777"))
    val engine = sides(1)._2
    val d = new Path(tmp(), "d")
    val (_, procs) = ProcessCensus.during {
      assert(engine.mkdirs(d, perm("750")))
      engine.setPermission(d, perm("705"))
    }
    assert(ProcessCensus.forks(procs) === 0, procs)
    assert(mode(d) === "705")
  }

  test("the install names the engine's classes; explicit spark.hadoop values keep their own") {
    assert(NioLocalFs.install())
    val installed = GraftContextConf(new SparkConf(false))
    assert(FileSystem.getFileSystemClass("file", installed) === classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(installed).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
    val own = GraftContextConf(new SparkConf(false)
      .set("spark.hadoop.fs.file.impl", classOf[LocalFileSystem].getName)
      .set("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName))
    assert(FileSystem.getFileSystemClass("file", own) === classOf[LocalFileSystem])
    assert(FileContext.getFileContext(own).getDefaultFileSystem.getClass === classOf[LocalFs])
  }

  test("the install is skipped when the process's defaults name their own file: classes") {
    val hadoopDefaults = new Configuration(false)
    hadoopDefaults.addResource("core-default.xml")
    assert(!NioLocalFs.namesOwnFileClasses(hadoopDefaults))
    for (key <- Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")) {
      val c = new Configuration(hadoopDefaults)
      c.set(key, "com.example.OwnLocalFs")
      assert(NioLocalFs.namesOwnFileClasses(c), key)
    }
  }
}

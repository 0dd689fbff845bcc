package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` (LocalFs.scala) against stock Hadoop `file:`
  * side by side: same classes resolved for both APIs, same on-disk
  * modes, same checksums, same rename and link semantics. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def stockFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, conf)
    fs
  }
  private def oursFs(conf: Configuration): FileSystem = {
    val fs = new ForkFreeLocalFileSystem()
    fs.initialize(root, conf)
    fs
  }
  private def stockFc(conf: Configuration): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(root, c)
  }
  private def oursFc(conf: Configuration): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    FileContext.getFileContext(root, c)
  }

  private def hp(p: JPath): Path = new Path(p.toUri)
  /** Full mode bits (sticky included) of every file and directory under
    * `dir`, by path relative to it. */
  private def modes(dir: JPath): Map[String, Int] =
    Files.walk(dir).iterator.asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
  private def bytes(dir: JPath): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq
    }.toMap

  /** Every create path the engine takes: FileSystem mkdirs/create with
    * default and explicit modes (sticky too), FileContext create with
    * and without parents, mkdir and rename. */
  private def exercise(dir: JPath, fs: FileSystem, fc: FileContext): Unit = {
    val data = "graft local fs\n".getBytes("UTF-8")
    def under(rel: String) = hp(dir.resolve(rel))
    fs.mkdirs(under("a/b"))
    fs.mkdirs(under("m751"), new FsPermission("751"))
    fs.mkdirs(under("sticky"))
    fs.setPermission(under("sticky"), new FsPermission("1777"))
    val o1 = fs.create(under("a/b/f"))
    o1.write(data); o1.close()
    fs.create(under("f640"), new FsPermission("640"), true, 4096,
      1.toShort, 32L << 20, null).close()
    val o2 = fc.create(under("c/d/g"), EnumSet.of(CreateFlag.CREATE),
      CreateOpts.createParent())
    o2.write(data); o2.close()
    fc.create(under("g600"), EnumSet.of(CreateFlag.CREATE),
      CreateOpts.perms(new FsPermission("600"))).close()
    fc.mkdir(under("e/f"), FsPermission.getDirDefault, true)
    fc.rename(under("g600"), under("g600r"), Options.Rename.NONE)
  }

  test("the session resolves `file:` to the fork-free classes for both APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("localfs-resolve")
    assert(hp(dir).getFileSystem(conf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(dir.toUri, conf).getDefaultFileSystem.getClass ===
      classOf[ForkFreeLocalFs])
  }

  test("modes, .crc files and their bytes equal stock file: under the default and a 027 umask") {
    for (umask <- Seq(None, Some("027"))) {
      val conf = spark.sessionState.newHadoopConf()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stockDir = Files.createTempDirectory("localfs-stock")
      val oursDir = Files.createTempDirectory("localfs-ours")
      val stock = stockFs(conf)
      val ours = oursFs(conf)
      try {
        exercise(stockDir, stock, stockFc(conf))
        exercise(oursDir, ours, oursFc(conf))
      } finally { stock.close(); ours.close() }
      val (want, got) = (modes(stockDir), modes(oursDir))
      assert(got === want, s"umask $umask")
      Seq("a/b/.f.crc", "f640", ".f640.crc", "c/d/.g.crc", "g600r", ".g600r.crc",
        "sticky").foreach(rel => assert(got.contains(rel), rel))
      assert(!got.contains("g600") && !got.contains(".g600.crc"))
      assert((got("sticky") & 0x200) != 0)
      assert(bytes(oursDir) === bytes(stockDir))
    }
  }

  test("a flipped data byte fails the read with ChecksumException") {
    // Through FileContext, whose ChecksumFs only reports the failure (the
    // FileSystem API's LocalFileSystem would also move the file into a
    // `bad_files` directory at the top of its mount; its .crc bytes are
    // checked against stock above). open(p, bufferSize): ChecksumFs
    // inherits FilterFs.open(p), which reads the raw file unchecked.
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("localfs-crc")
    val fc = FileContext.getFileContext(dir.toUri, conf)
    val p = hp(dir.resolve("data"))
    val o = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    o.write(Array.fill[Byte](2000)(7)); o.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    val in0 = fc.open(p, 4096)
    try assert(in0.readAllBytes().length === 2000) finally in0.close()
    val raf = new java.io.RandomAccessFile(dir.resolve("data").toFile, "rw")
    try { raf.seek(1000); raf.write(8) } finally raf.close()
    val in = fc.open(p, 4096)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }

  test("FileContext rename with Rename.NONE onto an existing path still refuses") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("localfs-rename")
    val fc = FileContext.getFileContext(dir.toUri, conf)
    val (src, dst) = (hp(dir.resolve("src")), hp(dir.resolve("dst")))
    Seq(src, dst).foreach(fc.create(_, EnumSet.of(CreateFlag.CREATE)).close())
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(Files.exists(dir.resolve("src")) && Files.exists(dir.resolve(".src.crc")))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve("dst")) && Files.exists(dir.resolve(".dst.crc")))
  }

  test("getFileLinkStatus on links, plain paths and missing paths matches stock") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("localfs-link")
    Files.write(dir.resolve("target"), "x".getBytes("UTF-8"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
    val stock = stockFs(conf)
    val ours = oursFs(conf)
    val (sfc, ofc) = (stockFc(conf), oursFc(conf))
    type Look = Path => org.apache.hadoop.fs.FileStatus
    // what a lookup shows: its failure's class, or the status's fields
    def seen(look: Look, p: Path): Any = Try(look(p)) match {
      case Failure(e) => e.getClass
      case Success(st) => (st.isSymlink, if (st.isSymlink) st.getSymlink else null,
        st.isFile, st.isDirectory, st.getLen, st.getPath)
    }
    def same(name: String, s: Look, o: Look): Unit =
      // scheme-less and qualified paths take different stock branches
      for (p <- Seq(new Path(dir.resolve(name).toString), hp(dir.resolve(name))))
        assert(seen(o, p) === seen(s, p), s"$p")
    try {
      for (name <- Seq("link", "dangling", "target", "missing", "")) {
        same(name, stock.getFileLinkStatus, ours.getFileLinkStatus)
        same(name, sfc.getFileLinkStatus, ofc.getFileLinkStatus)
      }
      // the comparison above saw a real link and a real miss
      val link = ours.getFileLinkStatus(new Path(dir.resolve("link").toString))
      assert(link.isSymlink && link.getSymlink.toUri.getPath.endsWith("/target"))
      intercept[java.io.FileNotFoundException](
        ofc.getFileLinkStatus(hp(dir.resolve("missing"))))
    } finally { stock.close(); ours.close() }
  }
}

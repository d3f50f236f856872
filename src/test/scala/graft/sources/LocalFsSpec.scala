package graft.sources

import java.io.{FileNotFoundException, IOException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Spawns}

/** The java.nio local filesystem ([[NioRawLocalFileSystem]] and its
  * wrappers) against Hadoop's own, on the same kinds of paths. */
class LocalFsSpec extends SparkSpec {

  private val conf = new Configuration()

  /** Hadoop's raw local filesystem and the java.nio one, side by side. */
  private def raws: Seq[(String, RawLocalFileSystem)] =
    Seq("stock" -> new RawLocalFileSystem, "nio" -> new NioRawLocalFileSystem).map {
      case (name, fs) => fs.initialize(URI.create("file:///"), conf); name -> fs
    }

  /** File contexts over Hadoop's `LocalFs` and over [[NioLocalFs]]. */
  private def contexts: Seq[(String, FileContext)] = {
    val stock = new Configuration()
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    Seq("stock" -> FileContext.getLocalFSFileContext(stock),
      "nio" -> FileContext.getLocalFSFileContext(conf))
  }

  private def tmp(): JPath = Files.createTempDirectory("graft_localfs_")
  private def at(dir: JPath, name: String): Path = new Path(dir.resolve(name).toString)
  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def perm(octal: String): FsPermission = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("create, mkdirs and setPermission leave the modes Hadoop's path leaves") {
    val seen = raws.map { case (name, fs) =>
      val root = tmp()
      assert(fs.mkdirs(at(root, "d")))
      fs.create(at(root, "d/f")).close()
      val created = (mode(root.resolve("d")), mode(root.resolve("d/f")))
      fs.setPermission(at(root, "d/f"), perm("640"))
      fs.setPermission(at(root, "d"), perm("700"))
      val set = (mode(root.resolve("d")), mode(root.resolve("d/f")))
      // the sticky bit has no java.nio form and keeps Hadoop's path
      fs.setPermission(at(root, "d"), perm("1777"))
      val sticky = fs.getFileStatus(at(root, "d")).getPermission
      name -> (created, set, sticky, fs.getFileStatus(at(root, "d/f")).getPermission)
    }.toMap
    assert(seen("nio") == seen("stock"))
    val (created, set, sticky, filePerm) = seen("nio")
    assert(created == (("rwxr-xr-x", "rw-r--r--")), "the default umask, 022")
    assert(set == (("rwx------", "rw-r-----")))
    assert(sticky == perm("1777") && sticky.getStickyBit)
    assert(filePerm == perm("640"))
  }

  test("getFileLinkStatus matches Hadoop's on a file, a symlink and a dangling symlink") {
    val root = tmp()
    val file = Files.write(root.resolve("f"), "x".getBytes(UTF_8))
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("missing"))
    val seen = raws.map { case (name, fs) =>
      name -> Seq("f", "link", "dangling").map { p =>
        val st = fs.getFileLinkStatus(at(root, p))
        (st.getPath, st.isFile, st.isDirectory, st.getLen, st.isSymlink,
          if (st.isSymlink) st.getSymlink.toUri.getPath else "")
      }
    }.toMap
    assert(seen("nio") == seen("stock"))
    val Seq(plain, link, dangling) = seen("nio")
    assert(plain._2 && !plain._5 && plain._4 == 1)
    assert(link._5 && link._6 == file.toString)
    assert(dangling._5 && dangling._6 == root.resolve("missing").toString)
  }

  test("a missing path throws FileNotFoundException") {
    val missing = at(tmp(), "missing")
    raws.foreach { case (_, fs) =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.getFileStatus(missing))
    }
    val Seq((_, stock), (_, nio)) = raws
    intercept[IOException](stock.setPermission(missing, perm("644")))
    intercept[FileNotFoundException](nio.setPermission(missing, perm("644")))
  }

  test("FileContext.rename onto an existing file refuses without OVERWRITE and replaces with it") {
    val seen = contexts.map { case (name, fc) =>
      val root = tmp()
      def write(name: String, s: String): Unit = {
        val out = fc.create(at(root, name), EnumSet.of(CreateFlag.CREATE))
        try out.write(s.getBytes(UTF_8)) finally out.close()
      }
      def read(name: String): String = {
        val in = fc.open(at(root, name))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      def listing: Seq[String] =
        Files.list(root).iterator.asScala.map(_.getFileName.toString).toSeq.sorted
      write("src", "new")
      write("dst", "old")
      intercept[FileAlreadyExistsException](fc.rename(at(root, "src"), at(root, "dst")))
      val refused = (read("src"), read("dst"), listing)
      fc.rename(at(root, "src"), at(root, "dst"), Options.Rename.OVERWRITE)
      name -> (refused, read("dst"), listing)
    }.toMap
    assert(seen("nio") == seen("stock"))
    assert(seen("nio") == ((("new", "old", Seq(".dst.crc", ".src.crc", "dst", "src")),
      "new", Seq(".dst.crc", "dst"))))
  }

  test("FileSystem.rename onto an existing file does what Hadoop's LocalFileSystem does") {
    val stock = new LocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    val seen = Seq(stock, FileSystem.getLocal(conf)).map { fs =>
      val root = tmp()
      Files.write(root.resolve("src"), "new".getBytes(UTF_8))
      Files.write(root.resolve("dst"), "old".getBytes(UTF_8))
      (fs.rename(at(root, "src"), at(root, "dst")),
        new String(Files.readAllBytes(root.resolve("dst")), UTF_8), Files.exists(root.resolve("src")))
    }
    // Hive's ProxyLocalFileSystem, which Hadoop's service lookup picks for
    // `file:` when `fs.file.impl` is unset, refuses this rename
    assert(seen == Seq((true, "new", false), (true, "new", false)))
  }

  test("a local write keeps a .crc that catches a corrupted byte on read") {
    val root = tmp()
    val out = FileSystem.getLocal(conf).create(at(root, "data"))
    try out.write(Array.fill[Byte](1024)(7)) finally out.close()
    assert(Files.exists(root.resolve(".data.crc")))
    val raf = new RandomAccessFile(root.resolve("data").toFile, "rw")
    try { raf.seek(100); raf.write(8) } finally raf.close()
    // read through FileContext: its checksum layer reports a bad chunk by
    // throwing, where LocalFileSystem also moves the file to a bad_files
    // directory at the top of the mount. Only `open(path, bufferSize)`
    // verifies; Hadoop's `FilterFs.open(path)` reads the raw file.
    contexts.foreach { case (_, fc) =>
      val in = fc.open(at(root, "data"), 4096)
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
  }

  test("file: resolves to the java.nio filesystem wherever a Configuration is made") {
    val local = FileSystem.getLocal(new Configuration())
    assert(local.isInstanceOf[NioLocalFileSystem])
    assert(local.getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("local creates, mkdirs, setPermission and FileContext.rename fork no process") {
    val root = tmp()
    val fs = FileSystem.getLocal(conf)
    val fc = FileContext.getLocalFSFileContext(conf)
    val (_, spawned) = Spawns.by {
      fs.mkdirs(at(root, "d"))
      fs.create(at(root, "d/f")).close()
      fs.setPermission(at(root, "d/f"), perm("600"))
      fc.rename(at(root, "d/f"), at(root, "d/g"))
      fs.getFileLinkStatus(at(root, "d/g"))
    }
    assert(spawned.isEmpty, Spawns.census(spawned))
  }
}

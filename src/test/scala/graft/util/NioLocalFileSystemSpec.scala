package graft.util

import java.io.FileNotFoundException
import java.lang.reflect.InvocationTargetException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.{SparkSessions, SparkSpec}

/** The `file:` classes [[SparkSessions.LocalFiles]] installs hold the
  * contract of Hadoop's own: twin temp dirs, one written through stock
  * `LocalFileSystem`/`LocalFs` and one through the engine's classes, for
  * both the `FileSystem` and the `FileContext` API, end up the same. */
class NioLocalFileSystemSpec extends SparkSpec {

  private val local = URI.create("file:///")

  /** Hadoop's own classes, named: left unset, `file:` resolves through
    * Hadoop's ServiceLoader registry, where Hive's `ProxyLocalFileSystem`
    * (on Spark's classpath) registers over `LocalFileSystem`. */
  private def stockConf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    c
  }

  private def engineConf: Configuration = {
    val c = new Configuration()
    SparkSessions.LocalFiles.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  /** One twin: a temp dir and both APIs, uncached, built from `conf`. */
  private final case class Side(root: JPath, fs: FileSystem, fc: FileContext) {
    def path(rel: String): Path = new Path(root.resolve(rel).toString)
    def write(p: Path, out: org.apache.hadoop.fs.FSDataOutputStream): Unit = {
      out.write(p.getName.getBytes("UTF-8"))
      out.close()
    }
    /** Every path under the root: its full mode (type, sticky and rwx bits) and its bytes. */
    def tree: Map[String, (Int, Seq[Byte])] =
      Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          ((Files.getAttribute(p, "unix:mode").asInstanceOf[Int],
            if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty))
      }.toMap
  }

  /** Runs `f` on the stock side, then on the engine side. */
  private def twins[A](name: String)(f: Side => A): (A, A) = {
    def side(conf: Configuration, tag: String) =
      Side(Files.createTempDirectory(s"$name-$tag"), FileSystem.newInstance(local, conf),
        FileContext.getFileContext(local, conf))
    val stock = side(stockConf, "stock")
    val engine = side(engineConf, "engine")
    assert(stock.fs.getClass == classOf[LocalFileSystem] && stock.fc.getDefaultFileSystem.getClass == classOf[LocalFs])
    assert(engine.fs.getClass == classOf[NioLocalFileSystem] && engine.fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
    try (f(stock), f(engine))
    finally Seq(stock, engine).foreach(_.fs.close())
  }

  /** `FileSystem.rename(src, dst, options)`, the no-overwrite rename of the
    * `FileSystem` API (protected in Hadoop; `FileContext` has a public one). */
  private def fsRename(fs: FileSystem, src: Path, dst: Path, opts: Rename*): Unit = {
    val m = classOf[FileSystem].getDeclaredMethod("rename", classOf[Path], classOf[Path], classOf[Array[Options.Rename]])
    m.setAccessible(true)
    try m.invoke(fs, src, dst, opts.toArray)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  test("create with a permission and mkdirs: same files, .crc siblings and modes as stock Hadoop") {
    val (stock, engine) = twins("perms") { s =>
      val rwxrx = new FsPermission("750")
      s.fs.mkdirs(s.path("fs/d"), rwxrx)
      s.fs.mkdirs(s.path("fs/x/y"))
      s.write(s.path("fs/d/a.bin"), s.fs.create(s.path("fs/d/a.bin"), new FsPermission("640"), true,
        4096, 1.toShort, 32L << 20, null))
      s.write(s.path("fs/b.bin"), s.fs.create(s.path("fs/b.bin")))
      s.fs.setPermission(s.path("fs/b.bin"), new FsPermission("600"))
      // beyond rwx bits: the sticky bit goes the stock way
      s.fs.setPermission(s.path("fs/x"), new FsPermission("1777"))
      s.fc.mkdir(s.path("fc/d"), rwxrx, true)
      s.write(s.path("fc/d/a.bin"), s.fc.create(s.path("fc/d/a.bin"), EnumSet.of(CreateFlag.CREATE),
        CreateOpts.perms(new FsPermission("640"))))
      s.write(s.path("fc/b.bin"), s.fc.create(s.path("fc/b.bin"), EnumSet.of(CreateFlag.CREATE)))
      s.tree
    }
    assert(engine == stock)
    Seq("fs/d/.a.bin.crc", "fs/.b.bin.crc", "fc/d/.a.bin.crc", "fc/.b.bin.crc").foreach(crc =>
      assert(stock.contains(crc), s"$crc missing: the comparison would not cover checksums"))
    assert((stock("fs/d")._1 & 0x1ff) == Integer.parseInt("750", 8))
    assert((stock("fc/d/a.bin")._1 & 0x1ff) == Integer.parseInt("640", 8))
    assert((stock("fs/x")._1 & 0xfff) == Integer.parseInt("1777", 8))
  }

  test("no-overwrite rename onto an existing file throws, onto a missing one succeeds, as in stock Hadoop") {
    val (stock, engine) = twins("rename") { s =>
      Seq("fc/src1", "fc/src2", "fc/dst", "fs/src1", "fs/src2", "fs/src3", "fs/dst").foreach(f =>
        s.write(s.path(f), s.fs.create(s.path(f))))
      val fcClash = intercept[FileAlreadyExistsException](s.fc.rename(s.path("fc/src1"), s.path("fc/dst"), Rename.NONE))
      s.fc.rename(s.path("fc/src2"), s.path("fc/moved"), Rename.NONE)
      s.fc.rename(s.path("fc/src1"), s.path("fc/dst"), Rename.OVERWRITE)
      val fsClash = intercept[FileAlreadyExistsException](fsRename(s.fs, s.path("fs/src1"), s.path("fs/dst"), Rename.NONE))
      fsRename(s.fs, s.path("fs/src2"), s.path("fs/moved"), Rename.NONE)
      val plain = s.fs.rename(s.path("fs/src3"), s.path("fs/dst"))
      (fcClash.getClass, fsClash.getClass, plain, s.tree)
    }
    assert(engine == stock)
    // FileContext renames move the .crc too; FileSystem's protected rename leaves it, in both
    Seq("fc/.moved.crc", "fc/.dst.crc", "fs/.src2.crc", "fs/.dst.crc").foreach(crc =>
      assert(stock._4.contains(crc), s"$crc missing"))
    assert(Seq("fc/src1", "fc/src2", "fs/src2", "fs/src3").forall(f => !stock._4.contains(f)))
  }

  test("getFileLinkStatus agrees with stock Hadoop on a file, a directory and a symlink; a missing path throws") {
    def summary(s: Side, st: FileStatus): (Boolean, Boolean, Boolean, Long, String, String) = {
      def rel(p: Path) = p.toUri.getPath.stripPrefix(s.root.toString)
      (st.isFile, st.isDirectory, st.isSymlink, st.getLen, rel(st.getPath),
        if (st.isSymlink) rel(st.getSymlink) else "")
    }
    val (stock, engine) = twins("links") { s =>
      Files.write(s.root.resolve("file.txt"), "twelve bytes".getBytes("UTF-8"))
      Files.createDirectory(s.root.resolve("dir"))
      Files.createSymbolicLink(s.root.resolve("link"), Paths.get("file.txt"))
      val statuses = Seq("file.txt", "dir", "link").flatMap(f =>
        Seq(summary(s, s.fs.getFileLinkStatus(s.path(f))), summary(s, s.fc.getFileLinkStatus(s.path(f)))))
      intercept[FileNotFoundException](s.fs.getFileLinkStatus(s.path("missing")))
      intercept[FileNotFoundException](s.fc.getFileLinkStatus(s.path("missing")))
      statuses
    }
    assert(engine == stock)
    assert(stock.map(_._3) == Seq(false, false, false, false, true, true), "the symlink must read as one on both APIs")
  }

  test("the session resolves file:/// to the engine's classes through FileSystem.get and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(local, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }
}

package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[InProcessRawLocalFileSystem]] to a stock `RawLocalFileSystem`
  * on the results its two in-JVM overrides produce, and the classpath
  * `core-site.xml` to routing `file:` through the engine's classes. */
class LocalFileSystemParitySpec extends AnyFunSuite {
  private val local = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, umask)
    c
  }

  /** A stock raw local filesystem and the engine's, both over `c`. */
  private def pair(c: Configuration)
  : (RawLocalFileSystem, RawLocalFileSystem) = {
    val stock = new RawLocalFileSystem()
    stock.initialize(local, c)
    val ours = new InProcessRawLocalFileSystem()
    ours.initialize(local, c)
    (stock, ours)
  }

  private def withDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft_fs_parity")
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("a plain Configuration resolves file: to the engine's classes " +
    "through FileSystem and FileContext") {
    val c = new Configuration()
    val fs = FileSystem.get(local, c)
    assert(fs.isInstanceOf[InProcessLocalFileSystem], fs.getClass)
    assert(FileSystem.getLocal(c).getRaw
      .isInstanceOf[InProcessRawLocalFileSystem])
    val afs = FileContext.getFileContext(local, c).getDefaultFileSystem
    assert(afs.isInstanceOf[InProcessLocalFs], afs.getClass)
    assert(FileContext.getLocalFSFileContext(c).getDefaultFileSystem
      .isInstanceOf[InProcessLocalFs])
  }

  test("every rwx mode lands as the stock chmod leaves it: created " +
    "files, mkdirs under a 027 umask, and setPermission") {
    val (stock, ours) = pair(conf("027"))
    withDir { dir =>
      for (m <- 0 until 512) {
        val perm = new FsPermission(m.toShort)
        val got = Seq(stock -> "stock", ours -> "ours").map { case (fs, tag) =>
          val file = new Path(s"$dir/$tag-f-$m")
          fs.create(file, perm, false, 4096, 1.toShort, 1L << 20, null)
            .close()
          val sub = new Path(s"$dir/$tag-d-$m")
          assert(fs.mkdirs(sub, perm))
          val set = new Path(
            Files.createFile(dir.resolve(s"$tag-s-$m")).toString)
          fs.setPermission(set, perm)
          Seq(file, sub, set).map(p =>
            Files.getPosixFilePermissions(fs.pathToFile(p).toPath).asScala)
        }
        assert(got(1) === got(0), f"mode $m%03o")
      }
    }
  }

  test("a sticky bit, and setgid on a directory, match the stock chmod") {
    val (stock, ours) = pair(conf("022"))
    withDir { dir =>
      val got = Seq(stock -> "stock", ours -> "ours").map { case (fs, tag) =>
        val sticky = new Path(s"$dir/$tag-sticky")
        fs.mkdirs(sticky)
        fs.setPermission(sticky, new FsPermission(octal("1777").toShort))
        val sgid = Files.createDirectory(dir.resolve(s"$tag-sgid"))
        Files.setAttribute(sgid, "unix:mode", octal("2755"))
        fs.setPermission(new Path(sgid.toString),
          new FsPermission(octal("750").toShort))
        (mode(fs.pathToFile(sticky).toPath), mode(sgid))
      }
      assert(got(0) === (octal("1777"), octal("2750")))
      assert(got(1) === got(0))
    }
  }

  test("getFileLinkStatus matches the stock result on a file, a dir and " +
    "a symlink; a missing path throws FileNotFoundException") {
    val (stock, ours) = pair(conf("022"))
    def view(s: FileStatus) = (s.getPath, s.getLen, s.isFile, s.isDirectory,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    withDir { dir =>
      val file = Files.write(dir.resolve("f"), "abc".getBytes(UTF_8))
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("l"), file)
      for (p <- Seq(file, sub, link); path <- Seq(new Path(p.toString),
        new Path(p.toUri))) {
        assert(view(ours.getFileLinkStatus(path)) ===
          view(stock.getFileLinkStatus(path)), path)
      }
      assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
      val missing = new Path(s"$dir/missing")
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    }
  }

  test("a FileContext overwrite-rename replaces the target and carries " +
    "its .crc") {
    val fc = FileContext.getFileContext(local, new Configuration())
    assert(fc.getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
    withDir { dir =>
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(s.getBytes(UTF_8)) finally out.close()
      }
      def crc(name: String) = dir.resolve(s".$name.crc")
      val src = new Path(s"$dir/src")
      val dst = new Path(s"$dir/dst")
      write(src, "the new contents")
      write(dst, "old")
      assert(Files.exists(crc("src")) && Files.exists(crc("dst")))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!Files.exists(dir.resolve("src")) && !Files.exists(crc("src")))
      assert(Files.exists(crc("dst")))
      // a checksummed read verifies the data against the moved .crc
      val in = fc.open(dst)
      val got = try new String(in.readAllBytes(), UTF_8) finally in.close()
      assert(got === "the new contents")
    }
  }
}

package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import graft.core.LocalFs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` filesystem ([[graft.core.LocalFs]]) against stock
  * Hadoop: the same permission bits, the same link status, and the engine's
  * sessions resolve `file:` to it on both Hadoop entry points.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(new URI("file:///"), conf); fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val engine = init(new LocalFs.Raw)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  /** A fresh file or directory under `root`, made through `fs`. */
  private def make(fs: RawLocalFileSystem, root: JPath, name: String,
                   dir: Boolean): JPath = {
    val p = root.resolve(name)
    if (dir) assert(fs.mkdirs(new Path(p.toUri)))
    else fs.create(new Path(p.toUri)).close()
    p
  }

  test("setPermission writes the bits stock chmod writes, on files and dirs") {
    val root = TestSpark.tempDir("localfs-perm")
    for (bits <- Seq("644", "755", "700", "600"); dir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(bits, 8).toShort)
      val seen = Seq(stock -> "stock", engine -> "engine").map { case (fs, tag) =>
        val p = make(fs, root, s"$tag-$bits-$dir", dir)
        fs.setPermission(new Path(p.toUri), perm)
        (Files.getPosixFilePermissions(p), mode(p))
      }
      assert(seen(0) == seen(1), s"$bits dir=$dir")
      assert((seen(1)._2 & 0xFFF) == Integer.parseInt(bits, 8), s"$bits dir=$dir")
    }
  }

  test("a sticky bit, and a set-group-ID directory, go through chmod") {
    val root = TestSpark.tempDir("localfs-special")
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val modes = Seq(stock -> "stock", engine -> "engine").map { case (fs, tag) =>
      val p = make(fs, root, s"$tag-sticky", dir = true)
      fs.setPermission(new Path(p.toUri), sticky)
      mode(p) & 0xFFF
    }
    assert(modes == Seq(Integer.parseInt("1777", 8), Integer.parseInt("1777", 8)))

    // chmod 0755 keeps a directory's set-group-ID bit; a 9-bit mode would not
    val setgid = Seq(stock -> "stock", engine -> "engine").map { case (fs, tag) =>
      val p = make(fs, root, s"$tag-setgid", dir = true)
      assert(new ProcessBuilder("chmod", "2775", p.toString).start().waitFor() == 0)
      fs.setPermission(new Path(p.toUri), new FsPermission(Integer.parseInt("755", 8).toShort))
      mode(p) & 0xFFF
    }
    assert(setgid(0) == setgid(1))
    assert(setgid(1) == Integer.parseInt("2755", 8))
  }

  test("getFileLinkStatus agrees on a file, a dir, a symlink and a missing path") {
    val root = TestSpark.tempDir("localfs-link")
    val file = Files.write(root.resolve("f.txt"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    def view(fs: RawLocalFileSystem, p: Path) = {
      val s = fs.getFileLinkStatus(p)
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getPermission, if (s.isSymlink) s.getSymlink else null)
    }
    // a qualified `file:` path and a bare one: Hadoop's readlink only
    // reads the bare one's link
    for (p <- Seq(file, dir, link); path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(view(engine, path) == view(stock, path), path)
    assert(engine.getFileLinkStatus(new Path(link.toString)).isSymlink)

    val missing = new Path(root.resolve("missing").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](engine.getFileLinkStatus(missing))
  }

  test("the test session resolves file: to the engine's classes on both entry points") {
    val hadoopConf = TestSpark.spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    assert(fs.isInstanceOf[LocalFs.FileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFs.FileSystem].getRaw.isInstanceOf[LocalFs.Raw])
    val afs = FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs.AbstractFs], afs.getClass)
  }
}

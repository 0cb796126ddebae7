package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** graft's process-free `file:` filesystem against Hadoop's own
  * `LocalFileSystem` and `LocalFs`: the same permissions, link
  * statuses and renames, and the registration that makes every
  * `Configuration` use it. */
class LocalFilesSpec extends AnyFunSuite {
  private val root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Both implementations, each on its own fresh directory. */
  private def impls(umask: String = "022"): Seq[(String, FileSystem, FileContext, String)] = {
    val base = Files.createTempDirectory("graft_localfs").toString
    Seq("hadoop" -> false, "graft" -> true).map { case (name, graft) =>
      val c = conf(umask)
      c.set("fs.AbstractFileSystem.file.impl",
        (if (graft) classOf[NioLocalFs] else classOf[LocalFs]).getName)
      val fs = if (graft) new NioLocalFileSystem else new LocalFileSystem
      fs.initialize(root, c)
      val fc = FileContext.getFileContext(AbstractFileSystem.get(root, c), c)
      (name, fs, fc, Files.createDirectories(Paths.get(base, name)).toString)
    }
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** What each implementation's `body` leaves, by name, must agree. */
  private def agree[A](umask: String = "022")(body: (FileSystem, FileContext, String) => A): A = {
    val Seq(stock, graft) = impls(umask).map { case (_, fs, fc, d) => body(fs, fc, d) }
    assert(graft === stock)
    graft
  }

  test("files and dirs get the same permissions under umask 022 and 077") {
    Seq("022", "077").foreach { umask =>
      val modes = agree(umask) { (fs, fc, d) =>
        fs.create(new Path(s"$d/fs-file")).close()
        fs.mkdirs(new Path(s"$d/fs-dir/a/b"))
        fc.create(new Path(s"$d/fc-file"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(new Path(s"$d/fc-dir/a"), FsPermission.getDirDefault, true)
        Seq("fs-file", ".fs-file.crc", "fs-dir", "fs-dir/a", "fs-dir/a/b", "fc-file",
          ".fc-file.crc", "fc-dir", "fc-dir/a").map(n => n -> mode(s"$d/$n")).toMap
      }
      val masked = ~Integer.parseInt(umask, 8)
      assert(modes("fs-file") === (0x1b6 & masked), f"umask $umask: ${modes("fs-file")}%o")
      assert(modes("fs-dir/a/b") === (0x1ff & masked), f"umask $umask: ${modes("fs-dir/a/b")}%o")
    }
  }

  test("setPermission sets the same mode, sticky bit included") {
    val modes = Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff) // 0600 0644 0700 0755 0777
    val got = agree() { (fs, _, d) =>
      fs.create(new Path(s"$d/f")).close()
      fs.mkdirs(new Path(s"$d/dir"))
      modes.map { m =>
        fs.setPermission(new Path(s"$d/f"), new FsPermission(m.toShort))
        fs.setPermission(new Path(s"$d/dir"), new FsPermission(m.toShort))
        (mode(s"$d/f"), mode(s"$d/dir"))
      } :+ {
        // a mode outside the nine rwx bits (01777) takes Hadoop's own path
        fs.setPermission(new Path(s"$d/dir"), new FsPermission(0x3ff.toShort))
        (mode(s"$d/f"), mode(s"$d/dir"))
      }
    }
    assert(got === modes.map(m => (m, m)) :+ ((0x1ff, 0x3ff)))
  }

  /** The fields of a status both implementations must agree on (the
    * directories differ, so paths are taken relative to `d`), or the
    * class of what the call threw. */
  private def fields(d: String)(status: => FileStatus) =
    scala.util.Try(status).map { s =>
      def rel(p: Path) = p.toUri.getPath.stripPrefix(d)
      (rel(s.getPath), s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPermission,
        if (s.isSymlink) Some(rel(s.getSymlink)) else None)
    }.toEither.left.map(_.getClass.getName)

  test("getFileLinkStatus agrees on a file, a dir, a symlink and a missing path") {
    val got = agree() { (fs, fc, d) =>
      Files.write(Paths.get(s"$d/file"), "abc".getBytes)
      Files.createDirectory(Paths.get(s"$d/dir"))
      Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/file"))
      Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/none"))
      Seq("file", "dir", "link", "dangling", "none").flatMap { n =>
        Seq(fields(d)(fs.getFileLinkStatus(new Path(s"$d/$n"))),
          fields(d)(fs.getFileLinkStatus(new Path(s"file://$d/$n"))),
          fields(d)(fc.getFileLinkStatus(new Path(s"$d/$n"))))
      }
    }
    assert(got.takeRight(3).forall(_ == Left(classOf[FileNotFoundException].getName)), got)
    assert(got.take(9).forall(_.isRight), got)
  }

  test("FileContext.rename: NONE refuses an existing destination, OVERWRITE moves the .crc too") {
    val left = agree() { (_, fc, d) =>
      def write(name: String, text: String): Unit = {
        val out = fc.create(new Path(s"$d/$name"), java.util.EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes) finally out.close()
      }
      def read(name: String): String = {
        val in = fc.open(new Path(s"$d/$name")) // verifies the checksum
        try new String(in.readAllBytes()) finally in.close()
      }
      write("src", "new contents"); write("dst", "old")
      intercept[FileAlreadyExistsException](
        fc.rename(new Path(s"$d/src"), new Path(s"$d/dst"), Options.Rename.NONE))
      assert(read("dst") === "old")
      fc.rename(new Path(s"$d/src"), new Path(s"$d/dst"), Options.Rename.OVERWRITE)
      assert(read("dst") === "new contents")
      new java.io.File(d).list().toSeq.sorted
    }
    assert(left === Seq(".dst.crc", "dst"))
  }

  test("every Configuration resolves file: to graft's classes; an explicit fs.file.impl wins") {
    assert(FileSystem.get(root, new Configuration()).getClass === classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(new Configuration()).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
    val stock = new Configuration()
    stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stock.setBoolean("fs.file.impl.disable.cache", true)
    assert(FileSystem.get(root, stock).getClass === classOf[LocalFileSystem])
  }
}

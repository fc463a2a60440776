package graft.localfs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local file system ≡ Hadoop's stock one: every call it
  * answers from `java.nio` gives the mode, status and exception that the
  * stock (process-forking) call gives, in side-by-side temp dirs. */
class GraftLocalFileSystemSpec extends AnyFunSuite {

  private def pair(conf: Configuration = new Configuration()): (FileSystem, FileSystem) = {
    val stock = new LocalFileSystem()
    val graft = new GraftLocalFileSystem()
    Seq(stock, graft).foreach(_.initialize(URI.create("file:///"), conf))
    (stock, graft)
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-localfs-$tag").toString

  private def octal(m: String): Int = Integer.parseInt(m, 8)

  private def perm(m: String) = new FsPermission(octal(m).toShort)

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** What each fs leaves behind for one op run in its own directory. */
  private def modesAfter(conf: Configuration)(op: (FileSystem, String) => Seq[String]): Unit = {
    val (stock, graft) = pair(conf)
    val (a, b) = (tmp("stock"), tmp("graft"))
    val made = op(stock, a).map(r => r -> mode(s"$a/$r"))
    assert(op(graft, b).map(r => r -> mode(s"$b/$r")) == made)
  }

  test("create and mkdirs leave the stock modes, under the default umask and under 077") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      modesAfter(conf) { (fs, dir) =>
        fs.create(new Path(s"$dir/f")).close()
        fs.create(new Path(s"$dir/nested/g"), perm("640"), true,
          4096, 1, 1L << 25, null).close()
        fs.mkdirs(new Path(s"$dir/d"))
        fs.mkdirs(new Path(s"$dir/e/e2"), perm("750"))
        Seq("f", ".f.crc", "nested", "nested/g", "nested/.g.crc", "d", "e", "e/e2")
      }
    }
  }

  test("setPermission round-trips like the stock chmod, sticky and setgid bits included") {
    val perms = Seq("644", "600", "755", "700", "777", "000", "1777", "1755")
    modesAfter(new Configuration()) { (fs, dir) =>
      perms.flatMap { p =>
        val (f, d) = (s"$dir/f$p", s"$dir/d$p")
        fs.create(new Path(f)).close()
        fs.mkdirs(new Path(d))
        fs.setPermission(new Path(f), perm(p))
        fs.setPermission(new Path(d), perm(p))
        val back = fs.getFileStatus(new Path(d)).getPermission
        assert(back == perm(p), s"$d read back as $back")
        Seq(s"f$p", s"d$p")
      }
    }
    // chmod with a four-digit mode keeps a directory's setuid/setgid bits
    // and clears a file's
    modesAfter(new Configuration()) { (fs, dir) =>
      Files.createDirectory(Paths.get(s"$dir/sgid"))
      Files.createFile(Paths.get(s"$dir/sgidfile"))
      for (p <- Seq("sgid", "sgidfile")) {
        Files.setAttribute(Paths.get(s"$dir/$p"), "unix:mode", Int.box(octal("2775")))
        fs.setPermission(new Path(s"$dir/$p"), perm("750"))
      }
      Seq("sgid", "sgidfile")
    }
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getPermission, s.getOwner, s.getGroup, s.getModificationTime, s.getAccessTime,
      s.getReplication, s.getBlockSize)

  test("getFileLinkStatus: file, directory, symlinks and a dangling symlink read as stock") {
    val (stock, graft) = pair()
    val dir = tmp("links")
    Files.write(Paths.get(s"$dir/file"), "0123456789".getBytes)
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.setAttribute(Paths.get(s"$dir/dir"), "unix:mode", Int.box(octal("1750")))
    Files.createSymbolicLink(Paths.get(s"$dir/abs"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/rel"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(s"$dir/todir"), Paths.get("dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get("gone"))
    for {
      name <- Seq("file", "dir", "abs", "rel", "todir", "dangling")
      path <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))
      if !(name == "dangling" && path.toUri.getScheme != null)
    } {
      val want = fields(stock.getFileLinkStatus(path))
      assert(fields(graft.getFileLinkStatus(path)) == want, s"$path")
    }
    assert(graft.getFileLinkStatus(new Path(s"$dir/rel")).getSymlink ==
      new Path(s"file:$dir/file"))
    assert(graft.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
    // a scheme-qualified path never reads as a link, as in the stock probe;
    // a dangling one is then missing on both
    for (fs <- Seq(stock, graft)) {
      assert(!fs.getFileLinkStatus(new Path(s"file:$dir/abs")).isSymlink)
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"file:$dir/dangling")))
    }
  }

  test("a missing path throws FileNotFoundException on both") {
    val (stock, graft) = pair()
    val dir = tmp("missing")
    Files.write(Paths.get(s"$dir/file"), Array[Byte](1))
    for (fs <- Seq(stock, graft); p <- Seq(s"$dir/nope", s"file:$dir/nope", s"$dir/file/under")) {
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(p)))
    }
  }

  test("crc sidecars are written and a flipped data byte fails the read") {
    val (stock, graft) = pair()
    for (fs <- Seq(stock, graft)) {
      val dir = tmp("crc")
      val p = new Path(s"$dir/data")
      val out = fs.create(p)
      out.write(Array.tabulate[Byte](4096)(i => (i % 251).toByte))
      out.close()
      assert(Files.exists(Paths.get(s"$dir/.data.crc")))
      val bytes = Files.readAllBytes(Paths.get(s"$dir/data"))
      bytes(100) = (bytes(100) ^ 0x40).toByte
      Files.write(Paths.get(s"$dir/data"), bytes)
      intercept[ChecksumException] {
        val in = fs.open(p)
        try in.readFully(new Array[Byte](4096)) finally in.close()
      }
    }
  }
}

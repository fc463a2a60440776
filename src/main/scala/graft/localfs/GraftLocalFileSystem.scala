package graft.localfs

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files}
import java.nio.file.attribute.{FileTime, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without child processes.
  *
  * On a host without `libhadoop` the stock `RawLocalFileSystem` forks
  * `chmod` on every `setPermission` (so on every `create` and `mkdirs`
  * that carries a permission), and `readlink` on every
  * `getFileLinkStatus` (so twice per `FileContext.rename`). Spark's
  * offset and commit logs do one create-and-rename per micro-batch,
  * and every parquet file written does the creates, so a trickle batch
  * starts several processes. This subclass answers both calls from
  * `java.nio` through the JDK's `unix` attribute view, with the stock
  * results: same modes, same status fields, same exceptions. `.crc`
  * sidecars, umask and rename stay the stock code (the checksummed
  * wrappers below). Where the JDK has no `unix` view both calls are the
  * stock ones.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import GraftRawLocalFileSystem._

  /** One `chmod(2)` with the stock call's mode. The stock call runs
    * `chmod %04o`, and GNU chmod keeps a directory's setuid/setgid bits
    * under a four-digit numeric mode, so they are kept here too. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!UnixView) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val kept = if ((mode & S_IFMT) == S_IFDIR) mode & SetIdBits else 0
      Files.setAttribute(file, "unix:mode", Int.box(permission.toShort | kept))
    }

  /** The stock status, field for field, from one `stat(2)`:
    *  - the link is probed at `f.toString`, as the stock `readlink` is,
    *    so a scheme-qualified path (`file:/...`) never reads as a link;
    *  - every other field follows links (the stock call stats the file
    *    and runs `ls -ld` on its canonical path);
    *  - a link's target is qualified by `FSLinkResolver`, a dangling
    *    link is the stock placeholder status, and a missing path throws
    *    `FileNotFoundException` (`FileContext.rename` relies on it).
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (!UnixView) super.getFileLinkStatus(f)
    else {
      val probe = new File(f.toString).toPath
      val link =
        if (!Files.isSymbolicLink(probe)) None
        else Some(FSLinkResolver.qualifySymlinkTarget(getUri, f,
          new Path(Files.readSymbolicLink(probe).toString)))
      val local = pathToFile(f)
      val stat =
        try Some(Files.readAttributes(local.toPath,
          "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory"))
        catch { case _: FileSystemException => None }
      stat match {
        case None if link.isEmpty => throw new FileNotFoundException(s"File $f does not exist")
        case None =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", link.get, f)
        case Some(a) =>
          def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
          def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
          new FileStatus(a.get("size").asInstanceOf[Long],
            link.isEmpty && a.get("isDirectory").asInstanceOf[Boolean], 1,
            getDefaultBlockSize(f), millis("lastModifiedTime"), millis("lastAccessTime"),
            new FsPermission((a.get("mode").asInstanceOf[Int] & PermBits).toShort),
            name("owner"), name("group"), link.orNull,
            if (link.isEmpty) new Path(local.getPath).makeQualified(getUri, getWorkingDirectory)
            else f)
      }
    }
}

object GraftRawLocalFileSystem {
  private val UnixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val S_IFMT = 0xf000 // 0170000
  private val S_IFDIR = 0x4000 // 0040000
  private val SetIdBits = 0xc00 // 06000
  private val PermBits = 0x3ff // 01777: what FsPermission holds (sticky + rwx)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the
  * fork-free raw file system. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `AbstractFileSystem` twin of `org.apache.hadoop.fs.local.RawLocalFs`
  * over the fork-free raw file system. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` and so Spark's
  * checkpoint file manager use): the twin of
  * `org.apache.hadoop.fs.local.LocalFs`, which also ignores the URI. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

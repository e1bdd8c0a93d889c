package graft.lake

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem,
  FSDataOutputStream, FileAlreadyExistsException, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.hadoop.util.Progressable

/** The engine's `file:` FileSystem: Hadoop's checksummed
  * `LocalFileSystem` over [[LocalFs.Raw]], which changes permissions
  * through `java.nio` instead of a child process, and whose create
  * without overwrite is exclusive, so of two racing commits of one lake
  * version exactly one wins.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` through `org.apache.hadoop.util.Shell` — one child
  * process for every file and directory that Spark, Parquet or a
  * manifest commit creates, each run in turn inside the write. The mode
  * bits are the ones Hadoop computed (umask applied), so files and
  * directories get the same modes as with the stock FS.
  * Checksums are unchanged: `.crc` siblings are written and verified on
  * read. Listing, reading and committing are Hadoop's own code.
  *
  * [[graft.GraftSession]] binds this class (`fs.file.impl`) and
  * [[LocalFs.Context]] (`fs.AbstractFileSystem.file.impl`, the
  * `FileContext` API Structured Streaming writes through) for every
  * session it builds. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` without child processes on the write path,
    * and with exclusive no-overwrite creates. */
  final class Raw extends RawLocalFileSystem {

    /** `chmod` through NIO. NIO cannot set the sticky bit, so only a
      * permission carrying it takes Hadoop's `chmod` path; the engine
      * never creates one. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val f = pathToFile(p)
        try Files.setPosixFilePermissions(f.toPath, posix(permission))
        catch {
          case _: NoSuchFileException =>
            throw new FileNotFoundException(s"File $f does not exist")
        }
      }

    /** Hadoop resolves a link target with a `readlink` child process on
      * every call, which `FileContext` renames make twice; a path that
      * is not a symbolic link gets its plain status, as Hadoop returns
      * for a non-link. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath))
        super.getFileLinkStatus(f)
      else getFileStatus(f)

    /** A create that must not overwrite claims the name atomically
      * (`O_CREAT | O_EXCL`) before Hadoop opens the file. Hadoop checks
      * `exists` and then opens a truncating stream, so two racing
      * creates of one name could both succeed, the later one emptying
      * the earlier one's file. */
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      if (!overwrite) claim(f)
      super.create(f, true, bufferSize, replication, blockSize, progress)
    }

    override def create(f: Path, permission: FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      if (!overwrite) claim(f)
      super.create(f, permission, true, bufferSize, replication, blockSize,
        progress)
    }

    /** Create `f` empty, failing if it exists; its parents are made as
      * Hadoop's create makes them. */
    private def claim(f: Path): Unit = {
      val parent = f.getParent
      if (parent != null && !mkdirs(parent))
        throw new IOException(s"Mkdirs failed to create $parent")
      try Files.createFile(pathToFile(f).toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"File already exists: $f")
      }
    }
  }

  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) s.add(r)
      if (a.implies(FsAction.WRITE)) s.add(w)
      if (a.implies(FsAction.EXECUTE)) s.add(x)
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    s
  }

  /** The `FileContext` binding: Hadoop's `local.LocalFs` (a `ChecksumFs`
    * over a `DelegateToFileSystem`) with [[Raw]] underneath. Like
    * Hadoop's, it serves `file:///` whatever URI it is made for. */
  final class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `local.RawLocalFs`, delegating to [[Raw]]: local server
    * defaults for `FileContext` creates, and no check that rejects a
    * path segment holding `:`. */
  private final class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

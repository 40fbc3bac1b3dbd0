package graft.sources

import java.io.{File, FileNotFoundException}
import java.nio.file.{FileSystems, Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system without its shell forks.
  *
  * Without Hadoop's native library (the usual case for an embedded
  * Spark), the stock `RawLocalFileSystem` reads a file's permission,
  * owner and group by forking `ls -ld`, and sets a permission by
  * forking `chmod`. Every file create and `mkdirs` sets a permission,
  * and every `listFiles` entry reads one, so the lake's writes,
  * staging walks and vacuum listings paid one process start per file:
  * one `lake_txn` benchmark run started 761 processes, 8 with this
  * class.
  *
  * [[ForkFreeLocalFileSystem.Raw]] answers both through java.nio: a
  * permission write is `Files.setPosixFilePermissions` (a sticky bit,
  * which nio cannot set, still goes to the stock fork), and a file
  * status loads its permission, owner and group from the `unix`
  * attribute view on first use, so callers that never ask pay
  * nothing. [[graft.GraftSession]] installs it as Hadoop's
  * `fs.file.impl`. A host without the `unix` view, and a name the
  * JVM's file-name encoding cannot map to a nio path, keep the stock
  * behaviour. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  class Raw extends RawLocalFileSystem {

    /** The nio path of `p`, or None where nio cannot name it: without
      * the `unix` view, or for a name the JVM's file-name encoding
      * cannot map (java.io still opens those). */
    private def nio(p: Path): Option[java.nio.file.Path] =
      if (!unixView) None
      else try Some(pathToFile(p).toPath)
      catch { case _: InvalidPathException => None }

    override def setPermission(p: Path, permission: FsPermission): Unit =
      nio(p) match {
        case Some(np) if !permission.getStickyBit =>
          val mode = permission.toShort
          val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
          // The enum runs OWNER_READ … OTHERS_EXECUTE, mode bits 8 … 0.
          PosixFilePermission.values.foreach { x =>
            if ((mode & (1 << (8 - x.ordinal))) != 0) perms.add(x)
          }
          Files.setPosixFilePermissions(np, perms)
        case _ => super.setPermission(p, permission)
      }

    override def getFileStatus(f: Path): FileStatus =
      nio(f) match {
        case None => super.getFileStatus(f)
        case Some(np) =>
          val attrs =
            try Files.readAttributes(np, classOf[BasicFileAttributes])
            catch { case _: NoSuchFileException =>
              throw new FileNotFoundException(s"File $f does not exist") }
          val file = pathToFile(f)
          new LazyStatus(file, attrs, getDefaultBlockSize(f),
            new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
      }

    // The stock listing builds a lone file's status itself rather than
    // through getFileStatus; a directory's entries already come from it.
    override def listStatus(f: Path): Array[FileStatus] =
      if (unixView && pathToFile(f).isFile) Array(getFileStatus(f))
      else super.listStatus(f)
  }

  /** A status whose permission, owner and group are read from the
    * `unix` attribute view the first time any of them is asked for. */
  private final class LazyStatus(file: File, attrs: BasicFileAttributes,
      blockSize: Long, path: Path)
      extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
        attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
        null, null, null, path) {

    @volatile private var loaded = false

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val a = Files.readAttributes(file.toPath, "unix:mode,owner,group")
        setPermission(new FsPermission(
          (a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[UserPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}

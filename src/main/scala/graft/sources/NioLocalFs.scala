package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, Paths}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` filesystem without child processes.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file
  * and directory it creates (parquet part files, commit-protocol dirs,
  * `_SUCCESS`, checkpoint temp files, `.crc` sidecars) and `readlink`
  * for every link lookup, which `FileContext.rename` makes twice per
  * checkpoint commit: about 5 ms a fork, against microseconds through
  * java.nio. These classes answer exactly those calls through java.nio
  * with the same mode bits and link semantics; everything else is
  * Hadoop's. `Tables.configure` binds them to the `file:` scheme for
  * both `FileSystem` ([[NioLocalFileSystem]]) and `FileContext`
  * ([[NioLocalFs]], used by streaming checkpoints and state stores).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioLocalFs.chmod(pathToFile(p).toPath, permission))
      super.setPermission(p, permission)

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's lookup, link read through java.nio: the link is read at
    * `f` as written (so a `file:`-qualified path reads as no link, as
    * Hadoop's `readlink` of that string does), the status follows it,
    * and a dangling link keeps its target with an empty status. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(Paths.get(f.toString)).toString
      catch { case _: IOException | _: InvalidPathException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` stack
  * (`ChecksumFs` over a `DelegateToFileSystem`) over
  * [[NioRawLocalFileSystem]]. `LocalFs` itself cannot be extended for
  * this: its constructors are package-private and build their own
  * `RawLocalFileSystem`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs`, over [[NioRawLocalFileSystem]]. */
private[sources] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioLocalFs {
  private val bits = Seq(
    0x100 -> PosixFilePermission.OWNER_READ,
    0x80 -> PosixFilePermission.OWNER_WRITE,
    0x40 -> PosixFilePermission.OWNER_EXECUTE,
    0x20 -> PosixFilePermission.GROUP_READ,
    0x10 -> PosixFilePermission.GROUP_WRITE,
    0x8 -> PosixFilePermission.GROUP_EXECUTE,
    0x4 -> PosixFilePermission.OTHERS_READ,
    0x2 -> PosixFilePermission.OTHERS_WRITE,
    0x1 -> PosixFilePermission.OTHERS_EXECUTE)

  /** Set `permission`'s mode bits on `f` (following links, as `chmod`
    * does) and return true; false, having done nothing, when java.nio
    * cannot express the request: a sticky bit, or a filesystem without
    * a POSIX attribute view. */
  private[sources] def chmod(f: java.nio.file.Path,
      permission: FsPermission): Boolean = {
    val view = Files.getFileAttributeView(f, classOf[PosixFileAttributeView])
    if (view == null || permission.getStickyBit) false
    else {
      val mode = permission.toShort.toInt
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.foreach { case (b, p) => if ((mode & b) != 0) set.add(p) }
      view.setPermissions(set)
      true
    }
  }
}

package graft.store

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem, minus its forked processes. Without the
  * Hadoop native library (the usual case for an embedded Spark), the stock
  * class forks `chmod` to set the permission bits of every file, `.crc`
  * sibling and directory a commit protocol creates, and `readlink` to read
  * the link status of every path a `FileContext` rename touches (the
  * streaming checkpoint's commits). This class does both through
  * `java.nio`: the same bits, the same link status, no process. Bits nio
  * cannot express (the sticky bit), or a filesystem without POSIX
  * attributes, fall back to the stock implementation.
  *
  * [[graft.GraftSession.builder]] registers the checksummed wrappers
  * ([[LocalStoreFileSystem]], [[LocalStoreFs]]) for the `file:` scheme
  * only; HDFS and object stores are untouched.
  */
class LocalStoreRawFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalStoreRawFileSystem.posix(bits))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The stock deprecated link status (a `readlink` of `f` as written,
    * then the file status), with the link read through nio.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target = LocalStoreRawFileSystem.readLink(f.toString)
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // a dangling link: the target is gone but the link is not
      case _: java.io.FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath,
      st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink
}

object LocalStoreRawFileSystem {
  private val perms = PosixFilePermission.values // OWNER_READ (0400) … OTHERS_EXECUTE (0001)

  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    perms.indices.foreach(i => if ((bits & (1 << (8 - i))) != 0) s.add(perms(i)))
    s
  }

  /** What `readlink <path>` prints: the link's target, or "" when `path`
    * is not a symbolic link (or cannot be read).
    */
  private def readLink(path: String): String =
    try {
      val p = Paths.get(path)
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: Exception => "" }
}

/** [[LocalStoreRawFileSystem]] with `.crc` checksums: the `fs.file.impl`
  * the engine registers (Hadoop's `LocalFileSystem` over the raw one).
  */
class LocalStoreFileSystem extends LocalFileSystem(new LocalStoreRawFileSystem)

/** The `FileContext` face of [[LocalStoreRawFileSystem]], as Hadoop's
  * `RawLocalFs` is of its raw local filesystem.
  */
class LocalStoreRawFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new LocalStoreRawFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** [[LocalStoreRawFs]] with `.crc` checksums: the
  * `fs.AbstractFileSystem.file.impl` the engine registers (Hadoop's
  * `LocalFs` over the raw one). Hadoop instantiates it reflectively with
  * `(URI, Configuration)`; like `LocalFs`, it always serves `file:///`.
  */
class LocalStoreFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalStoreRawFs(conf))

package graft.sources

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without process forks. Without the Hadoop
  * native library, `RawLocalFileSystem` runs a `chmod` process for every
  * permissioned create or mkdir and a `readlink` process for every link
  * status (which `FileContext.rename` asks for on each streaming log
  * write): ~30 forks per micro-batch on the stream thread, 3-8 ms each.
  * Here permissions go through NIO and link status through
  * `Files.isSymbolicLink`; the sticky bit, a non-POSIX store and real
  * symlinks keep Hadoop's own path. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff
      val perms = new java.util.HashSet[attribute.PosixFilePermission]()
      attribute.PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over the fork-free raw one. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext`, and so the
  * streaming checkpoint logs, use): Hadoop's `LocalFs`/`RawLocalFs` pair
  * over the fork-free raw filesystem. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf))

class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

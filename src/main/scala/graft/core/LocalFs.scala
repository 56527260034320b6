package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem, setting permissions without a child
  * process. Without Hadoop's native library, `RawLocalFileSystem`
  * forks `chmod` for every file and directory it creates with a
  * permission (every parquet part file, commit-protocol directory and
  * checkpoint file); this sets the same mode through java.nio.
  *
  * The mode is the rwx and sticky bits of `FsPermission.toShort`. A
  * directory keeps its setuid/setgid bits, as GNU `chmod 0755` keeps
  * them (a directory made under a setgid parent stays setgid), where
  * `Files.setPosixFilePermissions` would clear them. Symlinks are
  * followed, as the shell path canonicalizes its argument; a missing
  * path throws `NoSuchFileException`, an `IOException`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val setId =
      if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SetIdBits
      else 0
    Files.setAttribute(f, "unix:mode", Int.box((permission.toShort & PermBits) | setId))
  }
}

object NioRawLocalFileSystem {
  /** Sticky and rwx bits (octal 1777). */
  private val PermBits = 0x3ff
  /** Setuid and setgid bits (octal 6000). */
  private val SetIdBits = 0xc00
}

/** Hadoop's checksummed local filesystem (`.crc` siblings and all) over
  * [[NioRawLocalFileSystem]]; `GraftSession` makes it the `file:`
  * filesystem. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

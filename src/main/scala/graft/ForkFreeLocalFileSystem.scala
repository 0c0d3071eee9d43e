package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem [[GraftSession]] pins: Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is one in-JVM `chmod(2)`
  * instead of the `chmod %04o` process Hadoop forks without libhadoop.
  * It leaves the mode that command leaves: a file gets exactly the 10
  * permission bits (sticky + rwx); a directory also keeps its setuid and
  * setgid bits, as GNU `chmod` does for a 4-digit octal mode
  * (`Files.setPosixFilePermissions` would clear them). Without the JDK's
  * `unix` attribute view it falls back to Hadoop's own path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    try {
      val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val kept = if ((mode & S_IFMT) == S_IFDIR) mode & S_ISUID_ISGID else 0
      Files.setAttribute(f, "unix:mode", Integer.valueOf(permission.toShort & PermBits | kept))
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        super.setPermission(p, permission)
    }
  }
}

object ForkFreeRawLocalFileSystem {
  // st_mode masks: octal 0170000, 0040000, 06000 and 01777
  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val S_ISUID_ISGID = 0xc00
  private val PermBits = 0x3ff
}

package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with permissions set in process. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every directory it makes and every file it creates —
  * nine forks for a one-row parquet append. Wrapped in
  * `LocalFileSystem`, so the `.crc` checksums stay.
  *
  * Catalog writes select it per write through the `fs.file.impl`
  * write option ([[Catalog.writeOptions]]); nothing session- or
  * JVM-wide changes.
  */
final class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` calls
  * `Files.setPosixFilePermissions`. A sticky bit, which java.nio cannot
  * set, or a filesystem without POSIX attributes falls back to
  * Hadoop's own call.
  */
final class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  import InProcessRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

private object InProcessRawLocalFileSystem {
  // owner rwx, group rwx, others rwx: mode bits 8 down to 0
  private val order = PosixFilePermission.values

  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    order.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) set.add(order(i)))
    set
  }
}

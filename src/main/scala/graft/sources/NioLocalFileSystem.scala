package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem graft sessions use (`Graft.configure` sets
  * `fs.file.impl` to it): Hadoop's checksummed [[LocalFileSystem]] over a
  * raw local filesystem that sets permissions in-process.
  *
  * Without the native Hadoop library, the stock `RawLocalFileSystem`
  * starts a `chmod` process for every directory it creates and every file
  * it opens for writing, so a parquet part file (data file plus `.crc`
  * sidecar) costs two process starts. The `.crc` sidecars are still
  * written and verified: only the raw layer changes.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` sets the same nine POSIX
    * bits through `java.nio`. A sticky bit (which `java.nio` cannot set)
    * or a file store without POSIX attributes falls back to the inherited
    * method.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString // e.g. "rwxr-xr-x"
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}

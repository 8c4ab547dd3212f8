package graft.kg

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` file system with a raw layer that sets permissions in
  * process. Without Hadoop's native IO library, `RawLocalFileSystem`
  * forks `chmod` for every file it creates and every directory it makes
  * (a parquet part file, its `.crc` sidecar, each partition directory);
  * [[KgPipeline.session]] installs this class as `fs.file.impl`. HDFS and
  * S3A are untouched. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `setPermission` through `Files.setPosixFilePermissions`. The sticky bit,
  * which NIO cannot set, and non-POSIX file systems keep Hadoop's own
  * path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}

package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system, minus the forked `chmod`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `/bin/chmod` in a child process, and Hadoop calls it for every
  * file it creates (each part file and its `.crc`) and every directory it
  * makes. On a 4-core Linux box that is ~8.5 ms per file create against
  * ~0.2 ms for the same `chmod(2)` through `java.nio`, and on a
  * micro-batch of a few hundred rows it is most of the write job. This
  * file system sets the same bits with `Files.setPosixFilePermissions`;
  * a mode nio cannot express (sticky) or a store without POSIX
  * attributes keeps Hadoop's own path. Everything else is Hadoop's
  * `LocalFileSystem`.
  *
  * A write selects it with [[ForkFreeLocalFileSystem.WriteOptions]]. */
final class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** The raw layer: Hadoop's, with `setPermission` done in-process. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      posixPermissions(permission,
          file.getFileSystem.supportedFileAttributeViews()) match {
        case Some(perms) => Files.setPosixFilePermissions(file, perms); ()
        case None => super.setPermission(p, permission)
      }
    }
  }

  /** Per-write options (`df.write.options(WriteOptions)`) that route the
    * write's `file:` paths through [[ForkFreeLocalFileSystem]]. Spark
    * copies a write's options into the Hadoop conf of that write only —
    * driver and tasks — so no session conf changes. The cache switch is
    * needed because Hadoop caches file systems by scheme, not by conf: a
    * cached default `file:` instance would otherwise win. Paths of other
    * schemes are unaffected. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The nio permission set for `permission`, or None where Hadoop's own
    * path must run: a special bit (sticky; `FsPermission` carries no
    * setuid/setgid) or a store whose attribute `views` lack "posix". */
  private[sinks] def posixPermissions(permission: FsPermission,
      views: java.util.Set[String]): Option[java.util.Set[PosixFilePermission]] = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || !views.contains("posix")) None
    else {
      // enum order is owner rwx, group rwx, others rwx: bit 0400 down to 01
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values().zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(pp)
      }
      Some(perms)
    }
  }
}

package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's checksummed `file:` filesystem, with `setPermission` done
  * in-process by `java.nio.file` instead of a forked `chmod`.
  *
  * Without the native-hadoop library, `RawLocalFileSystem.setPermission`
  * execs a `chmod` shell command, and the filesystem calls it for every
  * file, `.crc` sibling and directory it creates. Measured on a 4-core
  * host: 200 single-file creates forked 1,234 processes in 2.0-2.7 s,
  * against 33 in 0.4 s through this class, and the 2k x d=64 dense-index
  * build forked about 4,900 against about 300, leaving identical rows,
  * modes and `.crc` files (StoreSpec pins the equality). It is the write-side
  * twin of [[org.apache.spark.sql.graftshim.NioCheckpointFileManager]],
  * which removes the same fork cost from scratch streaming checkpoints.
  *
  * Writes select it per write through [[Store.writer]]; the shared
  * session and `SparkContext` Hadoop confs are never changed, and a
  * non-`file:` path never reaches it. A sticky bit (which
  * `PosixFilePermission` cannot express) or a filesystem without POSIX
  * attributes falls back to Hadoop's own `setPermission`.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** The raw (checksum-free) layer the checksummed filesystem wraps. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
        catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
  }

  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) out.add(r)
      if (a.implies(FsAction.WRITE)) out.add(w)
      if (a.implies(FsAction.EXECUTE)) out.add(x)
    }
    add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    out
  }
}

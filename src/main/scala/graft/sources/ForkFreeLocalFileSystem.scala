package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's checksummed `file:` filesystem, with `setPermission` done
  * in-process by `java.nio.file` instead of a forked `chmod`, and file
  * statuses read the same way instead of a forked `ls`.
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
  *
  * The read side: a stock local status loads its permission, owner and
  * group lazily, by forking `ls -ld` on first use, and a listing that
  * wraps statuses with block locations uses them for every file. Here
  * `getFileStatus` and `listStatus` fill all three from one `unix:*`
  * attribute read (the mode keeps its sticky bit, as `ls` shows it).
  * Measured on a 4-core host, a recursive listing of a 179-cell store
  * took 1.2 s through the stock filesystem and about 20 ms through this
  * one. [[Store.read]] lists stores through it.
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

    /** The status `RawLocalFileSystem` builds (length, directory flag,
      * replication 1, the local block size, modification and access
      * times, the qualified path), with the permission, owner and group
      * already read. A missing path is a `FileNotFoundException`, and a
      * filesystem without the `unix` attribute view falls back to
      * Hadoop's status. */
    override def getFileStatus(p: Path): FileStatus = {
      val a = try Files.readAttributes(pathToFile(p).toPath, "unix:*") catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
        case _: UnsupportedOperationException | _: IllegalArgumentException =>
          return super.getFileStatus(p)
      }
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
      new FileStatus(a.get("size").asInstanceOf[Long],
        a.get("isDirectory").asInstanceOf[Boolean], 1, getDefaultBlockSize(p),
        millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
        name("owner"), name("group"), makeQualified(p))
    }

    /** A directory's children go through [[getFileStatus]] already; a
      * file's own one-element listing is the only status the parent
      * builds directly. */
    override def listStatus(p: Path): Array[FileStatus] = {
      val st = getFileStatus(p)
      if (st.isDirectory) super.listStatus(p) else Array(st)
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

package org.apache.spark.sql.graftshim

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption, NoSuchFileException => NioNoSuchFile}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** [[CheckpointFileManager]] for LOCAL scratch checkpoints backed by
  * `java.nio.file` instead of Hadoop's local filesystem (r19).
  *
  * Why it exists (measured, guide §1/§7.3): without the native-hadoop
  * library, every checkpoint-file commit through the default managers
  * FORKS SHELL PROCESSES — `RawLocalFileSystem.rename` resolves symlinks
  * via `FileUtil.readLink` (execs `readlink`), stream creation chmods via
  * `Shell.execCommand`, and permission reads exec `ls` — two to three
  * ~20-50 ms fork+exec per state-store delta commit, offset-log write and
  * commit-log write, serialized across concurrent tasks. Stack-sampling
  * the streaming bench queries showed this (plus the Spark 4 checksum
  * future await) as the dominant BLOCKED time of every state-store task:
  * the stream-stream join spent ~15 s of summed task time blocked there
  * against ~1 s of CPU. NIO performs the same create-temp + atomic-rename
  * protocol entirely in-process.
  *
  * Scope: local filesystems only (`isLocal = true`, rename via
  * `ATOMIC_MOVE` within one directory). The engine installs it ONLY for
  * the per-invocation throwaway checkpoints of the oracle/bench streaming
  * queries ([[graft.streaming]] session helpers); durable production
  * checkpoints on a cluster filesystem keep Spark's default manager and
  * its checksum protection.
  *
  * Batch store writes pay the same fork cost through the `chmod` in
  * `RawLocalFileSystem.setPermission`; [[graft.sources.ForkFreeLocalFileSystem]]
  * removes it there, per write, keeping checksums and modes.
  */
class NioCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private def nio(p: Path): java.nio.file.Path = {
    val uri = p.toUri
    Paths.get(if (uri.getScheme == null) uri.toString else uri.getPath)
  }

  /** Fork-free read/list delegate: `RawLocalFileSystem.open` is a plain
    * `FileInputStream` and `listStatus` builds lazy-permission statuses —
    * neither execs a shell unless a caller asks for permissions, which
    * the metadata logs and state stores never do. */
  private lazy val localFs: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), hadoopConf)
    fs
  }

  override def createAtomic(
      path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = nio(path)
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
    val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile))
    new CancellableFSDataOutputStream(out) {
      @volatile private var terminated = false
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          out.close()
          // same exists-then-rename protocol as the stock
          // FileSystemBasedCheckpointFileManager: the single-writer local
          // scratch checkpoint has no concurrent committers, and Linux
          // rename(2) would otherwise replace silently
          if (!overwriteIfPossible && Files.exists(dst)) {
            Files.deleteIfExists(tmp)
            throw new FileAlreadyExistsException(
              s"Failed to rename temp file $tmp to $path because file exists")
          }
          Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
      }
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try out.close() finally Files.deleteIfExists(tmp)
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = localFs.open(path)

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    localFs.listStatus(path).filter(s => filter.accept(s.getPath))

  override def mkdirs(path: Path): Unit = Files.createDirectories(nio(path))

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    val p = nio(path)
    try {
      if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        try {
          walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.deleteIfExists(f))
        } finally walk.close()
      } else Files.deleteIfExists(p)
    } catch {
      case _: NioNoSuchFile => // deleting a missing path is a no-op, like the stock managers
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    mkdirs(root)
    localFs.makeQualified(root)
  }
}

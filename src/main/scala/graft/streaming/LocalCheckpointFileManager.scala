package graft.streaming

import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Structured Streaming's checkpoint writes for `file:` paths, with no
  * process launched per file. Spark ships without Hadoop's native
  * library, so its default manager (`FileContext` → `ChecksumFs` →
  * `RawLocalFs`) shells out to `chmod` and `readlink` for every
  * offsets/commits entry: ~20 launches and ~50 ms per flush epoch,
  * on tmpfs as on disk. Here `createAtomic` writes a hidden temp file
  * beside the target with `java.nio` and publishes it on `close()`:
  * an overwrite is an atomic rename; a no-overwrite publish is a hard
  * link, which fails atomically when the target exists and surfaces
  * as Hadoop's `FileAlreadyExistsException`, the error
  * `HDFSMetadataLog` reports as a concurrent writer. A stale
  * `.<name>.crc` sibling (left by Spark's default manager) is deleted
  * before publishing, so the file stays readable through
  * `LocalFileSystem`. Directories are created with `java.nio` too:
  * Hadoop's `mkdirs` with a permission runs `chmod` on each. Reads,
  * listing, `exists` and `delete` go through
  * `FileSystemBasedCheckpointFileManager`, which spawns nothing for
  * them on `LocalFileSystem`.
  *
  * Durability is Hadoop's local FS's: neither side fsyncs the file or
  * its directory. Any path that is not local goes to the manager
  * Spark would have chosen. Installed by [[graft.SessionDefaults]]
  * under Spark's `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private val fs = path.getFileSystem(hadoopConf)
  private val local = fs.getUri.getScheme == "file"
  private val delegate: CheckpointFileManager =
    if (local) new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    if (!local) return delegate.createAtomic(p, overwriteIfPossible)
    val target = nioPath(p)
    val name = target.getFileName.toString
    val temp = target.resolveSibling(s".$name.${UUID.randomUUID()}.tmp")
    new CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW))) {
      private var terminated = false

      override def close(): Unit = synchronized {
        if (terminated) return
        terminated = true
        try {
          underlyingStream.close()
          Files.deleteIfExists(target.resolveSibling(s".$name.crc"))
          if (overwriteIfPossible)
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target, temp) catch {
            case e: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$p already exists")
                .initCause(e)
          }
        } finally Files.deleteIfExists(temp)
      }

      override def cancel(): Unit = synchronized {
        if (terminated) return
        terminated = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nioPath(p)) else delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    if (!local) delegate.createCheckpointDirectory()
    else {
      val root = fs.makeQualified(path)
      Files.createDirectories(nioPath(root))
      root
    }
  override def close(): Unit = delegate.close()

  private def nioPath(p: Path) =
    new File(fs.makeQualified(p).toUri.getPath).toPath
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}

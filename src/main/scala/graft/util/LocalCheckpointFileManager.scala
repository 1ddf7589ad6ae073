package graft.util

import java.io.{BufferedOutputStream, File, FileNotFoundException, RandomAccessFile}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint I/O for `file:` paths that never forks a process.
  *
  * Without `libhadoop`, Hadoop's local filesystem shells out (`chmod`,
  * `stat`, `ls`) for every file it creates or renames: about 20 forks and
  * 26–35 ms per checkpoint file, paid on every micro-batch by the offset
  * log, the commit log and each state partition's changelog. Here every
  * call is plain `java.nio`:
  *  - `createAtomic` writes a hidden temp file beside the target, fsyncs
  *    it on `close` and publishes it atomically: a rename when
  *    `overwriteIfPossible`, otherwise a hard link, which fails when the
  *    name exists (so a second writer of a batch gets the
  *    `FileAlreadyExistsException` `HDFSMetadataLog` relies on and the
  *    first writer's bytes stay), then an unlink of the temp. The target
  *    is invisible until `close`; `cancel` removes the temp.
  *  - no `.crc` sibling is written, and none is needed to read a file.
  *
  * Every other scheme (`hdfs:`, `s3a:` …) goes to Spark's default
  * `FileContextBasedCheckpointFileManager`, unchanged. No Hadoop
  * `FileSystem` is created for local paths. Registered by
  * `GraftSession.builder`. */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val remote: Option[CheckpointFileManager] =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file") None
    else Some(new FileContextBasedCheckpointFileManager(path, conf))

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold[CancellableFSDataOutputStream] {
      val target = file(p).getAbsoluteFile
      Files.createDirectories(target.getParentFile.toPath)
      val temp = new File(target.getParentFile, s".${target.getName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(target, temp, overwriteIfPossible,
        FileChannel.open(temp.toPath, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = remote.fold(
    new FSDataInputStream(new BufferedFSInputStream(new LocalInput(file(p)), 64 << 10)))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = remote.fold {
    val dir = qualified(p)
    val names = file(p).list()
    if (names == null) throw new FileNotFoundException(s"$p is not a directory")
    names.map(new Path(dir, _)).filter(filter.accept).flatMap(status)
  }(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    remote.fold[Unit](Files.createDirectories(file(p).toPath))(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(file(p).exists())(_.exists(p))

  override def delete(p: Path): Unit = remote.fold[Unit] {
    try FileUtils.forceDelete(file(p)) catch { case _: FileNotFoundException => }
  }(_.delete(p))

  override def isLocal: Boolean = remote.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = remote.fold {
    mkdirs(path)
    qualified(path)
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())
}

object LocalCheckpointFileManager {

  private def file(p: Path): File = new File(p.toUri.getPath)

  private def qualified(p: Path): Path = new Path("file", null, file(p).getAbsolutePath)

  /** None when the entry vanished between listing and reading it. */
  private def status(p: Path): Option[FileStatus] =
    try {
      val a = Files.readAttributes(file(p).toPath, classOf[BasicFileAttributes])
      Some(new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, p))
    } catch { case _: NoSuchFileException => None }

  private final class AtomicOutput(target: File, temp: File, overwrite: Boolean, ch: FileChannel)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Channels.newOutputStream(ch), 64 << 10)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.flush()
          ch.force(true)
          underlyingStream.close()
          if (overwrite) Files.move(temp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target.toPath, temp.toPath) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally {
          ch.close()
          Files.deleteIfExists(temp.toPath)
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try ch.close() finally Files.deleteIfExists(temp.toPath)
      }
    }
  }

  private final class LocalInput(f: File) extends FSInputStream {
    private val raf = new RandomAccessFile(f, "r")
    override def seek(pos: Long): Unit = raf.seek(pos)
    override def getPos: Long = raf.getFilePointer
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = raf.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = raf.read(b, off, len)
    override def close(): Unit = raf.close()
  }
}

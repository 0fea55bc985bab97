package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, StandardOpenOption, Path => NioPath, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A [[CheckpointFileManager]] for local checkpoints that does its I/O
  * through `java.nio` and never spawns a process.
  *
  * Spark's default manager goes through Hadoop's local file system, which
  * without `libhadoop` forks `readlink` for every link-status lookup and
  * `chmod` for every permission it sets: on a 4-vCPU VM, one benchmark run
  * of 100k-record `Tail -O` drains spawned about 1,500 such processes, and
  * the offset WAL plus commit log took about a quarter of every
  * micro-batch. Here a metadata write is a hidden temp file in the
  * destination directory moved into place with one atomic rename, the
  * same publish-by-rename protocol Spark's managers use.
  *
  * Select it with `spark.sql.streaming.checkpointFileManagerClass`; a path
  * on any other file system goes to Spark's default manager.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private lazy val fallback: CheckpointFileManager = {
    // The default manager, chosen as if no class were configured (naming
    // this class again would recurse).
    val conf = new Configuration(hadoopConf)
    conf.unset(ClassKey)
    CheckpointFileManager.create(path, conf)
  }

  // A path without a scheme lives on the default file system.
  private lazy val defaultScheme = FileSystem.getDefaultUri(hadoopConf).getScheme

  private def onLocalFs(p: Path): Boolean =
    Option(p.toUri.getScheme).getOrElse(defaultScheme) == "file"

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!onLocalFs(p)) fallback.createAtomic(p, overwriteIfPossible)
    else {
      val dst = local(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
      new AtomicLocalOutputStream(tmp, dst, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream =
    if (!onLocalFs(p)) fallback.open(p)
    else new FSDataInputStream(notFoundAsHadoop(p)(new LocalInputStream(local(p))))

  /** Statuses carry length, directory flag and mtime only, so listing
    * needs no owner or permission lookup.
    */
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (!onLocalFs(p)) fallback.list(p, filter)
    else {
      val entries = notFoundAsHadoop(p)(Files.list(local(p)))
      try entries.iterator().asScala.flatMap { f =>
        val child = new Path(p, f.getFileName.toString)
        if (!filter.accept(child)) None
        else
          try {
            val a = Files.readAttributes(f, classOf[BasicFileAttributes])
            Some(new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, child))
          } catch { case _: NoSuchFileException => None } // removed since the listing
      }.toArray
      finally entries.close()
    }

  override def mkdirs(p: Path): Unit =
    if (!onLocalFs(p)) fallback.mkdirs(p) else Files.createDirectories(local(p))

  override def exists(p: Path): Boolean =
    if (!onLocalFs(p)) fallback.exists(p) else Files.exists(local(p))

  /** Recursive; a missing path is not an error (the interface's contract). */
  override def delete(p: Path): Unit =
    if (!onLocalFs(p)) fallback.delete(p)
    else {
      val f = local(p)
      if (Files.isDirectory(f)) FileUtils.deleteDirectory(f.toFile)
      else Files.deleteIfExists(f)
    }

  override def isLocal: Boolean = onLocalFs(path) || fallback.isLocal

  override def createCheckpointDirectory(): Path =
    if (!onLocalFs(path)) fallback.createCheckpointDirectory()
    else {
      val dir = Files.createDirectories(local(path)).toAbsolutePath
      new Path("file", null, dir.toString)
    }
}

object LocalCheckpointFileManager {
  /** The session/Hadoop conf key Spark reads the manager class from. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def local(p: Path): NioPath = Paths.get(p.toUri.getPath)

  /** Callers of a checkpoint manager expect Hadoop's not-found type. */
  private def notFoundAsHadoop[A](p: Path)(op: => A): A =
    try op
    catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  /** Writes `tmp`; `close` publishes it as `dst` with one atomic rename,
    * `cancel` drops it. Without `overwrite`, an existing `dst` keeps its
    * bytes and `close` raises Hadoop's [[FileAlreadyExistsException]],
    * which Spark's metadata log reads as a concurrent writer.
    */
  private final class AtomicLocalOutputStream(tmp: NioPath, dst: NioPath, overwrite: Boolean)
    extends CancellableFSDataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          else if (Files.exists(dst))
            throw new FileAlreadyExistsException(s"$dst already exists")
          else Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case NonFatal(e) => Files.deleteIfExists(tmp); throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        finally Files.deleteIfExists(tmp)
      }
    }
  }

  /** A seekable, positioned-readable file stream, as [[FSDataInputStream]]
    * requires of what it wraps.
    */
  private final class LocalInputStream(file: NioPath) extends FSInputStream {
    private val ch = FileChannel.open(file, StandardOpenOption.READ)

    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) == 1) b(0) & 0xff else -1
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))

    override def close(): Unit = ch.close()
  }
}

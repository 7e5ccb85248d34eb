package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSDataOutputStream,
  FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A Spark `CheckpointFileManager` for `file:` and scheme-less paths,
  * built on `java.nio.file`. Spark's default manager goes through
  * FileContext to Hadoop's local file system, which without the Hadoop
  * native library starts a `chmod` per create and `readlink`s per
  * rename: five child processes for every offset-log, commit-log and
  * state-store file a micro-batch writes. This one makes the same calls
  * as plain system calls. `GraftExtensions` makes it the JVM-wide
  * default (`spark.sql.streaming.checkpointFileManagerClass`, see
  * `GraftExtensions.Defaults`); metadata logs and state stores resolve
  * it through the session's hadoop conf.
  *
  * Contract, as FileContext's:
  *  - `createAtomic` writes a sibling `.<name>.<uuid>.tmp`, named like
  *    Spark's so batch-file filters skip it, and publishes it on
  *    `close`: an atomic rename when overwriting, otherwise a hard link
  *    that fails with Hadoop's `FileAlreadyExistsException` if the
  *    target exists, so a concurrent metadata-log writer is still
  *    detected; `cancel`, or a failed publish, removes the temp file;
  *  - `open`, and `list` of a missing directory, throw
  *    `FileNotFoundException`; `delete` is recursive and ignores a
  *    missing path; `mkdirs` creates parents.
  *
  * Nothing is fsynced, as on the Hadoop local path it replaces. Hadoop's
  * `.<name>.crc` sidecars are neither written nor checked; they are
  * hidden from listings and removed with their file, so a checkpoint
  * moves between this manager and Spark's default in either direction.
  * Spark's checksum wrapper (`checkpoint.fileChecksum.enabled`) sits on
  * top of any manager. Any other path goes to Spark's default manager. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val impl: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new NioManager(path) else sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  /** Spark's conf key naming the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  private val BufferBytes = 64 * 1024
  /** what Hadoop's local file system reports (`fs.local.block.size`) */
  private val BlockBytes = 32L * 1024 * 1024

  private[graft] def isLocalPath(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** what `CheckpointFileManager.create` picks with no class configured */
  private def sparkDefault(p: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ClassKey)
    CheckpointFileManager.create(p, c)
  }

  private def file(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)
  private def isCrc(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")
  private def crcOf(f: java.nio.file.Path): java.nio.file.Path =
    f.resolveSibling(s".${f.getFileName}.crc")

  /** java.nio's exceptions -> the ones Hadoop callers catch */
  private def io[T](p: Path)(body: => T): T =
    try body catch {
      case _: NoSuchFileException => throw new FileNotFoundException(p.toString)
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(p.toString)
    }

  private final class NioManager(root: Path) extends CheckpointFileManager {

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
      io(p) {
        val d = file(p)
        val tmp = d.resolveSibling(s".${d.getFileName}.${java.util.UUID.randomUUID}.tmp")
        new AtomicOutput(Files.newOutputStream(tmp), tmp, p, overwriteIfPossible)
      }

    override def open(p: Path): FSDataInputStream = io(p) {
      new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(FileChannel.open(file(p))),
        BufferBytes))
    }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = io(p) {
      val ds = Files.newDirectoryStream(file(p))
      try ds.iterator.asScala.flatMap { f =>
        val name = f.getFileName.toString
        val child = new Path(p, name)
        if (isCrc(name) || !filter.accept(child)) None
        else
          try {
            val a = Files.readAttributes(f, classOf[BasicFileAttributes])
            Some(new FileStatus(a.size, a.isDirectory, 1, BlockBytes,
              a.lastModifiedTime.toMillis, child))
          } catch { case _: NoSuchFileException => None } // deleted since the listing
      }.toArray
      finally ds.close()
    }

    override def mkdirs(p: Path): Unit = io(p) { Files.createDirectories(file(p)) }

    override def exists(p: Path): Boolean = Files.exists(file(p))

    override def delete(p: Path): Unit = {
      val f = file(p)
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
        val walk = Files.walk(f)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(g => Files.deleteIfExists(g))
        finally walk.close()
      } else {
        Files.deleteIfExists(f)
        Files.deleteIfExists(crcOf(f))
      }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val f = file(root).toAbsolutePath
      io(root)(Files.createDirectories(f))
      new Path("file", null, f.toString)
    }
  }

  /** Spark's temp-then-publish protocol (its own stream class is sealed to
    * its managers): `close` publishes once, `cancel` discards. */
  private final class AtomicOutput(out: java.io.OutputStream, tmp: java.nio.file.Path,
                                   dst: Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(out, BufferBytes)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
        io(dst) {
          val d = file(dst)
          Files.deleteIfExists(crcOf(d))
          if (overwrite) Files.move(tmp, d, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(d, tmp) finally Files.delete(tmp) // link(2) fails if d exists
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

  /** Seekable, positioned reads over a FileChannel, as FSDataInputStream requires */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 1) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = ch.close()
  }
}

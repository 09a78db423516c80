package graft.streaming

import java.io.{FileInputStream, FileNotFoundException, IOException, OutputStream}
import java.nio.file.{Files, LinkOption, NoSuchFileException, SimpleFileVisitor,
  StandardCopyOption, StandardOpenOption, FileVisitResult, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A [[CheckpointFileManager]] that serves `file:` paths with java.nio and
  * hands every other scheme to Spark's `FileContextBasedCheckpointFileManager`.
  *
  * Why: without Hadoop's native library, the local `FileContext` forks a
  * `chmod` for every file and directory it creates and a `readlink` for
  * every rename. A micro-batch writes several checkpoint files (offsets,
  * commits, `_spark_metadata`, one delta per state partition), so on a
  * `file:` checkpoint those forks, not the data, set the per-trigger floor.
  * This manager makes the same calls as plain syscalls and forks nothing.
  *
  * On-disk contract, shared with Spark's default manager so either can
  * restart a checkpoint the other wrote:
  *   - [[createAtomic]] writes a hidden `.<name>.<uuid>.tmp` beside the
  *     target and publishes it on `close()`: an atomic rename when
  *     overwriting, or a hard link plus unlink when not, so an existing
  *     target raises Hadoop's `FileAlreadyExistsException` (which Spark's
  *     metadata log reads as a concurrent writer) and keeps its bytes.
  *     `cancel()` deletes the temp file.
  *   - It writes no Hadoop `.<name>.crc` sidecar. Publishing or deleting a
  *     file removes any stale sidecar left by the default manager, which
  *     would otherwise fail that manager's checksum on the next read, and
  *     [[list]] hides sidecars as Hadoop's `ChecksumFs` does. Spark's own
  *     state-store checksum files (`<n>.delta.crc`) are ordinary files to
  *     this manager and are kept.
  *   - Publishing needs hard links, which every POSIX local file system has.
  *
  * Spark builds it reflectively from `(Path, Configuration)` when the
  * session's `spark.sql.streaming.checkpointFileManagerClass` names it;
  * [[StreamSink]] sets that for graft's own streams.
  */
class LocalCheckpointFileManager private[graft] (path: Path, conf: Configuration,
    fallbackOf: () => CheckpointFileManager) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  def this(path: Path, conf: Configuration) =
    this(path, conf, () => new FileContextBasedCheckpointFileManager(path, conf))

  private[this] val defaultIsLocal = FileSystem.getDefaultUri(conf).getScheme == "file"
  private[this] var fallbackInstance: Option[CheckpointFileManager] = None
  private[this] def fallback: CheckpointFileManager = synchronized {
    if (fallbackInstance.isEmpty) fallbackInstance = Some(fallbackOf())
    fallbackInstance.get
  }

  private def local(p: Path): Boolean = p.toUri.getScheme match {
    case null => defaultIsLocal
    case s => s == "file"
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local(p)) fallback.createAtomic(p, overwriteIfPossible)
    else {
      val target = file(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      val out =
        try Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
        catch {
          case _: NoSuchFileException =>
            Files.createDirectories(target.getParent)
            Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
        }
      new AtomicOutputStream(out, tmp, target, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream =
    if (!local(p)) fallback.open(p)
    else new FSDataInputStream(
      new BufferedFSInputStream(new LocalInputStream(new FileInputStream(file(p).toFile)),
        ReadBuffer))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (!local(p)) fallback.list(p, filter)
    else {
      val f = file(p)
      val base = qualified(p)
      if (!Files.exists(f)) throw new FileNotFoundException(s"$p does not exist")
      if (!Files.isDirectory(f)) Array(status(f, base)).filter(s => filter.accept(s.getPath))
      else {
        val entries = Files.newDirectoryStream(f)
        try {
          val out = Array.newBuilder[FileStatus]
          entries.forEach { e =>
            val name = e.getFileName.toString
            val child = new Path(base, name)
            if (!isHadoopCrc(name) && filter.accept(child)) out += status(e, child)
          }
          out.result()
        } finally entries.close()
      }
    }

  override def mkdirs(p: Path): Unit =
    if (!local(p)) fallback.mkdirs(p) else Files.createDirectories(file(p))

  override def exists(p: Path): Boolean =
    if (!local(p)) fallback.exists(p) else Files.exists(file(p))

  override def delete(p: Path): Unit =
    if (!local(p)) fallback.delete(p)
    else {
      val f = file(p)
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) deleteTree(f)
      else { Files.deleteIfExists(f); Files.deleteIfExists(crcOf(f)) }
    }

  override def isLocal: Boolean = local(path) || fallback.isLocal

  override def createCheckpointDirectory(): Path =
    if (!local(path)) fallback.createCheckpointDirectory()
    else { mkdirs(path); qualified(path) }

  override def close(): Unit = synchronized(fallbackInstance.foreach(_.close()))
}

private[graft] object LocalCheckpointFileManager {
  private val ReadBuffer = 64 * 1024

  private def file(p: Path): NioPath = java.nio.file.Paths.get(p.toUri.getPath)

  private def qualified(p: Path): Path =
    if (p.toUri.getScheme != null) p
    else new Path("file", null, file(p).toAbsolutePath.toString)

  private def status(f: NioPath, qualifiedPath: Path): FileStatus = {
    val a = Files.readAttributes(f, classOf[BasicFileAttributes])
    new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, qualifiedPath)
  }

  /** Hadoop `ChecksumFs`'s sidecar name rule: hidden and ending `.crc`. */
  private def isHadoopCrc(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private def crcOf(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Deletes `root` and everything under it, without following links. */
  private[graft] def deleteTree(root: NioPath): Unit =
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS))
      Files.walkFileTree(root, new SimpleFileVisitor[NioPath] {
        override def visitFile(f: NioPath, a: BasicFileAttributes): FileVisitResult = {
          Files.deleteIfExists(f); FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(d: NioPath, e: IOException): FileVisitResult = {
          if (e != null) throw e
          Files.deleteIfExists(d); FileVisitResult.CONTINUE
        }
      })

  /** Bytes go to `tmp`; `close()` publishes them at `target`. The stream
    * class must be this manager's own: Spark's rename-based stream only
    * accepts its sealed `RenameHelperMethods` managers. */
  private final class AtomicOutputStream(out: OutputStream, tmp: NioPath,
      target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new java.io.BufferedOutputStream(out)) {
    private[this] var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          publish()
        } catch {
          case e: Throwable =>
            Files.deleteIfExists(tmp)
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        Files.deleteIfExists(tmp)
      }
    }

    private def publish(): Unit =
      if (overwrite) {
        // drop the stale sidecar first: a default-manager reader then sees
        // either file without a sidecar, never new bytes under an old crc
        Files.deleteIfExists(crcOf(target))
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(target, tmp)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            val fae = new FileAlreadyExistsException(s"$target already exists")
            fae.initCause(e)
            throw fae
        }
        Files.deleteIfExists(crcOf(target))
        Files.delete(tmp)
      }
  }

  /** A seekable local file, as `FSDataInputStream` requires. */
  private final class LocalInputStream(in: FileInputStream) extends FSInputStream {
    private[this] val channel = in.getChannel
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
    override def seek(pos: Long): Unit = channel.position(pos)
    override def getPos: Long = channel.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = in.close()
  }
}

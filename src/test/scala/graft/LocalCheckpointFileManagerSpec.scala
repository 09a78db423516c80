package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LocalCheckpointFileManager, Pipeline}

/** The `file:` checkpoint manager graft's streams start on: atomic publish,
  * cancel, sidecar handling and delegation of other schemes. Restarts
  * across managers are in `StreamingPipelineSpec`; the no-fork gate is
  * `StreamForkSpec`. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fresh(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = Paths.get(Pipeline.tempRoot("lcfm"))
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def write(m: LocalCheckpointFileManager, f: java.nio.file.Path,
      text: String, overwrite: Boolean): CancellableFSDataOutputStream = {
    val out = m.createAtomic(new Path(f.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out
  }

  private def read(f: java.nio.file.Path) = new String(Files.readAllBytes(f), UTF_8)
  private def names(dir: java.nio.file.Path) =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("cancel leaves no file behind") {
    val (dir, m) = fresh()
    val out = write(m, dir.resolve("0"), "batch 0", overwrite = false)
    out.cancel()
    out.close() // a closed-after-cancel stream must not publish
    assert(names(dir).isEmpty)
  }

  test("a second non-overwriting createAtomic raises FileAlreadyExistsException " +
      "and keeps the first file's bytes") {
    val (dir, m) = fresh()
    val f = dir.resolve("0")
    write(m, f, "first", overwrite = false).close()
    val second = write(m, f, "second", overwrite = false)
    // Hadoop's exception type: Spark's metadata log reads it as a concurrent writer
    intercept[FileAlreadyExistsException](second.close())
    assert(read(f) === "first")
    assert(names(dir) === Set("0"), "the losing temp file must be removed")
  }

  test("an overwrite publishes on close, replaces the file and drops its stale .crc") {
    val (dir, m) = fresh()
    val f = dir.resolve("1.delta")
    write(m, f, "old", overwrite = false).close()
    // the sidecar Spark's default manager would have left for the old bytes
    Files.write(dir.resolve(".1.delta.crc"), Array[Byte](1, 2, 3))
    val out = write(m, f, "new", overwrite = true)
    out.flush()
    assert(read(f) === "old", "nothing is visible at the target before close")
    out.close()
    assert(read(f) === "new")
    assert(names(dir) === Set("1.delta"))
  }

  test("list hides Hadoop sidecars and returns qualified paths; open reads and seeks") {
    val (dir, m) = fresh()
    write(m, dir.resolve("0"), "abcdef", overwrite = false).close()
    write(m, dir.resolve("1.delta.crc"), "spark's own checksum", overwrite = false).close()
    Files.write(dir.resolve(".0.crc"), Array[Byte](0))
    val listed = m.list(new Path(dir.toUri)).map(_.getPath)
    assert(listed.map(_.getName).toSet === Set("0", "1.delta.crc"))
    assert(listed.forall(_.toUri.getScheme == "file"))
    assert(m.list(new Path(dir.toUri), (p: Path) => p.getName == "0").length === 1)
    val in = m.open(new Path(dir.resolve("0").toUri))
    try {
      in.seek(2)
      assert(in.read() === 'c'.toInt)
      assert(in.getPos === 3)
    } finally in.close()
    intercept[java.io.FileNotFoundException](m.open(new Path(dir.resolve("9").toUri)))
  }

  test("a non-file: path goes to the delegate; a file: path never does") {
    val calls = ArrayBuffer.empty[String]
    val delegate = new CheckpointFileManager {
      def createAtomic(p: Path, o: Boolean): CancellableFSDataOutputStream = {
        calls += s"createAtomic $p"; null
      }
      def open(p: Path): FSDataInputStream = { calls += s"open $p"; null }
      def list(p: Path, f: PathFilter): Array[FileStatus] = {
        calls += s"list $p"; Array.empty
      }
      def mkdirs(p: Path): Unit = calls += s"mkdirs $p"
      def exists(p: Path): Boolean = { calls += s"exists $p"; true }
      def delete(p: Path): Unit = calls += s"delete $p"
      def isLocal: Boolean = false
      def createCheckpointDirectory(): Path = {
        calls += "createCheckpointDirectory"; new Path("mem:/ckpt")
      }
    }
    val m = new LocalCheckpointFileManager(new Path("mem:/ckpt"), conf, () => delegate)
    val p = new Path("mem:/ckpt/offsets/0")
    m.createAtomic(p, false); m.open(p); m.list(p); m.mkdirs(p); m.exists(p)
    m.delete(p); m.createCheckpointDirectory()
    assert(!m.isLocal)
    assert(calls.toSeq === Seq(s"createAtomic $p", s"open $p", s"list $p",
      s"mkdirs $p", s"exists $p", s"delete $p", "createCheckpointDirectory"))
    calls.clear()
    val (dir, _) = fresh()
    assert(!m.exists(new Path(dir.resolve("absent").toUri)))
    assert(calls.isEmpty)
  }
}

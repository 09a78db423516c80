package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Pipeline

/** A structural gate on the live telemetry path's per-trigger floor: a
  * graft stream's checkpoint work starts no operating-system process. Wall
  * time cannot be gated on a shared box; a count of process starts can.
  * The recording is JFR's `jdk.ProcessStart`, taken in process. */
class StreamForkSpec extends SparkSpec {
  import spark.implicits._

  case class Tele(station_id: String, timestamp: Timestamp, value: Double)

  /** Run `body` under an in-process JFR recording of `jdk.ProcessStart`
    * and return its result with the (thread, command) of every process
    * start. A control process started on this thread must be seen. */
  private def recordingForks[A](dir: String)(body: => A): (A, Seq[(String, String)]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally {
      // control: the recording sees a process this thread starts
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
    }
    val jfr = Paths.get(dir, "forks.jfr")
    rec.dump(jfr)
    rec.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .map(e => Option(e.getThread).map(_.getJavaName).getOrElse("?") ->
        e.getString("command"))
    assert(starts.exists(_._1 == Thread.currentThread.getName),
      s"the recording missed the control process: $starts")
    (out, starts)
  }

  private def checkpointForks(starts: Seq[(String, String)]): Seq[(String, String)] =
    starts.filter { case (thread, _) =>
      thread.startsWith("stream execution thread") ||
        thread.startsWith("ChecksumCheckpointFileManager")
    }

  private def sidecars(roots: String*): Seq[String] = roots.flatMap { root =>
    Files.walk(Paths.get(root)).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc")).toSeq
  }

  test("a graft stream forks no process on its stream or checksum threads " +
      "and leaves no Hadoop .crc sidecars in its checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("forks")
    val input = MemoryStream[Tele]
    val (q, starts) = recordingForks(dir) {
      val q = Pipeline.parquetSink(
        Pipeline.transform(input.toDF(), Map("value" -> (0.0, 100.0)), Map.empty,
          streaming = true),
        s"$dir/data", s"$dir/ckpt").start()
      try (0 until 3).foreach { i =>
        val t = Timestamp.valueOf(s"2025-01-01 10:0$i:00")
        input.addData(Tele("S1", t, 1.0 + i), Tele("S2", t, 2.0 + i),
          Tele("S1", t, 9.0)) // a duplicate key: the dedup state commits every trigger
        q.processAllAvailable()
      } finally q.stop()
      q
    }
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    assert(checkpointForks(starts).isEmpty,
      s"checkpoint work started processes: ${checkpointForks(starts).take(5)}")
    val left = sidecars(s"$dir/ckpt", s"$dir/data/_spark_metadata")
    assert(left.isEmpty, s"Hadoop sidecars left: $left")
    assert(spark.read.parquet(s"$dir/data").count() === 6)
  }

  test("a file-source drain creates its source log on graft's manager: no " +
      "process on the stream thread, no .crc under sources/") {
    // the s08 shape: parquet input over >= 2 files, one file per trigger,
    // watermarked dedup, bounded drain into a checkpointed parquet sink
    val dir = Pipeline.tempRoot("drainforks")
    val batch = (0 until 40).map(i =>
      (i % 7L, s"k${i % 5}", Timestamp.valueOf(s"2025-01-01 10:${10 + i}:00")))
      .toDF("user_id", "event_type", "ts")
    val (out, starts) = recordingForks(dir) {
      val out = Pipeline.dedupDrainParity(spark, batch, eventTimeCol = "ts",
        keys = Seq("user_id", "event_type"), watermark = "60 days")
      out.collect() // the drain has finished before the recording stops
      out
    }
    assert(checkpointForks(starts).isEmpty,
      s"drain work started processes: ${checkpointForks(starts).take(5)}")
    val root = Paths.get(new java.net.URI(out.inputFiles.head)).getParent.getParent
    val sources = root.resolve("ckpt/sources")
    assert(Files.isDirectory(sources.resolve("0")), s"no source log under $root")
    val left = sidecars(sources.toString)
    assert(left.isEmpty, s"Hadoop sidecars left under sources/: $left")
    assert(out.count() === batch.select("user_id", "event_type").distinct().count())
  }
}

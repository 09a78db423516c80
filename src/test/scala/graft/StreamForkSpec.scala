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

  test("a graft stream forks no process on its stream or checksum threads " +
      "and leaves no Hadoop .crc sidecars in its checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("forks")
    val input = MemoryStream[Tele]
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
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
    // control: the recording sees a process this thread starts
    new ProcessBuilder("true").start().waitFor()
    rec.stop()
    val jfr = Paths.get(dir, "forks.jfr")
    rec.dump(jfr)
    rec.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .map(e => Option(e.getThread).map(_.getJavaName).getOrElse("?") ->
        e.getString("command"))
    assert(starts.exists(_._1 == Thread.currentThread.getName),
      s"the recording missed the control process: $starts")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    val checkpointForks = starts.filter { case (thread, _) =>
      thread.startsWith("stream execution thread") ||
        thread.startsWith("ChecksumCheckpointFileManager")
    }
    assert(checkpointForks.isEmpty,
      s"checkpoint work started processes: ${checkpointForks.take(5)}")
    val sidecars = Seq(s"$dir/ckpt", s"$dir/data/_spark_metadata").flatMap { root =>
      Files.walk(Paths.get(root)).iterator.asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith(".") && n.endsWith(".crc")).toSeq
    }
    assert(sidecars.isEmpty, s"Hadoop sidecars left: $sidecars")
    assert(spark.read.parquet(s"$dir/data").count() === 6)
  }
}

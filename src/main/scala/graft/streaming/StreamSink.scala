package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** A configured stream writer that graft starts on its own checkpoint
  * file manager.
  *
  * `start()` names [[LocalCheckpointFileManager]] in the session conf from
  * `writer.start()` until the query has created its sources, and only when
  * the session has not chosen a manager itself. The query keeps the
  * manager after the conf is restored: its offset and commit logs and a
  * file sink's `_spark_metadata` log are opened inside `writer.start()`; a
  * file source's `sources/<n>` log is opened on the stream thread, from
  * this session's conf, before the query signals initialization; and the
  * query runs on a clone of the session taken in `writer.start()`, which
  * is where every later state-store batch reads the conf from.
  *
  * The wait for initialization is bounded ([[StreamSink.InitTimeoutMs]]);
  * past it the conf is restored anyway, and only a source created later
  * falls back to Spark's default manager. A query that fails before it
  * has initialized is stopped, and its exception is rethrown.
  */
final class StreamSink private[streaming] (writer: DataStreamWriter[Row],
    spark: SparkSession) {
  def start(): StreamingQuery = Scoped.conf(spark) {
    val settings =
      if (spark.conf.getOption(StreamSink.ManagerKey).isDefined) Nil
      else Seq(StreamSink.ManagerKey -> classOf[LocalCheckpointFileManager].getName)
    Scoped.conf(spark, settings: _*) {
      val q = writer.start()
      try StreamBridge.awaitInitialization(q, StreamSink.InitTimeoutMs)
      catch {
        case NonFatal(e) =>
          q.stop()
          throw e
      }
      q
    }
  }
}

object StreamSink {
  /** The session conf Spark reads its checkpoint file manager class from. */
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** How long `start()` keeps the manager set while the query creates its
    * sources: far above a source's set-up, low enough that a stuck start
    * does not hold every other conf scope. */
  private[streaming] val InitTimeoutMs = 60 * 1000L
}

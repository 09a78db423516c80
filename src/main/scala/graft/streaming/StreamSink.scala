package graft.streaming

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** A configured stream writer that graft starts on its own checkpoint
  * file manager.
  *
  * `start()` names [[LocalCheckpointFileManager]] in the session conf for
  * the duration of `writer.start()` only, and only when the session has
  * not chosen a manager itself. The query keeps the manager after the conf
  * is restored: its offset and commit logs and a file sink's
  * `_spark_metadata` log are opened inside `start()`, and the query runs on
  * a clone of the session taken there, which is where every later
  * state-store batch reads the conf from.
  */
final class StreamSink private[streaming] (writer: DataStreamWriter[Row],
    spark: SparkSession) {
  def start(): StreamingQuery = Scoped.conf(spark) {
    val settings =
      if (spark.conf.getOption(StreamSink.ManagerKey).isDefined) Nil
      else Seq(StreamSink.ManagerKey -> classOf[LocalCheckpointFileManager].getName)
    Scoped.conf(spark, settings: _*)(writer.start())
  }
}

object StreamSink {
  /** The session conf Spark reads its checkpoint file manager class from. */
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
}

package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session-conf flips scoped to a block.
  *
  * `spark.conf` is session-global, so a flip that two threads make at once
  * can capture the other's value as "previous" and restore it for good.
  * Every flip in graft therefore runs under ONE lock: the drains' shuffle
  * width, a stream start's checkpoint manager, the fixed-point loops' AQE
  * and shuffle width (`plans.Loops`) and the events loader's
  * `nanosAsLong` (`Tables.events`). The lock is reentrant, because scopes
  * nest: a drain pins its shuffle partitions and then starts its stream
  * inside that scope, and the start sets a conf of its own.
  */
private[graft] object Scoped {
  private[this] val lock = new Object

  /** Run `body` with each `key -> value` set on `spark`'s session conf,
    * then restore each key's previous value, or unset a key the session
    * had not set (one that only read as its default), so the session's
    * explicit settings are afterwards what they were. With no settings it
    * only takes the lock, so a caller can read the conf and decide what to
    * set without racing another scope. */
  def conf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A =
    lock.synchronized {
      val explicit = spark.conf.getAll
      val prev = settings.map { case (k, _) => k -> explicit.get(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}

package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session-conf flips scoped to a block.
  *
  * `spark.conf` is session-global, so a flip that two threads make at once
  * can capture the other's value as "previous" and restore it for good.
  * Every flip therefore runs under ONE lock. The lock is reentrant, because
  * scopes nest: a drain pins its shuffle partitions and then starts its
  * stream inside that scope, and the start sets a conf of its own.
  */
private[graft] object Scoped {
  private[this] val lock = new Object

  /** Run `body` with each `key -> value` set on `spark`'s session conf,
    * then restore each key's previous value, or unset a key that had
    * none. With no settings it only takes the lock, so a caller can read
    * the conf and decide what to set without racing another scope. */
  def conf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A =
    lock.synchronized {
      val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}

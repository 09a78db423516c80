package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge into `private[sql]` stream-execution hooks. Lives under
  * org.apache.spark.sql to satisfy the access qualifier.
  */
object StreamBridge {

  /** Wait until `q` has created its sources, for at most `timeoutMs`.
    * A query that died first rethrows its `StreamingQueryException`; on
    * timeout this just returns. A query that is not a classic
    * `StreamExecution` is not waited for. */
  def awaitInitialization(q: StreamingQuery, timeoutMs: Long): Unit = q match {
    case w: StreamingQueryWrapper => w.streamingQuery.awaitInitialization(timeoutMs)
    case _ =>
  }
}

package org.apache.spark.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Bridge into `private[spark]` listener-bus internals: a deterministic
  * "all posted events delivered" barrier. The offload runner's transport
  * accounting previously POLLED its listener counter with 50 ms sleeps
  * (~100–200 ms of pure sleep per offload, and a settle heuristic that
  * is in principle racy); `waitUntilEmpty` is the engine's own exact
  * primitive for the same thing. The wait is bounded: a listener that
  * never returns fails the caller with [[ListenerBusTimeout]] instead of
  * hanging it. */
object ListenerBridge {

  /** Generous on purpose: a healthy bus drains in milliseconds. */
  val DrainTimeoutMillis: Long = 120000L

  final class ListenerBusTimeout(timeoutMillis: Long, cause: Throwable)
      extends RuntimeException(
        s"Spark listener bus did not drain within $timeoutMillis ms", cause)

  def waitUntilListenerBusEmpty(sc: SparkContext,
      timeoutMillis: Long = DrainTimeoutMillis): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch {
      case e: TimeoutException => throw new ListenerBusTimeout(timeoutMillis, e)
    }
}

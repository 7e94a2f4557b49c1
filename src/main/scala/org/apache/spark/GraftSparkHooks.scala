package org.apache.spark

/** Harness-side access to one `private[spark]` member: the async
  * listener bus's drain barrier. [[graft.Trace]] attributes listener
  * events (jobs, executor task metrics, query planning time) to the
  * innermost open span — but events post asynchronously, so without a
  * drain at each span boundary a slow bus leaks one span's tasks into
  * its neighbour's. `waitUntilEmpty()` is exactly that barrier; Spark
  * exposes it package-private for its own tests. Nothing else from the
  * internal namespace is touched, and no behavior is altered — this is
  * a read-side synchronization point only.
  */
object GraftSparkHooks {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

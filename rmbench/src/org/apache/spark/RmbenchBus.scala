package org.apache.spark

/** The listener bus drain the traced run needs before it reads its
  * recorder: Spark delivers listener events asynchronously and keeps
  * `waitUntilEmpty` package-private.
  */
object RmbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Test-side read of the listener bus drain Spark keeps package-private:
  * returns once every event posted so far has reached the listeners, so
  * a job-counting listener has seen the jobs a call ran. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The two package-private Spark hooks the harness needs: a listener on
  * the ContextCleaner (to know when an inter-query reap has finished)
  * and a wait for the listener bus (so listener-fed counts are complete
  * before they are read).
  */
object PerfbenchHooks {
  def onCleanup(sc: SparkContext)(f: () => Unit): Unit =
    sc.cleaner.foreach(_.attachListener(new CleanerListener {
      override def rddCleaned(rddId: Int): Unit = f()
      override def shuffleCleaned(shuffleId: Int): Unit = f()
      override def broadcastCleaned(broadcastId: Long): Unit = f()
      override def accumCleaned(accId: Long): Unit = f()
      override def checkpointCleaned(rddId: Long): Unit = f()
    }))

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

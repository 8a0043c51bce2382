package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

/** The listener bus drain and the context cleaner are package-private to
  * Spark; listener-derived counters are read only after every posted
  * event was delivered, and the live heap only after the cleaner has
  * freed what the last pass left behind.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  // time of the last clean-up, per context (a listener cannot be detached)
  private val lastClean = new java.util.WeakHashMap[SparkContext, AtomicLong]()

  // the cleaner's thread polls its reference queue every 100 ms
  private val QuietMs = 300L
  private val MaxMs = 3000L

  /** Waits until the context cleaner has freed nothing for 300 ms, at
    * most 3 s.
    */
  def drainCleaner(sc: SparkContext): Unit =
    sc.cleaner.foreach { c =>
      val last = lastClean.synchronized {
        var l = lastClean.get(sc)
        if (l == null) {
          val t = new AtomicLong(System.nanoTime())
          c.attachListener(new CleanerListener {
            def rddCleaned(id: Int): Unit = t.set(System.nanoTime())
            def shuffleCleaned(id: Int): Unit = t.set(System.nanoTime())
            def broadcastCleaned(id: Long): Unit = t.set(System.nanoTime())
            def accumCleaned(id: Long): Unit = t.set(System.nanoTime())
            def checkpointCleaned(id: Long): Unit = t.set(System.nanoTime())
          })
          lastClean.put(sc, t)
          l = t
        }
        l
      }
      val start = System.nanoTime()
      Thread.sleep(QuietMs)
      while ((System.nanoTime() - last.get) / 1000000 < QuietMs &&
             (System.nanoTime() - start) / 1000000 < MaxMs)
        Thread.sleep(50)
    }
}

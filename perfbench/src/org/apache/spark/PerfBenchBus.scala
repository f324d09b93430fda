package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

/** The benchmark's two reaches into Spark internals, both private to
  * Spark: draining the listener bus and watching the ContextCleaner. */
object PerfBenchBus {

  /** Waits until the listener bus has delivered every posted event, so the
    * traced run's ledger is complete before it is read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val lastCleanNs = new AtomicLong()
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** Full GC, then waits until the ContextCleaner has done no cleanup for
    * `quietMs` (at most `capMs`), then a second full GC. A GC hands the
    * cleaner every unreferenced shuffle, broadcast and checkpoint; without
    * the wait, deleting them would overlap the next timed query. */
  def settle(sc: SparkContext, quietMs: Long = 250, capMs: Long = 5000): Unit = {
    sc.cleaner.foreach { c =>
      if (watched.add(sc)) c.attachListener(new CleanerListener {
        private def touch(): Unit = lastCleanNs.set(System.nanoTime())
        def rddCleaned(id: Int): Unit = touch()
        def shuffleCleaned(id: Int): Unit = touch()
        def broadcastCleaned(id: Long): Unit = touch()
        def accumCleaned(id: Long): Unit = touch()
        def checkpointCleaned(id: Long): Unit = touch()
      })
    }
    val start = System.nanoTime()
    lastCleanNs.set(start)
    System.gc()
    def quiet(now: Long) = now - lastCleanNs.get >= quietMs * 1000000L
    while (!quiet(System.nanoTime()) && System.nanoTime() - start < capMs * 1000000L)
      Thread.sleep(10)
    System.gc()
  }
}

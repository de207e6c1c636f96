package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** Heap occupancy after each garbage collection, from the JVM's GC
  * notifications. [[startWindow]] runs a full GC and opens a window;
  * [[windowPeakMb]] is the largest heap occupancy seen after any GC in the
  * window. Since the window starts from a full GC, that is what the work in
  * the window kept reachable, plus garbage it promoted: a figure the
  * program drives, unlike the process RSS of a fixed, pre-touched heap.
  */
final class HeapAfterGc {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def collections: Long = gcs.map(g => math.max(0L, g.getCollectionCount)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0)
  /** Collections so far, counted as seen: the listener starts now. */
  private val seen = new AtomicLong(collections)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        seen.incrementAndGet()
      }
  }
  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Notifications arrive on a JVM service thread; wait (at most 2 s) until
    * every collection so far has been seen.
    */
  private def settle(): Unit = {
    val end = System.nanoTime() + 2000000000L
    while (seen.get < collections && System.nanoTime() < end) Thread.sleep(1)
  }

  def startWindow(): Unit = {
    System.gc()
    settle()
    val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.set(h)
  }

  def windowPeakMb(): Double = {
    settle()
    peak.get / (1024.0 * 1024.0)
  }
}

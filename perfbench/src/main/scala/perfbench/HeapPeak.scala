package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak old-generation usage after GC, from the memory-pool and GC MXBeans.
  * [[reset]] collects and restarts the peak at the live set; every later
  * collection raises it to its after-GC old-generation usage. */
object HeapPeak {
  private val oldPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      Seq("Old", "Tenured").exists(p.getName.contains))
    .map(_.getName).toSet

  @volatile private var peak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
      val used = after.collect { case (k, u) if oldPools(k) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  private def oldAfterLastGc(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => oldPools(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  def reset(): Unit = {
    System.gc()
    synchronized { peak = oldAfterLastGc() }
  }

  def peakMb: Double = {
    val bytes = synchronized(peak max oldAfterLastGc())
    bytes / 1048576.0
  }
}

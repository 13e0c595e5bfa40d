package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The highest heap in use right after a garbage collection: what the
  * work keeps live, plus old-generation garbage not yet reclaimed. Unlike
  * the process's peak RSS it does not include heap the JVM has reserved
  * but the work does not hold. */
object HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  /** The peak since [[start]]; the heap in use now if no collection has
    * run since. */
  def peakBytes: Long = synchronized {
    if (peak > 0) peak
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

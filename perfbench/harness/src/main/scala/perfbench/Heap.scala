package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The Java heap, beside the process's resident set: VmHWM follows the
  * heap the collector committed and touched, these follow what the
  * program allocated and kept. */
object Heap {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakAfterGc = new AtomicLong

  /** Heap bytes allocated by every thread since the JVM started. */
  def allocatedBytes: Long = threads.getTotalThreadAllocatedBytes

  /** From now on, track the largest heap in use right after a collection. */
  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
          val used = after.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  def peakAfterGcBytes: Long = peakAfterGc.get
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Memory the program holds, apart from what the heap's size adds:
  *  - [[heapLivePeak]]: the most heap left in use after any garbage
  *    collection (live data plus garbage no collection has reached yet),
  *    from every collection's notification;
  *  - [[offHeapPeak]]: the peak resident set outside the heap (metaspace,
  *    code cache, thread stacks, RocksDB and Netty native memory), read as
  *    `VmHWM` minus the committed heap. Exact when the heap is fixed and
  *    pre-touched (`-Xms` = `-Xmx`, `-XX:+AlwaysPreTouch`), so that all of
  *    it is resident from the start.
  */
final class MemoryProbe extends NotificationListener {
  @volatile var heapLivePeak = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, usage) if heapPools(pool) => usage.getUsed }.sum
      synchronized { heapLivePeak = math.max(heapLivePeak, used) }
    }

  def offHeapPeak: Long =
    MemoryProbe.vmHwm() - ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

object MemoryProbe {
  /** Peak resident set of this process in bytes (Linux `VmHWM`). */
  def vmHwm(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toLong * 1024L
      }.getOrElse(-1L)
}

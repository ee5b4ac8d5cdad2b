package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counters read around every measured call, in traced and untraced runs
  * alike: executor CPU time and the bytes and files that tasks write. It
  * records no spans; [[Tracer]] does that, and only in traced runs. */
final class Meter(spark: SparkSession) extends SparkListener {
  private val cpuNs = new AtomicLong
  private val bytes = new AtomicLong
  private val files = new AtomicLong

  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      val b = m.outputMetrics.bytesWritten
      // a task of an unpartitioned file write writes one file, if any rows
      if (b > 0) { bytes.addAndGet(b); files.incrementAndGet() }
    }
  }

  /** Counter values once every event sent so far has been delivered. */
  def read(): Meter.Counts = {
    org.apache.spark.perfbenchshim.ListenerBusShim.drain(spark.sparkContext)
    Meter.Counts(cpuNs.get, bytes.get, files.get, Heap.gcMs())
  }
}

object Meter {
  final case class Counts(cpuNs: Long, bytes: Long, files: Long, gcMs: Long) {
    def -(o: Counts): Counts =
      Counts(cpuNs - o.cpuNs, bytes - o.bytes, files - o.files, gcMs - o.gcMs)
  }
}

/** Live heap and GC time. Old-generation occupancy after a young
  * collection still holds garbage that only a mixed or full collection
  * frees, so it swings with GC timing; the live heap is read after a full
  * collection instead, forced between units of work, outside their timing. */
object Heap {
  private def oldGen(name: String): Boolean =
    name.contains("Old Gen") || name.contains("Tenured")

  /** Old-generation bytes still live after a full collection. Spark's
    * context cleaner drops the blocks of collected RDDs and broadcasts
    * asynchronously, so a second collection follows a short pause. */
  def liveOldGenBytes(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && oldGen(p.getName))
      .map(_.getUsage.getUsed).sum
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

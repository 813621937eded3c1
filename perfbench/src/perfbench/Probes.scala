package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._

/** Execution counters summed from Spark's listener events. */
final class ExecListener extends SparkListener {
  private val c = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "task_deser_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes").map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("task_deser_ms").addAndGet(m.executorDeserializeTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot: Map[String, Double] = c.map { case (k, v) => k -> v.get.toDouble }
}

/** Every counter a span carries: the listener's, Spark's codegen
  * histogram (compiles = cache misses; the reservoir keeps every sample
  * below 1028 compiles, beyond that the sum is count × mean), the
  * file-listing counter of the catalog metrics and the JVM's GC time
  * (driver and executors share the JVM in local mode).
  */
object Counters {
  def snapshot(l: ExecListener): Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val ms = if (h.getCount <= snap.size) snap.getValues.map(_.toDouble).sum
      else snap.getMean * h.getCount
    l.snapshot ++ Map(
      "codegen_compiles" -> h.getCount.toDouble,
      "codegen_ms" -> ms,
      "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each call into a layer, kept in memory and written at
  * the end of the run. When tracing is off `span` only runs the body,
  * so the untraced run pays nothing for it.
  */
final class Tracer(val on: Boolean, sc: () => SparkContext, l: ExecListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next = 0
  var op = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      next += 1
      val id = next
      val parent = stack.head
      org.apache.spark.PerfbenchBus.drain(sc())
      val c0 = Counters.snapshot(l)
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val t1 = System.nanoTime()
        org.apache.spark.PerfbenchBus.drain(sc())
        spans += Span(id, parent, op, name, t0, t1,
          Counters.delta(c0, Counters.snapshot(l)))
      }
    }

  /** Span duration minus the part its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }
}

/** Old-generation occupancy right after each GC. */
final class HeapWatch {
  @volatile var maxOldAfterGcBytes = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (HeapWatch.isOld(pool)) synchronized {
            maxOldAfterGcBytes = math.max(maxOldAfterGcBytes, u.getUsed)
          }
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { maxOldAfterGcBytes = 0L }

  /** Full collections until the old generation stops shrinking (by
    * 1 MiB, at most eight), then its occupancy: the heap the run
    * retains. Each later collection frees what Spark's cleaner and
    * non-blocking unpersists released after the one before.
    */
  def retainedAfterFullGc(): Long = {
    def old(): Long = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => HeapWatch.isOld(p.getName))
        .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
        .sum
    }
    var last = old()
    var rounds = 1
    var shrinking = true
    while (shrinking && rounds < 8) {
      Thread.sleep(300)
      val now = old()
      shrinking = now < last - 1048576
      last = now
      rounds += 1
    }
    last
  }
}

object HeapWatch {
  def isOld(pool: String): Boolean = pool.contains("Old Gen") || pool.contains("Tenured")
}

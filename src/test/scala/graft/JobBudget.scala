package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one job-counting probe the specs share: what a block of code
  * cost the scheduler, from a listener registered around it. The bus
  * is drained before the listener goes on (earlier work's events are
  * not counted) and again before it comes off (scheduler events post
  * asynchronously), so the counts are exact for the block.
  */
object JobBudget {

  /** Spark jobs started and shuffle records written inside one block. */
  final case class Usage(jobs: Int, shuffleRecordsWritten: Long)

  def measure(spark: SparkSession)(body: => Unit): Usage = {
    val jobs = new AtomicInteger
    val records = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        records.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten); ()
      }
    }
    val sc = spark.sparkContext
    ListenerBusAccess.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try body finally {
      ListenerBusAccess.waitUntilEmpty(sc)
      sc.removeSparkListener(l)
    }
    Usage(jobs.get(), records.get())
  }

  /** Spark jobs started inside `body`. */
  def jobs(spark: SparkSession)(body: => Unit): Int = measure(spark)(body).jobs
}

package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.util.{Failure, Try}

import graft.sources.BatchLog

/** Concurrent folds of one replay log fail safe by construction, the
  * way concurrent store writers do ([[CowConcurrentWriterSpec]]): two
  * threads start `BatchLog.compact` on the same log together, both
  * read the same newest fold, and both race to publish the next one —
  *
  *  - exactly one fold publishes each generation; the loser fails with
  *    the fold conflict naming the log and the generation;
  *  - the replay guard still refuses every logged batch id, admits the
  *    next one, and the watermark is the whole contiguous prefix.
  */
class BatchLogRaceSpec extends SparkSpec {
  import spark.implicits._

  private val rounds = 20

  test("two folds racing on one log: exactly one publishes each generation, the loser fails with a conflict, every logged id stays logged and the watermark holds") {
    val logPath = java.nio.file.Files.createTempDirectory("graft-fold-race")
      .resolve("ingest_log").toString
    var logged = 0L // batch ids 0 until `logged` are in the log
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to rounds) {
        // two new batches reach the tail, one file each
        Seq(logged, logged + 1).foreach(id =>
          Seq(id).toDF("batch_id").write.mode("append").parquet(logPath))
        logged += 2
        val barrier = new CyclicBarrier(2)
        val outcomes = (0 to 1).map { _ =>
          pool.submit(() => {
            barrier.await(120, TimeUnit.SECONDS)
            Try(BatchLog.compact(spark, logPath))
          })
        }.map(_.get(600, TimeUnit.SECONDS))
        assert(outcomes.count(_.isSuccess) == 1, s"round $round: $outcomes")
        outcomes.collect { case Failure(e) => e } match {
          case Seq(e: IllegalStateException) =>
            assert(e.getMessage.contains("fold conflict") &&
              e.getMessage.contains(logPath) &&
              e.getMessage.contains(s"generation ${round - 1}"),
              e.getMessage)
          case other => fail(s"round $round: the loser ended with $other")
        }
        (0L until logged).foreach(id =>
          assert(BatchLog.contains(spark, logPath, id),
            s"round $round lost batch $id"))
        assert(!BatchLog.contains(spark, logPath, logged),
          s"round $round: an unlogged id must stay admissible")
        assert(BatchLog.watermark(spark, logPath).contains(logged - 1),
          s"round $round: ${BatchLog.watermark(spark, logPath)}")
      }
    } finally pool.shutdownNow()
    // the folds kept one row per batch id
    assert(loggedIds(logPath) == (0L until logged))
  }

  /** Every batch id the log holds, in order. */
  private def loggedIds(logPath: String): Seq[Long] =
    BatchLog.readAll(spark, logPath).get
      .select($"batch_id".cast("long")).as[Long].collect().sorted.toSeq
}

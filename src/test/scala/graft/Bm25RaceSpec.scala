package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Concurrent appends to one BM25 index fail safe by construction, the
  * way concurrent store writers do ([[CowConcurrentWriterSpec]]): two
  * threads append different batches from the same generation, and
  * exactly one of them commits —
  *
  *  - the loser fails with the commit conflict naming the index and
  *    the generation;
  *  - every probe of the index equals a probe of a reference index
  *    that took only the winners' batches, so none of the loser's
  *    postings or stats is readable.
  *
  * Both appends of a round meet at a barrier inside the first Spark
  * job they run on their batch, so each has resolved the committed
  * generation when the other one reaches it.
  */
class Bm25RaceSpec extends SparkSpec {
  import spark.implicits._

  private val rounds = 20

  /** `docs` whose row `trigger` waits at this round's barrier when a
    * Spark task evaluates it.
    */
  private def gated(docs: DataFrame, trigger: Long): DataFrame = {
    val gate = udf { (id: Long, t: Long) =>
      if (id == t) Bm25RaceSpec.barrier.await(120, TimeUnit.SECONDS)
      id
    }.asNondeterministic()
    docs.withColumn("doc_id", gate(col("doc_id"), lit(trigger)))
  }

  test("two appends racing from one generation: exactly one commits, the loser fails with a conflict, and probes equal an index that took the winners' batches alone") {
    def tmp(prefix: String) =
      java.nio.file.Files.createTempDirectory(prefix).toString
    val path = tmp("graft-bm25-race")
    val ref = tmp("graft-bm25-race-ref")
    val base = Seq((1L, "spark shuffle join"), (2L, "spark streaming state"),
      (3L, "hash join strategy")).toDF("doc_id", "text")
    Seq(path, ref).foreach(
      Retrieval.writeBm25Index(base, "doc_id", "text", _, numBuckets = 4))
    val probes = Seq((1, "spark join"), (2, "alpha"), (3, "beta state"))
      .toDF("query_id", "query_text")
    def probe(p: String) =
      Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", p, k = 100)
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to rounds) {
        Bm25RaceSpec.barrier = new CyclicBarrier(2)
        // writer 0's docs say "alpha", writer 1's "beta": a probe tells
        // whose batch landed
        val batches = (0 to 1).map { w =>
          val word = if (w == 0) "alpha" else "beta"
          Seq((1000L * round + 10 * w, s"$word spark join"),
            (1000L * round + 10 * w + 1, s"$word $word state"))
            .toDF("doc_id", "text")
        }
        val outcomes = batches.zipWithIndex.map { case (b, w) =>
          pool.submit(() => Try(Retrieval.appendToBm25Index(
            gated(b, 1000L * round + 10 * w), "doc_id", "text", path)))
        }.map(_.get(600, TimeUnit.SECONDS))
        val winners =
          outcomes.zipWithIndex.collect { case (Success(_), w) => w }
        assert(winners.size == 1, s"round $round: $outcomes")
        outcomes(1 - winners.head) match {
          case Failure(e: IllegalStateException) =>
            assert(e.getMessage.contains("commit conflict") &&
              e.getMessage.contains(path) &&
              e.getMessage.contains(s"generation $round"), e.getMessage)
          case other => fail(s"round $round: the loser ended with $other")
        }
        Retrieval.appendToBm25Index(batches(winners.head), "doc_id", "text",
          ref)
        assertSameRows(probe(path), probe(ref))
      }
    } finally pool.shutdownNow()
  }
}

object Bm25RaceSpec {
  /** The current round's meeting point of the two appends' tasks. */
  @volatile var barrier: CyclicBarrier = _
}

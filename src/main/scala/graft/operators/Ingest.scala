package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{BatchLog, CorpusStore}

/** Cross-store ingest orchestration (round 15 — the admission mirror
  * of [[Takedown.takedownEverywhere]]): one foreachBatch body that
  * runs a micro-batch through the FULL living-corpus admission chain
  * — exact-ledger admission → versioned COW corpus upsert → LSH
  * index append → ledger append — replay-guarded, so the corpus, the
  * ledger and the index can never drift from each other across
  * restarts. The per-store pieces all exist
  * ([[Dedup.admitAgainstExactLedger]], [[CorpusStore
  * .upsertIntoCorpusCow]], [[Dedup.appendToLshIndex]],
  * [[Dedup.appendToExactLedger]]); the choreography is the part with
  * crash-window teeth:
  *
  *  1. replay guard via the corpus store's `ingest_log` (a logged
  *     batch id is a no-op — exactly-once processing per batch id);
  *  2. ADMISSION runs against the ledger as-of the batch start:
  *     within-batch exact duplicates collapse to the min-id survivor
  *     and already-ledgered content is rejected (the
  *     admitAgainstExactLedger contract), pinned eagerly before any
  *     store mutates;
  *  3. the COW corpus upsert commits FIRST among the writes — the
  *     ordering that makes a crash ANYWHERE safe: until the ledger
  *     append lands (last), a replayed batch re-admits the same
  *     content and repeats the writes (a redundant content-identical
  *     corpus generation, byte-identical LSH rows that both probes
  *     distinct away — the documented crash-replay currencies of
  *     those stores). The REVERSE order would lose data: a ledger
  *     append surviving a crash would make the replay reject content
  *     the corpus never received;
  *  4. the LSH append, then the ledger append, then the batch-id log.
  *
  * An admission that comes back EMPTY (all content already known)
  * still logs the batch id — the batch WAS processed; only that stops
  * a restarted stream from replaying it forever.
  *
  * Wire it:
  * {{{
  * docs.writeStream
  *   .foreachBatch(Ingest.corpusIngestBatch(corpus, ledger,
  *     lshPath = Some(lshIndex)) _)
  *   .start()
  * }}}
  */
object Ingest {

  def corpusIngestBatch(corpusPath: String, ledgerPath: String,
                        lshPath: Option[String] = None,
                        asDeltas: Boolean = true,
                        maintainEvery: Option[Long] = None)
                       (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val logPath = s"$corpusPath/ingest_log"
    val replayed = BatchLog.contains(spark, logPath, batchId)
    if (replayed) return
    val (idCol, _) = CorpusStore.cowKey(spark, corpusPath)
    // the batch must carry the corpus row schema; text is the
    // admission key — resolve its name from the batch via the
    // ledger's contract (the caller's frame IS the stored row)
    require(batch.columns.contains(idCol),
      s"corpusIngestBatch: batch has no corpus id column '$idCol'")
    require(batch.columns.contains("text"),
      "corpusIngestBatch: batch has no 'text' column (the ledger's " +
        "admission key)")
    // admission pinned BEFORE any store mutates (the lshIngestBatch
    // stance): its plan reads the ledger the appends below will touch
    val scope = new Dedup.CacheScope
    val admitted =
      try Dedup.admitAgainstExactLedger(
          batch.localCheckpoint(), idCol, "text", ledgerPath,
          scope = scope)
        .select(batch.columns.map(col): _*)
        .localCheckpoint()
      finally scope.release()
    val gen =
      if (admitted.limit(1).count() > 0) {
        // corpus first (see the ordering contract above); as a DELTA
        // generation by default — O(batch) bytes per micro-batch
        // (round 16), the bucket-rewrite path behind asDeltas = false
        val g =
          if (asDeltas) CorpusStore.appendDeltaToCorpusCow(admitted, corpusPath)
          else CorpusStore.upsertIntoCorpusCow(admitted, corpusPath)
        lshPath.foreach(p =>
          Dedup.appendToLshIndex(admitted, idCol, "text", p))
        Dedup.appendToExactLedger(admitted, "text", ledgerPath)
        Some(g)
      } else None
    // the unified (batch_id, gen, n_admitted) row shape every ingest
    // writer shares (round 16 — verdict task 3): gen is null when the
    // batch committed nothing (all content deduplicated away)
    CorpusStore.appendIngestLog(spark, logPath, batchId, gen,
      admitted.count())
    // delta-layer compaction cadence (round 16): health-gated, one
    // pass every n-th batch id, after the log — content-neutral, so
    // crashes/replays around it change nothing (see cowIngestBatch)
    maintainEvery.foreach { n =>
      require(n >= 1, "corpusIngestBatch: maintainEvery must be >= 1")
      if (batchId % n == n - 1)
        CorpusStore.maintainCorpusCow(spark, corpusPath)
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.CorpusStore

/** Cross-store takedown orchestration (round 15): the compliance
  * operation a living corpus actually receives — "these ids must go"
  * — fans out across every store that serves their content, in ONE
  * call with ONE ordering rationale. The per-store takedowns all
  * exist ([[Dedup.deleteFromLshIndex]] / [[Dedup.deleteFromExactLedger]]
  * / [[Retrieval.deleteFromBm25Index]] / [[Similarity.deleteFromIvfIndex]]
  * / [[CorpusStore.deleteFromCorpusCow]]); what composition adds — and
  * what rounds 13–14 proved is where the bugs live — is the
  * cross-store choreography:
  *
  *  1. the doomed rows' TEXT resolves from the CURRENT corpus FIRST
  *     (the ledger is keyed by content hash; after the corpus flip
  *     the text is gone);
  *  2. index tombstones land BEFORE the corpus flip — deleted content
  *     becomes probe/serve-invisible immediately, so a crash mid-way
  *     leaves content still readable in the corpus but never servable
  *     by a probe (the conservative failure mode for a takedown);
  *  3. the ledger entry goes (so a clean future recrawl re-admits —
  *     the LivingCorpusSpec re-admission contract);
  *  4. the corpus COW delete commits LAST — one bucket-local
  *     generation, its published commit record being the operation's
  *     "done".
  *
  * Idempotent by composition: tombstone appends are idempotent facts
  * (probes distinct), the ledger delete re-appends the same hashes,
  * and a re-run whose ids are already gone skips the corpus commit
  * entirely (nInCorpus = 0 — no redundant generation). Every
  * per-store `maxTombstones` fail-fast guard still applies: a
  * corpus-scale takedown is a rebuild, and this orchestrator refuses
  * it exactly where the individual deletes would.
  */
object Takedown {

  /** Which stores serve the content being taken down. Omitted stores
    * are untouched; `ivfPaths` covers IVF, PQ, IVF-PQ AND graph
    * (hnsw) indexes — all share the cells+tombstones layout, and the
    * graph probe additionally guarantees a tombstoned node may
    * still route but is never returned (HnswSpec).
    */
  final case class TakedownTargets(
      corpusPath: Option[String] = None,
      ledgerPath: Option[String] = None,
      lshPath: Option[String] = None,
      bm25Path: Option[String] = None,
      ivfPaths: Seq[String] = Nil)

  /** What one takedown did: ids requested (distinct), ids actually
    * present in the CURRENT corpus version, content hashes cleared
    * from the ledger (== nInCorpus when a ledger target is set — the
    * ledger can only be cleared for content the corpus still holds,
    * see the divergence note on [[takedownEverywhere]]), and the
    * corpus generation the removal committed (None when nothing was
    * present — a re-run, or an index-only takedown).
    */
  final case class TakedownReport(
      nRequested: Long, nInCorpus: Long, nLedgerCleared: Long,
      corpusGen: Option[Int])

  /** See the module doc for the ordering contract. One limitation,
    * surfaced rather than hidden (round-15 review): the ledger is
    * keyed by CONTENT HASH, so this orchestrator can clear ledger
    * entries only for ids the CURRENT corpus still holds (their text
    * is the hash input). If ledger and corpus have diverged — content
    * in the ledger whose corpus row is already gone — `nLedgerCleared`
    * comes back below expectations and the repair is a direct
    * [[Dedup.deleteFromExactLedger]] call with the content itself.
    *
    * `corpusAsTombstones = true` (round 16) commits the corpus leg as
    * an O(k ids) TOMBSTONE generation
    * ([[CorpusStore.appendTombstonesToCorpusCow]]) instead of the
    * bucket rewrite — same probe-invisible-then-corpus-gone ordering
    * and the same read semantics, but the content's BYTES persist
    * until the store's next compaction + vacuum. Use it for high-rate
    * takedown feeds where write amplification dominates; keep the
    * default rewrite when the request demands immediate physical
    * erasure.
    */
  def takedownEverywhere(spark: SparkSession, ids: DataFrame,
      idCol: String, textCol: String, targets: TakedownTargets,
      maxTombstones: Long = Dedup.defaultMaxTombstones,
      corpusAsTombstones: Boolean = false): TakedownReport = {
    require(targets.corpusPath.isDefined || targets.ledgerPath.isDefined ||
        targets.lshPath.isDefined || targets.bm25Path.isDefined ||
        targets.ivfPaths.nonEmpty,
      "takedownEverywhere: no targets")
    require(targets.ledgerPath.isEmpty || targets.corpusPath.isDefined,
      "takedownEverywhere: a ledger takedown needs corpusPath — the " +
        "ledger is keyed by content hash and the doomed rows' text " +
        "resolves from the CURRENT corpus")
    // fail fast BEFORE any store mutates (round 16 — ADVICE): a
    // corpusPath that is not a store would only be rejected at step 4,
    // after the index tombstones and the ledger delete had already
    // landed — leaving a half-applied takedown (probe-invisible,
    // ledger-cleared, still in the corpus) with no report
    targets.corpusPath.foreach(cp => CorpusStore.requireStore(spark, cp))
    // pin the request before anything mutates
    val del = ids.select(col(idCol)).distinct().localCheckpoint()
    val nRequested = del.count()
    require(nRequested > 0, "takedownEverywhere: empty id set")
    // step 1: resolve the doomed rows from the CURRENT corpus while
    // it still holds them. Text rides along ONLY when a ledger target
    // needs it (round-15 review: an id-only corpus takedown must not
    // require a text column or checkpoint full documents for nothing)
    val doomedRows = targets.corpusPath.map { cp =>
      val cols =
        if (targets.ledgerPath.isDefined) Seq(col(idCol), col(textCol))
        else Seq(col(idCol))
      CorpusStore.readCorpusSnapshot(spark, cp)
        .join(del, Seq(idCol)).select(cols: _*)
        .localCheckpoint()
    }
    val nInCorpus = doomedRows.map(_.count()).getOrElse(0L)
    // step 2: probe-invisibility first — every index tombstones
    // before the corpus flips
    targets.lshPath.foreach(p =>
      Dedup.deleteFromLshIndex(del, idCol, p, maxTombstones))
    targets.bm25Path.foreach(p =>
      Retrieval.deleteFromBm25Index(spark, del, idCol, p, maxTombstones))
    targets.ivfPaths.foreach(p =>
      Similarity.deleteFromIvfIndex(del, idCol, p, maxTombstones))
    // step 3: the ledger entry goes so a clean recrawl re-admits
    val nLedgerCleared =
      if (nInCorpus > 0 && targets.ledgerPath.isDefined) {
        Dedup.deleteFromExactLedger(doomedRows.get, textCol,
          targets.ledgerPath.get, maxTombstones)
        nInCorpus
      } else 0L
    // step 4: the corpus commit is the operation's "done" — skipped
    // when nothing is present (re-runs add no redundant generation),
    // and driven by the ids KNOWN PRESENT, never the raw request: a
    // bulk feed of mostly-absent candidates must not read and rewrite
    // every bucket the absent ids hash into (round-15 review — at the
    // 100 TB design point that is pure write amplification)
    val gen = targets.corpusPath.flatMap { cp =>
      if (nInCorpus == 0) None
      else if (corpusAsTombstones)
        Some(CorpusStore.appendTombstonesToCorpusCow(
          doomedRows.get.select(col(idCol)), cp))
      else Some(CorpusStore.deleteFromCorpusCow(
        doomedRows.get.select(col(idCol)), cp))
    }
    TakedownReport(nRequested, nInCorpus, nLedgerCleared, gen)
  }
}

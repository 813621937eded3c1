package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.CorpusStore

/** The living-corpus composition capstone (round 14): the
  * MaintenanceLoopSpec pins each INDEX's internal lifecycle; this
  * spec pins the corpus-level cycle the engine exists for — ledger
  * ADMISSION gating what enters, CorpusStore SNAPSHOTS versioning
  * what entered, snapshotDelta reporting the difference, ledger
  * TAKEDOWN + re-admission closing the loop — and that the three
  * stores never drift from each other across the whole run:
  *
  *   admit batch → snapshot vN + ledger append → delta(vN-1, vN)
  *   names exactly the admitted docs → takedown → snapshot without
  *   the doc + ledger delete → the content re-admits under a fresh
  *   id → its re-append re-establishes dedup → time-travel reads of
  *   every prior version stay bit-identical.
  */
class LivingCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("admit → snapshot → delta → takedown → re-admission, versions immutable throughout") {
    val store = tmp("graft-lc-store")
    val ledger = tmp("graft-lc-ledger")

    // ── v0: the founding corpus; ledger records its content ──
    val batch1 = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu")).toDF("doc_id", "text")
    Dedup.writeExactLedger(batch1, "text", ledger)
    assert(CorpusStore.writeCorpusCow(batch1, store, "doc_id", 8) == 0)

    // ── v1: a recrawl arrives with one new doc and one exact dup;
    // admission lets only the new content through ──
    val batch2 = Seq(
      (5L, "nu xi omicron pi"),                 // new content
      (6L, "epsilon zeta eta theta"))           // byte-dup of doc 2
      .toDF("doc_id", "text")
    val admitted2 = Dedup.admitAgainstExactLedger(
      batch2, "doc_id", "text", ledger).select("doc_id", "text")
    assert(admitted2.select("doc_id").as[Long].collect().toSeq == Seq(5L))
    assert(CorpusStore.writeCorpusCow(
      CorpusStore.readCorpusSnapshot(spark, store).unionByName(admitted2),
      store, "doc_id", 8) == 1)
    Dedup.appendToExactLedger(admitted2, "text", ledger)
    Dedup.unpersistAll()
    // the delta between versions is exactly the admitted content
    val d01 = CorpusStore.snapshotDelta(spark, store, 0, 1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(d01 == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "unchanged", 5L -> "added"), d01.toString)

    // ── takedown: doc 2's content must leave the corpus AND the
    // ledger (so a clean recrawl can come back) ──
    assert(CorpusStore.writeCorpusCow(
      CorpusStore.readCorpusSnapshot(spark, store)
        .where(col("doc_id") =!= 2L),
      store, "doc_id", 8) == 2)
    Dedup.deleteFromExactLedger(
      Seq("epsilon zeta eta theta").toDF("text"), "text", ledger)
    val d12 = CorpusStore.snapshotDelta(spark, store, 1, 2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(d12(2L) == "removed" && d12.count(_._2 == "removed") == 1, d12.toString)

    // ── re-admission: the taken-down content returns under a fresh
    // id (the clean recrawl), is admitted, and its ledger append
    // re-establishes dedup — a second copy is rejected again ──
    val batch3 = Seq((7L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val admitted3 = Dedup.admitAgainstExactLedger(
      batch3, "doc_id", "text", ledger).select("doc_id", "text")
    assert(admitted3.select("doc_id").as[Long].collect().toSeq == Seq(7L),
      "tombstoned content must re-admit")
    assert(CorpusStore.writeCorpusCow(
      CorpusStore.readCorpusSnapshot(spark, store).unionByName(admitted3),
      store, "doc_id", 8) == 3)
    Dedup.appendToExactLedger(admitted3, "text", ledger)
    Dedup.unpersistAll()
    val batch4 = Seq((8L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    assert(Dedup.admitAgainstExactLedger(
      batch4, "doc_id", "text", ledger).count() == 0,
      "re-appended content must dedup again")
    Dedup.unpersistAll()

    // ── every version stays readable and bit-identical: the corpus
    // is an append-only history, not a mutable directory ──
    assert(CorpusStore.readCorpusSnapshotAt(spark, store, 0)
      .orderBy("doc_id").collect().toSeq ==
      batch1.orderBy("doc_id").collect().toSeq)
    assert(CorpusStore.readCorpusSnapshotAt(spark, store, 1)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L))
    assert(CorpusStore.readCorpusSnapshotAt(spark, store, 2)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L))
    assert(CorpusStore.readCorpusSnapshot(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L, 7L))
    assert(CorpusStore.listCorpusSnapshots(spark, store)
      .select("gen").as[Int].collect().toSeq == Seq(0, 1, 2, 3))
  }

  test("cow living corpus: admit → upsert → delta → takedown → re-admission without ever rewriting untouched buckets") {
    // the same corpus-level cycle on the round-15 COW layout — here
    // the snapshot step is an UPSERT of just the admitted rows (never
    // a full read-union-rewrite), and the takedown is a bucket-local
    // delete: the composition the COW store exists for
    val store = tmp("graft-lcc-store")
    val ledger = tmp("graft-lcc-ledger")
    val batch1 = (1L to 30L).map(i => (i, s"founding doc number $i"))
      .toDF("doc_id", "text")
    Dedup.writeExactLedger(batch1, "text", ledger)
    assert(CorpusStore.writeCorpusCow(batch1, store, "doc_id",
      numBuckets = 8) == 0)

    // v1: recrawl with one new doc and one exact dup — only the new
    // content upserts, touching only its own bucket
    val batch2 = Seq(
      (41L, "freshly crawled new content"),
      (42L, "founding doc number 7")).toDF("doc_id", "text")
    val admitted = Dedup.admitAgainstExactLedger(
      batch2, "doc_id", "text", ledger).select("doc_id", "text")
      .localCheckpoint()
    assert(admitted.select("doc_id").as[Long].collect().toSeq == Seq(41L))
    assert(CorpusStore.upsertIntoCorpusCow(admitted, store) == 1)
    Dedup.appendToExactLedger(admitted, "text", ledger)
    Dedup.unpersistAll()
    val d01 = CorpusStore.snapshotDelta(spark, store, 0, 1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(d01(41L) == "added" && d01.count(_._2 != "unchanged") == 1,
      d01.toString)

    // takedown: bucket-local delete + ledger delete; delta names it
    assert(CorpusStore.deleteFromCorpusCow(
      Seq(7L).toDF("doc_id"), store) == 2)
    Dedup.deleteFromExactLedger(
      Seq("founding doc number 7").toDF("text"), "text", ledger)
    val d12 = CorpusStore.snapshotDelta(spark, store, 1, 2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(d12(7L) == "removed" && d12.count(_._2 == "removed") == 1,
      d12.toString)

    // re-admission under a fresh id re-establishes dedup
    val back = Seq((51L, "founding doc number 7")).toDF("doc_id", "text")
    val readmitted = Dedup.admitAgainstExactLedger(
      back, "doc_id", "text", ledger).select("doc_id", "text")
      .localCheckpoint()
    assert(readmitted.select("doc_id").as[Long].collect().toSeq == Seq(51L))
    assert(CorpusStore.upsertIntoCorpusCow(readmitted, store) == 3)
    Dedup.appendToExactLedger(readmitted, "text", ledger)
    Dedup.unpersistAll()

    // every version reads bit-identically, and the CURRENT corpus is
    // the founding set minus doc 7 plus the two admissions
    assert(CorpusStore.readCorpusSnapshotAt(spark, store, 0)
      .orderBy("doc_id").collect().toSeq ==
      batch1.orderBy("doc_id").collect().toSeq)
    assert(CorpusStore.readCorpusSnapshot(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      ((1L to 30L).filterNot(_ == 7L) ++ Seq(41L, 51L)))
    assert(CorpusStore.listCorpusSnapshots(spark, store)
      .select("gen").as[Int].collect().toSeq == Seq(0, 1, 2, 3))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Retrieval, Similarity, Takedown}
import graft.operators.Takedown.TakedownTargets
import graft.sources.CorpusStore

/** Cross-store takedown orchestration (round 15): one id set fans out
  * across corpus + ledger + LSH + BM25 + IVF in one call, with the
  * ordering contract (text resolved first, probe-invisibility before
  * the corpus flip, ledger cleared for re-admission, corpus commit
  * last) and idempotent re-runs. Composition-level coverage — each
  * per-store delete is already spec'd; rounds 13–14 proved the bugs
  * live in the choreography.
  */
class TakedownSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // per-doc unique vocabularies: no cross-doc near-dups, so LSH/BM25
  // probes answer for exactly one doc
  private def text(i: Long): String =
    (0 until 8).map(j => s"w${i}x$j").mkString(" ")

  test("takedownEverywhere: one call empties every store's view of the ids; ordered, reported, idempotent") {
    val store = tmp("graft-td-store")
    val ledger = tmp("graft-td-led")
    val lsh = tmp("graft-td-lsh")
    val bm25 = tmp("graft-td-bm")
    val ivf = tmp("graft-td-ivf")
    val corpus = (0L to 29L).map(i => (i, text(i))).toDF("doc_id", "text")
      .localCheckpoint()
    CorpusStore.writeCorpusCow(corpus, store, "doc_id", numBuckets = 8)
    Dedup.writeExactLedger(corpus, "text", ledger)
    Dedup.writeLshIndex(corpus, "doc_id", "text", lsh)
    Retrieval.writeBm25Index(corpus, "doc_id", "text", bm25,
      numBuckets = 8)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .where($"vec_id" < 30)
      .select($"vec_id".as("doc_id"), $"embedding").localCheckpoint()
    Similarity.writeIvfIndex(emb, "doc_id", "embedding", ivf, nCells = 2)
    val qv7 = emb.where($"doc_id" === 7L)
      .select("embedding").head().getSeq[Float](0).toArray

    // pre-state: every store serves doc 7
    def lshHits(): Long =
      try Dedup.dedupAgainstLshIndex(
        Seq((107L, text(7L))).toDF("doc_id", "text"),
        "doc_id", "text", lsh, threshold = 0.5).count()
      finally Dedup.unpersistAll()
    def bm25Hits(): Seq[Long] =
      try Retrieval.bm25AgainstIndex(
        Seq((1, s"w7x0 w7x1")).toDF("query_id", "qtext"),
        "query_id", "qtext", bm25, k = 5)
        .select("doc_id").as[Long].collect().toSeq
      finally Dedup.unpersistAll()
    def ivfIds(): Set[Long] =
      Similarity.knnIvfIndexed(spark, ivf, qv7, k = 30, nProbe = 2)
        .select("id").as[Long].collect().toSet
    def admits7(): Boolean =
      try Dedup.admitAgainstExactLedger(
        Seq((207L, text(7L))).toDF("doc_id", "text"),
        "doc_id", "text", ledger).count() == 1
      finally Dedup.unpersistAll()
    assert(lshHits() == 1L, "planted twin must collide pre-takedown")
    assert(bm25Hits() == Seq(7L))
    assert(ivfIds().contains(7L))
    assert(!admits7(), "known content must be rejected pre-takedown")

    // the takedown: two present ids, one unknown (harmless no-op)
    val report = Takedown.takedownEverywhere(spark,
      Seq(7L, 13L, 999L).toDF("doc_id"), "doc_id", "text",
      TakedownTargets(
        corpusPath = Some(store), ledgerPath = Some(ledger),
        lshPath = Some(lsh), bm25Path = Some(bm25),
        ivfPaths = Seq(ivf)))
    assert(report == Takedown.TakedownReport(3L, 2L, 2L, Some(1)),
      report.toString)

    // corpus: CURRENT lacks the ids, the prior version keeps them
    assert(CorpusStore.readCorpusSnapshot(spark, store)
      .select("doc_id").as[Long].collect().toSet ==
      (0L to 29L).toSet -- Set(7L, 13L))
    assert(CorpusStore.readCorpusSnapshotAt(spark, store, 0).count() == 30)
    // every probe path is blind to the ids
    assert(lshHits() == 0L, "tombstoned doc still collides in LSH")
    assert(bm25Hits().isEmpty, "tombstoned doc still served by BM25")
    assert(!ivfIds().contains(7L) && !ivfIds().contains(13L),
      "tombstoned vector still served by IVF")
    // the ledger re-admits the taken-down content (clean recrawl)
    assert(admits7(), "taken-down content must re-admit")

    // idempotent re-run: nothing present, no redundant generation,
    // probes unchanged
    val again = Takedown.takedownEverywhere(spark,
      Seq(7L, 13L, 999L).toDF("doc_id"), "doc_id", "text",
      TakedownTargets(
        corpusPath = Some(store), ledgerPath = Some(ledger),
        lshPath = Some(lsh), bm25Path = Some(bm25),
        ivfPaths = Seq(ivf)))
    assert(again == Takedown.TakedownReport(3L, 0L, 0L, None), again.toString)
    assert(CorpusStore.currentGen(spark, store)._1 == 1)
    assert(lshHits() == 0L && bm25Hits().isEmpty)

    // contract guards: ledger takedown without a corpus fails fast;
    // empty id sets fail fast; no targets fail fast
    assert(intercept[IllegalArgumentException] {
      Takedown.takedownEverywhere(spark, Seq(1L).toDF("doc_id"),
        "doc_id", "text", TakedownTargets(ledgerPath = Some(ledger)))
    }.getMessage.contains("needs corpusPath"))
    assert(intercept[IllegalArgumentException] {
      Takedown.takedownEverywhere(spark,
        Seq.empty[Long].toDF("doc_id"), "doc_id", "text",
        TakedownTargets(lshPath = Some(lsh)))
    }.getMessage.contains("empty id set"))
    assert(intercept[IllegalArgumentException] {
      Takedown.takedownEverywhere(spark, Seq(1L).toDF("doc_id"),
        "doc_id", "text", TakedownTargets())
    }.getMessage.contains("no targets"))
  }

  test("id-only corpus takedown resolves no text; absent ids never touch a bucket") {
    // round-15 review findings: (a) text rides along ONLY for a
    // ledger target, so a corpus without the named text column still
    // takes down by id; (b) the corpus delete is driven by the ids
    // KNOWN PRESENT — a bulk feed of mostly-absent candidates must
    // not rewrite the buckets the absent ids hash into
    val store = tmp("graft-td-idonly")
    val corpus = (0L to 9L).map(i => (i, i * 2.0))
      .toDF("doc_id", "weight").localCheckpoint()
    CorpusStore.writeCorpusCow(corpus, store, "doc_id", numBuckets = 4)
    val r = Takedown.takedownEverywhere(spark,
      Seq(3L).toDF("doc_id"), "doc_id", "text_column_that_does_not_exist",
      TakedownTargets(corpusPath = Some(store)))
    assert(r == Takedown.TakedownReport(1L, 1L, 0L, Some(1)), r.toString)
    assert(CorpusStore.readCorpusSnapshot(spark, store)
      .select("doc_id").as[Long].collect().toSet ==
      (0L to 9L).toSet - 3L)
    // mostly-absent request: only id 5's bucket is rewritten
    val r2 = Takedown.takedownEverywhere(spark,
      (Seq(5L) ++ (100L to 140L)).toDF("doc_id"), "doc_id", "ignored",
      TakedownTargets(corpusPath = Some(store)))
    assert(r2.nInCorpus == 1L && r2.corpusGen.contains(2), r2.toString)
    val bucketOf5 = Seq(5L).toDF("doc_id")
      .select(pmod(xxhash64(col("doc_id")), lit(4L)).cast("int"))
      .as[Int].head()
    val gen2Dirs = new java.io.File(s"$store/parts/gen=2")
      .listFiles.filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("_cs_bucket=")).toSet
    assert(gen2Dirs == Set(s"_cs_bucket=$bucketOf5"),
      s"absent ids touched buckets: $gen2Dirs")
  }

  test("a corpus target that is not a store fails fast BEFORE any store mutates") {
    // round 16 — ADVICE: the COW check used to live in step 4 (inside
    // deleteFromCorpusCow), AFTER the index tombstones and the ledger
    // delete had landed — a half-applied takedown with no report
    val plain = tmp("graft-td-plain")
    val lsh = tmp("graft-td-full-lsh")
    val corpus = (0L to 9L).map(i => (i, text(i))).toDF("doc_id", "text")
      .localCheckpoint()
    corpus.write.mode("overwrite").parquet(plain)
    Dedup.writeLshIndex(corpus, "doc_id", "text", lsh)
    val e = intercept[IllegalArgumentException] {
      Takedown.takedownEverywhere(spark, Seq(3L).toDF("doc_id"),
        "doc_id", "text",
        TakedownTargets(corpusPath = Some(plain), lshPath = Some(lsh)))
    }
    assert(e.getMessage.contains("not a copy-on-write"), e.getMessage)
    // NOTHING mutated: the LSH index still serves the doomed id and
    // the corpus still holds it
    val hits =
      try Dedup.dedupAgainstLshIndex(
        Seq((103L, text(3L))).toDF("doc_id", "text"),
        "doc_id", "text", lsh, threshold = 0.5).count()
      finally Dedup.unpersistAll()
    assert(hits == 1L, "index tombstoned before the fail-fast")
    assert(spark.read.parquet(plain).count() == 10)
  }
}

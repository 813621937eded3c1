package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexHealth, Retrieval, Similarity}

/** One uniform health row across the four persisted index kinds:
  * layout detection, occupancy fields, and the needsCompact /
  * needsRebuild triggers each lifecycle documents.
  */
class IndexHealthSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("lsh health: clean build reports healthy; replay dups + tombstones trip needsCompact; compaction clears it") {
    val src = tmp("graft-ih-lsh")
    val dst = tmp("graft-ih-lshc")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "red orange yellow green blue indigo violet ultraviolet"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    Dedup.writeLshIndex(docs, "doc_id", "text", src)
    val clean = IndexHealth.report(spark, src)
    assert(clean.kind == "lsh" && clean.totalRows == 3 &&
      clean.tombstones == 0 && !clean.needsCompact && !clean.needsRebuild,
      clean.toString)
    // crash-replay shape: the same append twice → duplicate rows
    Dedup.appendToLshIndex(docs, "doc_id", "text", src)
    Dedup.appendToLshIndex(docs, "doc_id", "text", src)
    val dup = IndexHealth.report(spark, src)
    assert(dup.needsCompact, s"duplicate rows not flagged: $dup")
    // takedown pending → needsCompact regardless of duplicates, and
    // occupancy counts LIVE rows only (the review fix)
    Dedup.deleteFromLshIndex(Seq(2L).toDF("doc_id"), "doc_id", src)
    val td = IndexHealth.report(spark, src)
    assert(td.tombstones == 1 && td.needsCompact, td.toString)
    assert(td.totalRows == 2, s"tombstoned rows counted as live: $td")
    // compaction folds both: clean report on the fresh tree
    Dedup.compactLshIndex(spark, src, dst)
    val after = IndexHealth.report(spark, dst)
    assert(after.kind == "lsh" && after.totalRows == 2 &&
      after.tombstones == 0 && !after.needsCompact, after.toString)
  }

  test("exact ledger health: cross-generation duplicates + tombstones trip needsCompact; compaction clears it") {
    val src = tmp("graft-ih-led")
    val dst = tmp("graft-ih-ledc")
    Dedup.writeExactLedger(
      Seq("seen one", "seen two").toDF("text"), "text", src)
    val clean = IndexHealth.report(spark, src)
    assert(clean.kind == "exact_ledger" && clean.totalRows == 2 &&
      !clean.needsCompact && !clean.needsRebuild, clean.toString)
    // repeated appends of known content → duplicate hash rows
    Dedup.appendToExactLedger(
      Seq("seen one", "seen two").toDF("text"), "text", src)
    assert(IndexHealth.report(spark, src).needsCompact,
      "cross-generation duplicate hashes not flagged")
    Dedup.deleteFromExactLedger(Seq("seen one").toDF("text"), "text", src)
    val td = IndexHealth.report(spark, src)
    assert(td.tombstones == 1 && td.needsCompact, td.toString)
    Dedup.compactExactLedger(spark, src, dst)
    val after = IndexHealth.report(spark, dst)
    assert(after.kind == "exact_ledger" && after.totalRows == 1 &&
      after.tombstones == 0 && !after.needsCompact, after.toString)
  }

  test("bm25 health: generation pile-up + tombstones trip needsCompact; in-place compaction resets to one generation") {
    val dir = tmp("graft-ih-bm")
    val corpus = Seq(
      (1L, "spark shuffle join"), (2L, "spark streaming state"),
      (3L, "hash join strategy"), (4L, "window aggregate"))
      .toDF("doc_id", "text")
    Retrieval.writeBm25Index(corpus.where($"doc_id" <= 1),
      "doc_id", "text", dir, numBuckets = 8)
    (2L to 5L).foreach { i =>
      Retrieval.appendToBm25Index(
        corpus.where($"doc_id" === math.min(i, 4L))
          .select(($"doc_id" + (i - 2) * 10).as("doc_id"), $"text"),
        "doc_id", "text", dir)
    }
    val piled = IndexHealth.report(spark, dir)
    assert(piled.kind == "bm25" && piled.generations == 5 &&
      piled.needsCompact, piled.toString)
    assert(piled.nPartitions == 8 && piled.emptyPartitions > 0,
      s"term-bucket occupancy missing: $piled")
    Retrieval.compactBm25Index(spark, dir)
    val compacted = IndexHealth.report(spark, dir)
    assert(compacted.generations == 1 && !compacted.needsCompact,
      compacted.toString)
    assert(compacted.totalRows == piled.totalRows,
      "compaction changed the postings row count")
    // takedown pending flips it back until the next compaction
    Retrieval.deleteFromBm25Index(spark, Seq(1L).toDF("id"), "id", dir)
    assert(IndexHealth.report(spark, dir).needsCompact)
  }

  test("ivf health: balanced build healthy; drift trips needsRebuild; tombstones trip needsCompact; rebuild clears both") {
    val dir = tmp("graft-ih-ivf")
    val dir2 = tmp("graft-ih-ivfr")
    val emb = Tables.load(spark, sfDir, "embeddings").cache()
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8)
    val clean = IndexHealth.report(spark, dir)
    assert(clean.kind == "ivf" && clean.totalRows == emb.count() &&
      clean.nPartitions == 8 && !clean.needsCompact, clean.toString)
    // drift: append 400 copies of one direction — one cell floods
    // (max ≈ 62+400 vs mean ≈ 112), passing the 4x needsRebuild skew
    val hv = emb.orderBy("vec_id").limit(1)
      .select("embedding").head().getSeq[Float](0).toSeq
    val drifted = spark.range(400)
      .select(($"id" + 100000L).as("vec_id"),
        typedlit(hv).as("embedding"))
    Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", dir)
    val skewed = IndexHealth.report(spark, dir)
    assert(skewed.needsRebuild, s"drift not flagged: $skewed")
    Similarity.deleteFromIvfIndex(
      drifted.select("vec_id"), "vec_id", dir)
    val afterDel = IndexHealth.report(spark, dir)
    assert(afterDel.needsCompact, "pending tombstones not flagged")
    // live-row stats (the review fix): with the drifted rows
    // tombstoned, the LIVE geometry is balanced again — the flag must
    // not demand a rebuild that the pending compaction makes moot
    assert(!afterDel.needsRebuild,
      s"dead rows still steering the rebuild trigger: $afterDel")
    assert(afterDel.totalRows == emb.count(), afterDel.toString)
    // rebuild folds tombstones and recenters: both flags clear
    Similarity.rebuildIvfIndex(spark, dir, dir2, nCells = 8,
      strategy = Similarity.SeededCentroids)
    val rebuilt = IndexHealth.report(spark, dir2)
    assert(rebuilt.totalRows == emb.count() && rebuilt.tombstones == 0 &&
      !rebuilt.needsCompact, rebuilt.toString)
  }

  test("corpus_cow health: the COW store joins the catalog loop — detected ahead of bm25, pressure flagged, maintain clears it in place") {
    import graft.sources.CorpusStore
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ih-cow").toString
    val corpus = (1 to 40).map(i => (i.toLong, s"doc $i body"))
      .toDF("doc_id", "text")
    CorpusStore.writeCorpusCow(corpus, dir, "doc_id", numBuckets = 8)
    // the store is detected first — the detector must NOT fall into
    // the bm25 branch
    val clean = IndexHealth.report(spark, dir)
    assert(clean.kind == "corpus_cow" && clean.totalRows == 40 &&
      clean.generations == 1 && !clean.needsCompact &&
      !clean.needsRebuild, clean.toString)
    // pressure: a 10-delta chain on one id + pending tombstones
    (1 to 10).foreach(v => CorpusStore.appendDeltaToCorpusCow(
      Seq((5L, s"five v$v")).toDF("doc_id", "text"), dir))
    CorpusStore.appendTombstonesToCorpusCow(
      Seq(17L).toDF("doc_id"), dir)
    val dirty = IndexHealth.report(spark, dir)
    assert(dirty.needsCompact && dirty.tombstones == 1 &&
      dirty.totalRows == 39, dirty.toString)
    // one uniform maintain pass fixes it in place (dstPath unused)
    val want = CorpusStore.readCorpusSnapshot(spark, dir)
      .orderBy("doc_id").collect().toSeq
    val r = IndexHealth.maintain(spark, dir, dstPath = dir)
    // chain pressure without retention pressure (12 gens < the
    // default 16): exactly the compaction leg runs
    assert(r.action == "compacted", r.toString)
    assert(!r.after.needsCompact && r.after.tombstones == 0,
      r.after.toString)
    assert(CorpusStore.readCorpusSnapshot(spark, dir)
      .orderBy("doc_id").collect().toSeq == want)
    // healthy store: maintain is a no-op
    assert(IndexHealth.maintain(spark, dir, dstPath = dir)
      .action == "none")
  }

  test("dataFiles counts only the trees the committed version reads: a losing or crashed writer's orphan tree leaves it unchanged") {
    import graft.sources.CorpusStore
    import scala.jdk.CollectionConverters._
    // copy one of the index's data files to `rel`, a tree no commit
    // names — where a writer that lost its publish, or crashed before
    // it, leaves its files
    def plantOrphan(root: String, from: String, rel: String): Unit = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, from))
      val file = try walk.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally walk.close()
      val dst = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(file, dst)
    }
    val cow = tmp("graft-ih-orphan-cow")
    CorpusStore.writeCorpusCow((1 to 40).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text"), cow, "doc_id", numBuckets = 8)
    CorpusStore.appendDeltaToCorpusCow(
      Seq((5L, "five v1")).toDF("doc_id", "text"), cow)
    val cowBefore = IndexHealth.report(spark, cow)
    assert(cowBefore.dataFiles > 0, cowBefore.toString)
    plantOrphan(cow, "parts",
      "deltas/gen=2/crashed-writer/_cs_bucket=0/part-orphan.parquet")
    assert(IndexHealth.report(spark, cow).dataFiles == cowBefore.dataFiles)

    val bm = tmp("graft-ih-orphan-bm25")
    Retrieval.writeBm25Index(Seq((1L, "spark shuffle join"),
      (2L, "window aggregate")).toDF("doc_id", "text"), "doc_id", "text",
      bm, numBuckets = 4)
    val bmBefore = IndexHealth.report(spark, bm)
    assert(bmBefore.dataFiles > 0, bmBefore.toString)
    plantOrphan(bm, "postings",
      "postings/gen=1/writer=crashed/tbucket=0/part-orphan.parquet")
    assert(IndexHealth.report(spark, bm).dataFiles == bmBefore.dataFiles)
  }
}

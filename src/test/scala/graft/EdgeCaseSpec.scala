package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup, Similarity}

/** Degenerate-input behavior: empty sides, null ordinals, no
  * candidates. These are the shapes long pipelines actually hit
  * (an empty partition of a filtered source, a null-scored row) and
  * where silent wrong answers hide.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("topk skips null ordinals and null ids instead of ranking them at 0.0") {
    val df = Seq(
      (1L, Some(5.0), Some(10L)),
      (1L, None, Some(11L)),        // null ord → skipped
      (1L, Some(-3.0), Some(12L)),  // negative beats nothing but IS ranked
      (1L, Some(2.0), None)         // null id → skipped
    ).toDF("g", "ord", "id")
    val got = df.groupBy("g")
      .agg(graft.functions.TopK.topk($"ord", $"id", 10).as("top"))
      .select(explode($"top").as("e")).select($"e.id", $"e.ord")
      .as[(Long, Double)].collect().toList
    assert(got == List((10L, 5.0), (12L, -3.0)),
      s"null ord must not rank as 0.0 (above -3.0): $got")
  }

  test("as-of joins tolerate an empty right side") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "A"))
      .toDF("id", "ts", "k")
    val r = Seq.empty[(Long, java.sql.Timestamp, String, Double)]
      .toDF("rid", "ts", "k", "v")
    for (join <- Seq(AsOfJoin.backward _, AsOfJoin.forward _)) {
      val out = join(l, r, Seq("k"), "ts", "ts", "id", "rid", Seq("v"), None)
      assert(out.count() == 1)
      assert(out.select("asof_v").head().isNullAt(0))
    }
  }

  test("duplicateClusters of an empty pair set is empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(pairs).isEmpty)
  }

  test("duplicateClusters convergence cadence: path graphs of odd and even diameter resolve identically") {
    // the probe runs every OTHER round (r20 optimization), so pin
    // correctness at BOTH parities of rounds-to-fixpoint: min-label
    // propagation over a path 1–2–…–n needs ~n rounds, and every node
    // must still land on cluster = 1 whichever parity the fixpoint
    // round has; a second component pins that labels never bleed
    // across components while the extra (no-op) round runs
    for (n <- Seq(4L, 5L, 6L, 7L)) {
      val path = (1L until n).map(i => (i, i + 1))
      val other = Seq((100L, 101L))
      val pairs = (path ++ other).toDF("id_a", "id_b")
      val got = Dedup.duplicateClusters(pairs)
        .as[(Long, Long)].collect().toMap
      val want = ((1L to n).map(_ -> 1L) ++ Seq(100L -> 100L, 101L -> 100L)).toMap
      assert(got == want, s"path of $n nodes")
    }
  }

  test("decontaminate with an empty eval side finds nothing") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = Dedup.decontaminate(docs, docs.where(lit(false)), "doc_id", "text")
    assert(out.isEmpty)
  }

  test("streaming decontaminate against an empty eval side flags nothing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val flagged = Dedup.streamingDecontaminate(
      mem.toDF().toDF("doc_id", "text"),
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val q = flagged.writeStream.format("memory").queryName("sdecon_empty")
      .outputMode("append").start()
    try {
      mem.addData((1L, "some streaming document text here"))
      q.processAllAvailable()
      assert(spark.table("sdecon_empty").isEmpty)
    } finally q.stop()
  }

  test("batch knn with an empty query set is empty") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val out = Similarity.knnBruteBatch(emb.where(lit(false)), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3)
    assert(out.isEmpty)
  }

  test("cosineDuplicates on a single-row corpus is empty") {
    val emb = Tables.load(spark, sfDir, "embeddings").limit(1)
    val out = Similarity.cosineDuplicates(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.0, bands = 4, bitsPerBand = 4)
    assert(out.isEmpty)
  }

  test("kmeans centroids handle nCells larger than the corpus") {
    // 3 distinct vectors, 8 requested cells: k-means caps at the
    // sample size; assignment and probe still agree end-to-end
    val tiny = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)), (3L, Seq(0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Similarity.knnIvf(tiny, "vec_id", "embedding",
      Array(1f, 0f, 0f), k = 2, nCells = 8, nProbe = 2,
      strategy = Similarity.KMeansCentroids())
    val rows = out.collect()
    assert(rows.nonEmpty && rows.head.getLong(0) == 1L,
      s"query's own vector must rank first, got ${rows.toSeq}")
  }

  test("kmeans centroids skip zero vectors in the sample") {
    // zero vectors carry no direction: they must not become centroids
    // (or crash the normalizer) — and a mixed corpus still indexes
    val mixed = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(0f, 1f)),
      (4L, Seq(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = Similarity.buildIvfIndex(mixed, "vec_id", "embedding",
      nCells = 2, strategy = Similarity.KMeansCentroids())
    assert(idx.count() == 4) // every row (zero vector included) lands in a cell
    // an all-zero sample has no direction at all — fail fast, loudly
    val zeros = Seq((1L, Seq(0f, 0f)), (2L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(zeros, "vec_id", "embedding",
        nCells = 2, strategy = Similarity.KMeansCentroids())
    }
    assert(e.getMessage.contains("non-zero"))
  }

  test("bloom: empty build side rejects everything; pruned join is empty") {
    import graft.operators.BloomPrune
    val probe = Seq(1L, 2L, 3L).toDF("k")
    val build = Seq.empty[Long].toDF("b")
    val words = BloomPrune.buildBitset(build, col("b"), 1 << 10, 5)
    assert(words.forall(_ == 0L))
    assert(probe.where(BloomPrune.mightContain(col("k"), words, 5)).count() == 0)
    val joined = BloomPrune.pruneJoin(probe, build, "k", "b",
      expectedBuildRows = 1)
    assert(joined.count() == 0)
  }

  test("packing operators are empty-safe") {
    import graft.operators.Packing
    val empty = Seq.empty[(Long, Int)].toDF("id", "n")
    assert(Packing.packSequences(empty, "id", col("n"), 1000, 4).count() == 0)
    assert(Packing.chunkWindows(empty, "id", col("n"), 512, 384).count() == 0)
  }

  test("events analytics are empty-safe") {
    import graft.operators.EventsAnalytics
    val empty = Seq.empty[(Long, java.sql.Timestamp, String, Double)]
      .toDF("user_id", "ts", "event_type", "value")
    val fc = EventsAnalytics.funnelCounts(empty, "user_id", "ts",
      "event_type", Seq("view", "click")).head()
    assert(fc.getLong(0) == 0L && fc.getLong(1) == 0L)
    assert(EventsAnalytics.retention(empty, "user_id", "ts").count() == 0)
    assert(EventsAnalytics.resampleDaily(empty, "user_id", "ts", "value")
      .count() == 0)
    assert(EventsAnalytics.resampleDailyFfill(empty, "user_id", "ts", "value")
      .count() == 0)
  }

  test("round-6 text expressions are null-text safe") {
    import graft.operators.TextAnalysis
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    // redaction of a null text is null (regexp_replace propagates),
    // never an exception
    assert(df.select(TextAnalysis.redactPii(col("text"))).head().isNullAt(0))
    // trigram stats: a null length fails the n >= 3 guard into the
    // otherwise branch — zeros, not nulls, so downstream filters on
    // uniq_frac treat a null doc as maximally repetitive
    val (total, distinctN, frac) = TextAnalysis.trigramStats(col("text"))
    val r = df.select(total, distinctN, frac).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getDouble(2) == 0.0)
  }

  test("weighted stratified sampling of an empty frame is empty") {
    import graft.operators.Sampling
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "source")
    assert(Sampling.weightedStratifiedSample(
      empty, "doc_id", "lang", lit(1), 3).isEmpty)
  }

  test("corpus line dedup: empty frame empty; single doc keeps everything") {
    import graft.operators.TextAnalysis
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.dedupCorpusLines(empty, "doc_id", "text", 2).isEmpty)
    // one doc can never reach minDocs >= 2 distinct docs
    val one = Seq((1L, "a\nb\na")).toDF("doc_id", "text")
    val r = TextAnalysis.dedupCorpusLines(one, "doc_id", "text", 2)
      .as[(Long, String, Long, Long)].head()
    assert(r == ((1L, "a\nb\na", 3L, 0L)))
    // minDocs < 2 would silently drop ALL text — must refuse
    intercept[IllegalArgumentException] {
      TextAnalysis.dedupCorpusLines(one, "doc_id", "text", 1)
    }
  }

  test("shard assignment: empty frame empty; more shards than rows") {
    import graft.operators.Sampling
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Sampling.shardAssignment(empty, "doc_id", 4).isEmpty)
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val got = Sampling.shardAssignment(tiny, "doc_id", 64)
      .select("doc_id", "shard", "shard_pos")
      .as[(Long, Int, Int)].collect()
    assert(got.length == 2)
    assert(got.forall { case (_, s, p) => s >= 0 && s < 64 && p >= 1 })
  }

  test("ngram overlap with an empty bench side scores every doc 0") {
    val train = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = Dedup.ngramOverlapScore(train, bench, "doc_id", "text")
      .as[(Long, Long, Long, Double)].head()
    assert(r == ((1L, 2L, 0L, 0.0)))
  }

  test("lsh index probe with an empty batch is empty") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("edge-lsh").toString
    Dedup.writeLshIndex(docs.limit(30), "doc_id", "text", dir)
    val out = Dedup.dedupAgainstLshIndex(
      docs.where(lit(false)), "doc_id", "text", dir)
    assert(out.isEmpty)
  }

  test("semantic decontamination with an empty eval side finds nothing") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val out = Similarity.cosineDecontaminate(
      emb, emb.where(lit(false)), "vec_id", "embedding",
      dim = 64, threshold = 0.4, bands = 12, bitsPerBand = 6)
    assert(out.isEmpty)
  }

  test("phraseSearch: empty corpus and empty query frame are empty") {
    import graft.operators.{Dedup, Retrieval}
    val scope = new Dedup.CacheScope
    try {
      val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
      val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
      assert(Retrieval.phraseSearch(none, "doc_id", "text",
        Seq((1, "a b")).toDF("query_id", "phrase"),
        "query_id", "phrase", k = 3, scope = scope).isEmpty)
      assert(Retrieval.phraseSearch(docs, "doc_id", "text",
        Seq.empty[(Int, String)].toDF("query_id", "phrase"),
        "query_id", "phrase", k = 3, scope = scope).isEmpty)
      // a phrase longer than every document can never match
      assert(Retrieval.phraseSearch(docs, "doc_id", "text",
        Seq((1, "a b c d e")).toDF("query_id", "phrase"),
        "query_id", "phrase", k = 3, scope = scope).isEmpty)
    } finally scope.release()
  }

  test("semDedup: empty input is empty; single vector is kept") {
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // centroids need at least one vector — empty corpus fails fast in
    // centroidVectors, so the guard is the single-row case
    val one = Seq(1L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(one, "vec_id", "embedding",
      nClusters = 2, threshold = 0.5)
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getBoolean(2), rows.mkString)
    intercept[Exception] {
      Similarity.semDedup(none, "vec_id", "embedding",
        nClusters = 2, threshold = 0.5).collect()
    }
  }

  test("lengthBucketBatches and diversifyTopK are empty-safe") {
    import graft.operators.Packing
    val none = Seq.empty[(Long, Int)].toDF("id", "n")
    assert(Packing.lengthBucketBatches(none, "id", col("n"),
      bounds = Seq(5), batchSize = 2, numShards = 2).isEmpty)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.diversifyTopK(noVecs, "vec_id", "embedding",
      Array(1f, 0f), k = 3).isEmpty)
  }

  test("bm25: empty corpus, all-miss query set, and empty query frame are empty") {
    import graft.operators.{Dedup, Retrieval}
    val scope = new Dedup.CacheScope
    try {
      val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
      val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val probes = Seq((1, "a")).toDF("query_id", "query_text")
      assert(Retrieval.bm25(none, "doc_id", "text", probes,
        "query_id", "query_text", k = 3, scope = scope).isEmpty)
      assert(Retrieval.bm25(docs, "doc_id", "text",
        Seq((1, "zz qq")).toDF("query_id", "query_text"),
        "query_id", "query_text", k = 3, scope = scope).isEmpty)
      assert(Retrieval.bm25(docs, "doc_id", "text",
        Seq.empty[(Int, String)].toDF("query_id", "query_text"),
        "query_id", "query_text", k = 3, scope = scope).isEmpty)
    } finally scope.release()
  }

  test("collocations/frequencySpectrum: empty and sub-2-token corpora") {
    import graft.operators.{Dedup, TextAnalysis}
    val scope = new Dedup.CacheScope
    try {
      val empty = Seq.empty[String].toDF("text")
      assert(TextAnalysis.collocations(empty, "text", k = 5,
        scope = scope).isEmpty)
      assert(TextAnalysis.frequencySpectrum(empty, "text", scope).isEmpty)
      // single-token docs: no pairs at all, spectrum still counts
      val solo = Seq("one", "two", "one").toDF("text")
      assert(TextAnalysis.collocations(solo, "text", k = 5,
        minCount = 1, scope = scope).isEmpty)
      val sp = TextAnalysis.frequencySpectrum(solo, "text", scope)
        .orderBy("freq").as[(Long, Long, Long, Double)].collect().toList
      assert(sp == List((1L, 1L, 2L, 0.5), (2L, 1L, 2L, 0.5)), sp.toString)
    } finally scope.release()
  }

  test("transitionMatrix on empty and single-event-per-user inputs is empty") {
    import graft.operators.EventsAnalytics
    val empty = Seq.empty[(Long, Long, java.sql.Timestamp, String)]
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(EventsAnalytics.transitionMatrix(
      empty, "user_id", "ts", "event_type", "event_id").isEmpty)
    val singles = Seq(
      (1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (2L, 2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "b"))
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(EventsAnalytics.transitionMatrix(
      singles, "user_id", "ts", "event_type", "event_id").isEmpty)
  }

  test("snapshotDiff: empty sides classify as pure adds/removes") {
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val allAdded = Dedup.snapshotDiff(empty, docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(allAdded == Map(1L -> "added", 2L -> "added"))
    val allRemoved = Dedup.snapshotDiff(docs, empty, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(allRemoved == Map(1L -> "removed", 2L -> "removed"))
    assert(Dedup.snapshotDiff(empty, empty, "doc_id", "text").isEmpty)
  }

  test("bpeTrain: empty and single-char corpora learn nothing, no crash") {
    import graft.operators.TextAnalysis
    val empty = Seq.empty[String].toDF("text")
    assert(TextAnalysis.bpeTrain(empty, "text", numMerges = 3).isEmpty)
    // all words single-char: no adjacent pair ever exists
    val chars = Seq("a b c", "a b").toDF("text")
    assert(TextAnalysis.bpeTrain(chars, "text", numMerges = 3).isEmpty)
  }

  test("compactLshIndex edges: fresh never-appended index compacts probe-identically; no ingest_log means none is invented") {
    import graft.operators.Dedup
    val src = java.nio.file.Files.createTempDirectory("graft-clsh-s").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-clsh-d").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "totally different words here now ok")).toDF("doc_id", "text")
    Dedup.writeLshIndex(corpus, "doc_id", "text", src)
    Dedup.compactLshIndex(spark, src, dst)
    // a fresh single-generation index is already canonical: the
    // compacted tree must carry the same rows and probe identically
    assert(spark.read.parquet(s"$dst/hashes").count() == 3)
    val batch = Seq((9L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    assertSameRows(
      Dedup.dedupAgainstLshIndex(batch, "doc_id", "text", dst),
      Dedup.dedupAgainstLshIndex(batch, "doc_id", "text", src))
    Dedup.unpersistAll()
    // a batch-built index has no ingest_log; compaction must not
    // invent one (a phantom empty log would satisfy — and so mask —
    // the replay guard's existence check)
    assert(!new java.io.File(s"$dst/ingest_log").exists(),
      "compaction invented an ingest_log the source never had")
  }

  test("unigramTrain: empty corpus learns nothing; vocabSize below the alphabet stalls gracefully") {
    import graft.operators.TextAnalysis
    val empty = Seq.empty[String].toDF("text")
    assert(TextAnalysis.unigramTrain(empty, "text", vocabSize = 4).isEmpty)
    // 4 distinct codepoints but vocabSize=2: singles are never pruned,
    // so the shrink loop must stop on no-progress, not spin
    val out = TextAnalysis.unigramTrain(
      Seq("ab cd ab cd").toDF("text"), "text", vocabSize = 2,
      emIters = 1, seedSize = 8, maxPieceLen = 2, minSubstrCount = 1)
      .as[(String, Double)].collect()
    assert(Set("a", "b", "c", "d").subsetOf(out.map(_._1).toSet),
      out.toList.toString)
  }

  test("N-column z-order on an empty frame writes an empty directory, no crash") {
    import graft.sources.Layout
    val dir = java.nio.file.Files.createTempDirectory("edge-z3").toString
    val empty = Seq.empty[(Long, Long, Long)].toDF("x", "y", "w")
    Layout.writeZOrdered(empty, s"$dir/z", 4, "x", "y", "w")
    assert(spark.read.parquet(s"$dir/z").count() == 0)
  }

  test("repetition/curation expressions are null-text safe") {
    import graft.operators.TextAnalysis
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    // null text → null repetition metrics (never an exception); the
    // flag's null-comparison semantics make it null too, cast(int) → null
    val r = TextAnalysis.repetitionMetrics(df, "doc_id", "text").head()
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    // quality of a null text is 0.0, not null: the weighted sum is
    // null but greatest(0.0, null) SKIPS nulls (both engines), so a
    // null doc deterministically scores worst and curation filters
    // drop it — the behavior a pipeline wants
    val q = df.select(TextAnalysis.qualityScore(col("text"))).head()
    assert(!q.isNullAt(0) && q.getDouble(0) == 0.0)
  }

  test("rollingActive: empty events empty; one event spans one day with count 1") {
    import graft.operators.EventsAnalytics
    val empty = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    assert(EventsAnalytics.rollingActive(empty, "user_id", "ts").isEmpty)
    val one = Seq((7L, java.sql.Timestamp.valueOf("2024-03-05 10:00:00")))
      .toDF("user_id", "ts")
    val got = EventsAnalytics.rollingActive(one, "user_id", "ts")
      .as[(String, Long, Long)].collect().toList
    // span is exactly the single active day — no trailing-window
    // overhang rows past the last active day
    assert(got == List(("2024-03-05", 1L, 1L)), got.toString)
  }

  test("crossSourceDupMatrix: corpus with no near-dups yields an empty matrix") {
    val distinctDocs = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "zeta eta theta iota kappa", "s2"),
      (3L, "lambda mu nu xi omicron", "s1"))
      .toDF("doc_id", "text", "source")
    assert(Dedup.crossSourceDupMatrix(
      distinctDocs, "doc_id", "text", "source").isEmpty)
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(Dedup.crossSourceDupMatrix(
      empty, "doc_id", "text", "source").isEmpty)
  }

  test("filtered IVF-PQ and pqRecall degenerate inputs: false predicate and empty query frame are empty, no crash") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    val qv = emb.orderBy("vec_id").select("embedding").head()
      .getSeq[Float](0).toArray
    // a predicate matching nothing: the probed cells hold zero
    // surviving rows, the coarse set is empty, the rerank joins
    // nothing — k rows wanted, zero delivered, no error
    assert(Similarity.knnIvfPqFiltered(emb, "vec_id", "embedding",
      lit(false), qv, k = 10, cb = cb, nCells = 4, nProbe = 2).isEmpty)
    // empty query frame: the recall report has no spine rows
    val none = emb.where(lit(false))
    assert(Similarity.pqRecall(none, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5, cb = cb).isEmpty)
    // persisted filtered probe with a false predicate: the coarse
    // candidate set collects EMPTY and the static-In rerank must
    // yield an empty frame (isin over zero ids), not an error
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-fpq").toString
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 4, attrCols = Seq("label"))
    assert(Similarity.knnIvfPqIndexedFiltered(spark, dir, emb,
      "vec_id", "embedding", lit(false), qv, k = 5, nProbe = 2).isEmpty)
  }

  test("ivfRecall: empty query frame is empty; k past corpus size keeps recall = n_hit/k well-defined (< 1.0)") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val noQueries = emb.where(lit(false))
    assert(Similarity.ivfRecall(noQueries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5, nCells = 4, nProbe = 4).isEmpty)
    // k > corpus: both paths return the whole corpus per query, so
    // n_hit = |corpus| and recall = |corpus|/k < 1 — the report stays
    // well-defined instead of dividing by a phantom k matches
    val n = emb.count()
    val one = emb.orderBy("vec_id").limit(1)
    val r = Similarity.ivfRecall(one, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = n.toInt + 10,
        nCells = 4, nProbe = 4)
      .as[(Long, Long, Double)].head()
    assert(r._2 == n && r._3 == n.toDouble / (n + 10))
  }

  test("CorpusStore: an empty founding corpus is refused with no CURRENT left; over-long vacuum retention is a no-op") {
    import graft.sources.CorpusStore
    val path = java.nio.file.Files
      .createTempDirectory("graft-edge-cs").toString
    // a store holds at least one row in every generation: an empty
    // founding corpus is refused and commits nothing
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException] {
      CorpusStore.writeCorpusCow(empty, path, "doc_id", 8)
    }.getMessage.contains("refusing an empty corpus"))
    assert(!new java.io.File(s"$path/CURRENT").exists)
    // the refused init leaves the path initializable
    assert(CorpusStore.writeCorpusCow(
      Seq((1L, "alpha")).toDF("doc_id", "text"), path, "doc_id", 8) == 0)
    assert(CorpusStore.writeCorpusCow(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), path,
      "doc_id", 8) == 1)
    val d = CorpusStore.snapshotDelta(spark, path, 0, 1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "added"), d.toString)
    // keepLast beyond the history keeps everything, twice over
    CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 99)
    assert(CorpusStore.currentGen(spark, path) == ((1, 0)))
    assert(CorpusStore.readCorpusSnapshotAt(spark, path, 0).count() == 1)
  }

  test("multimodalNearDup: kinds absent from the corpus contribute no verdicts; no-text corpora flag nothing") {
    import graft.operators.Multimodal
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // all doc_id % 3 == 2 → every payload is video-KIND: no image or
    // audio fingerprints exist, so the only possible verdicts are
    // text — the composition must not fail on empty modality slices
    val videoOnly = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"),
      (5L, "alpha beta gamma delta epsilon zeta"),
      (8L, "totally different words here in this one")).toDF("doc_id", "text")
    val got = Multimodal.multimodalNearDup(videoOnly, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3), r.getInt(4))).toSeq
    assert(got == Seq((2L, 5L, 1, 0, 0)), got.toString)
    Dedup.unpersistAll()
    // an empty corpus produces an empty report, not a crash
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Multimodal.multimodalNearDup(none, "doc_id", "text").isEmpty)
    Dedup.unpersistAll()
  }
}

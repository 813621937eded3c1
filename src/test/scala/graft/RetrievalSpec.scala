package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Retrieval}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark shuffle join"),
    (2L, "spark spark spark streaming"),
    (3L, "hash join hash join strategy"),
    (4L, "window aggregate"),
    (5L, "")) // token-less doc: counts toward N, can never match
    .toDF("doc_id", "text")

  private def queries(qs: (Int, String)*) =
    qs.toSeq.toDF("query_id", "query_text")

  /** The operator's exact arithmetic, replayed in plain Scala: rational
    * RSJ idf, Okapi tf saturation, 6-decimal-scaled integer sum.
    */
  private def bm25Ref(
      terms: Seq[(Long, Map[String, Long])], // (doc_id, tf map)
      nDocs: Long, q: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): Map[Long, Double] = {
    val dl = terms.map { case (id, tfs) => id -> tfs.values.sum }.toMap
    val avgdl = dl.values.sum.toDouble / nDocs
    val df = q.map(t => t -> terms.count(_._2.contains(t)).toLong).toMap
    terms.flatMap { case (id, tfs) =>
      val ci = q.filter(tfs.contains).map { t =>
        val idf = (nDocs - df(t) + 0.5) / (df(t) + 0.5)
        val tf = tfs(t).toDouble
        val c = idf * (tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + b * (dl(id).toDouble / avgdl)))
        math.floor(c * 1e6 + 0.5).toLong
      }.sum
      if (ci == 0L) None else Some(id -> ci / 1e6)
    }.toMap
  }

  private lazy val tfMaps = Seq(
    1L -> Map("spark" -> 1L, "shuffle" -> 1L, "join" -> 1L),
    2L -> Map("spark" -> 3L, "streaming" -> 1L),
    3L -> Map("hash" -> 2L, "join" -> 2L, "strategy" -> 1L),
    4L -> Map("window" -> 1L, "aggregate" -> 1L))

  test("bm25 matches the hand arithmetic exactly (scores and ranks)") {
    val got = Retrieval.bm25(corpus, "doc_id", "text",
        queries(1 -> "spark join"), "query_id", "query_text", k = 10)
      .select("doc_id", "rank", "score")
      .as[(Long, Int, Double)].collect()
      .map { case (id, r, s) => id -> ((r, s)) }.toMap
    val want = bm25Ref(tfMaps, nDocs = 5, q = Seq("spark", "join"))
    assert(got.keySet == want.keySet)
    want.foreach { case (id, s) =>
      assert(got(id)._2 == s, s"doc $id: got ${got(id)._2}, want $s")
    }
    // ranks follow (score desc, doc_id asc)
    val byRank = got.toSeq.sortBy(_._2._1)
    val resorted = got.toSeq.sortBy { case (id, (_, s)) => (-s, id) }
    assert(byRank == resorted)
  }

  test("bm25 ranks the rare-term doc above common-term docs") {
    // 'window' appears in 1 doc (idf (5-1+.5)/1.5 = 3.0), 'spark' in 2
    // (idf 1.4): doc 4's single rare hit must outrank doc 2's THREE
    // common hits and doc 1's one — the idf dominance a set-only
    // assertion (or an inverted idf) would miss
    val out = Retrieval.bm25(corpus, "doc_id", "text",
        queries(1 -> "window spark"), "query_id", "query_text", k = 10)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(4L, 2L, 1L), out.toString)
  }

  test("bm25 k cuts with smaller-doc-id tie preference; no-hit query is empty") {
    val out = Retrieval.bm25(corpus, "doc_id", "text",
        queries(1 -> "join", 2 -> "nosuchterm"), "query_id", "query_text",
        k = 1)
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(out.map(_._1).toSet == Set(1)) // query 2: zero rows
    assert(out.size == 1)
    // docs 1 and 3 both contain 'join'; doc 3 has tf=2 → higher score
    assert(out.head._3 == 3L)
  }

  test("bm25 index probe equals the in-memory path; appends are picked up") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    val base = corpus.where(col("doc_id") <= 3)
    val batch = corpus.where(col("doc_id") > 3)
    Retrieval.writeBm25Index(base, "doc_id", "text", dir, numBuckets = 8)
    val probes = queries(1 -> "spark join", 2 -> "window")
    val scope = new Dedup.CacheScope
    try {
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10),
        Retrieval.bm25(base, "doc_id", "text", probes, "query_id",
          "query_text", k = 10, scope = scope))
      // append the rest: probe must now equal in-memory over the FULL
      // corpus (stats roll forward: N includes the token-less doc 5)
      Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10),
        Retrieval.bm25(corpus, "doc_id", "text", probes, "query_id",
          "query_text", k = 10, scope = scope))
    } finally scope.release()
  }

  test("bm25 index compaction: probe identical, gens collapse, appends continue") {
    val dir = java.nio.file.Files.createTempDirectory("bm25compact").toString
    Retrieval.writeBm25Index(corpus.where(col("doc_id") <= 2),
      "doc_id", "text", dir, numBuckets = 8)
    Retrieval.appendToBm25Index(corpus.where(col("doc_id") === 3),
      "doc_id", "text", dir)
    Retrieval.appendToBm25Index(corpus.where(col("doc_id") > 3),
      "doc_id", "text", dir)
    val probes = queries(1 -> "spark join", 2 -> "window")
    val scope = new Dedup.CacheScope
    try {
      val before = Retrieval.bm25AgainstIndex(probes, "query_id",
        "query_text", dir, k = 10)
      val beforeRows = before.collect().toSet
      Retrieval.compactBm25Index(spark, dir)
      // probe result is score-exact after compaction
      val after = Retrieval.bm25AgainstIndex(probes, "query_id",
        "query_text", dir, k = 10)
      assert(after.collect().toSet == beforeRows)
      // vacuum removed generations 0..2; gen 3 is the only survivor
      val gens = new java.io.File(s"$dir/postings").listFiles()
        .map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
      assert(gens == Seq("gen=3"), gens.toString)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "CURRENT")).trim == "3 3")
      // an append AFTER compaction preserves the base pointer: the
      // probe reads gens 3..4 only and equals the full in-memory path
      Retrieval.appendToBm25Index(
        Seq((9L, "spark window spark")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      val full = corpus.unionByName(
        Seq((9L, "spark window spark")).toDF("doc_id", "text"))
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10),
        Retrieval.bm25(full, "doc_id", "text", probes, "query_id",
          "query_text", k = 10, scope = scope))
    } finally scope.release()
  }

  test("bm25 index takedown: exact parity with an index never holding the doc; compaction removes physically and drops tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("bm25del-a").toString
    val fresh = java.nio.file.Files.createTempDirectory("bm25del-b").toString
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, numBuckets = 8)
    Retrieval.writeBm25Index(corpus.where(col("doc_id") =!= 2),
      "doc_id", "text", fresh, numBuckets = 8)
    val probes = queries(1 -> "spark join", 2 -> "spark streaming")
    val scope = new Dedup.CacheScope
    try {
      // doc 2 dominates "spark" pre-delete; the takedown must remove
      // it AND shift every other doc's score to the never-held stats
      // (N, avgdl, df all change) — score-exact, not just row-set
      Retrieval.deleteFromBm25Index(spark,
        Seq(2L).toDF("id"), "id", dir)
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10, scope = scope),
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", fresh,
          k = 10, scope = scope))
      // ingest-time flagging sees the corrected stats + df too
      val flagDocs = Seq((90L, "spark spark join")).toDF("doc_id", "text")
      assert(
        Retrieval.bm25FlagAgainstIndex(flagDocs, "doc_id", "text",
          Seq(1 -> "spark join"), dir).collect().toSeq ==
        Retrieval.bm25FlagAgainstIndex(flagDocs, "doc_id", "text",
          Seq(1 -> "spark join"), fresh).collect().toSeq)
      // compaction folds: postings physically clean, tombstones gone,
      // stats row corrected — and the probe still matches fresh
      Retrieval.compactBm25Index(spark, dir)
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        "compaction did not drop the folded tombstones")
      assert(spark.read.parquet(s"$dir/postings")
        .where(col("doc_id") === 2).count() == 0,
        "compaction left the deleted doc's postings")
      assert(
        spark.read.parquet(s"$dir/stats/gen=1").collect().toSeq ==
        spark.read.parquet(s"$fresh/stats/gen=0").collect().toSeq,
        "compacted stats diverged from the never-held index")
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10, scope = scope),
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", fresh,
          k = 10, scope = scope))
      // re-deleting the already-folded id is a harmless no-op
      Retrieval.deleteFromBm25Index(spark,
        Seq(2L).toDF("id"), "id", dir)
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10, scope = scope),
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", fresh,
          k = 10, scope = scope))
    } finally scope.release()
  }

  test("append crash window is invisible; the retry lands exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("bm25crash").toString
    val base = corpus.where(col("doc_id") <= 3)
    val batch = corpus.where(col("doc_id") > 3)
    Retrieval.writeBm25Index(base, "doc_id", "text", dir, numBuckets = 8)
    val probes = queries(1 -> "spark join", 2 -> "window")
    val scope = new Dedup.CacheScope
    try {
      // simulate a crash AFTER the generation-1 postings+stats writes
      // but BEFORE the CURRENT swap: run the real append, then roll
      // the pointer back to generation 0
      Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "CURRENT"),
        "0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the orphan generation is invisible: postings, df, N and avgdl
      // all still describe the base corpus (score-exact, not just
      // row-set-equal — a stats/postings divergence would shift scores)
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10),
        Retrieval.bm25(base, "doc_id", "text", probes, "query_id",
          "query_text", k = 10, scope = scope))
      // the retry overwrites the orphan and commits: batch lands
      // exactly once, never doubled
      Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
      assertSameRows(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text", dir,
          k = 10),
        Retrieval.bm25(corpus, "doc_id", "text", probes, "query_id",
          "query_text", k = 10, scope = scope))
    } finally scope.release()
  }

  test("bm25 index probe prunes postings to the query-term buckets") {
    val dir = java.nio.file.Files.createTempDirectory("bm25prune").toString
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, numBuckets = 16)
    val plan = Retrieval.bm25AgainstIndex(
        queries(1 -> "spark"), "query_id", "query_text", dir, k = 5)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .filter(_.contains("PartitionFilters"))
      .find(_.contains("tbucket"))
    assert(pf.isDefined && pf.get.contains("tbucket#"),
      s"postings scan must carry a static tbucket partition filter:\n$plan")
  }

  test("bm25FlagAgainstIndex scores arriving docs with the index's stats") {
    val dir = java.nio.file.Files.createTempDirectory("bm25flag").toString
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, numBuckets = 8)
    val arriving = Seq(
      (100L, "spark spark join"), // matches both probe terms
      (101L, "window window"),    // matches neither
      (102L, "")).toDF("doc_id", "text")
    val got = Retrieval.bm25FlagAgainstIndex(arriving, "doc_id", "text",
        Seq(1 -> "spark join"), dir)
      .as[(Long, Int, Double)].collect().toList
    assert(got.map(_._1) == List(100L), got.toString)
    // exact arithmetic twin: idf from the INDEX corpus (N=5, df from
    // tfMaps), tf/dl from the ARRIVING doc
    val dfSpark = tfMaps.count(_._2.contains("spark")).toLong
    val dfJoin = tfMaps.count(_._2.contains("join")).toLong
    val avgdl = tfMaps.map(_._2.values.sum).sum.toDouble / 5
    def ci(df: Long, tf: Double, dl: Double) = {
      val idf = (5 - df + 0.5) / (df + 0.5)
      math.floor(idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) * 1e6 + 0.5).toLong
    }
    val want = (ci(dfSpark, 2.0, 3.0) + ci(dfJoin, 1.0, 3.0)) / 1e6
    assert(got.head._3 == want, s"got ${got.head._3}, want $want")
  }

  test("bm25AgainstIndex: token-less and all-miss query sets are empty") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idxempty").toString
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, numBuckets = 8)
    val scope = new Dedup.CacheScope
    try {
      // no tokens → empty bucket list → isin() over nothing
      assert(Retrieval.bm25AgainstIndex(
        queries(1 -> "   "), "query_id", "query_text", dir, k = 3,
        scope = scope).isEmpty)
      // tokens that hit buckets but no postings row
      assert(Retrieval.bm25AgainstIndex(
        queries(1 -> "zzz qqq"), "query_id", "query_text", dir, k = 3,
        scope = scope).isEmpty)
    } finally scope.release()
  }

  test("bm25FlagAgainstIndex: token-less queries flag nothing, never crash") {
    val dir = java.nio.file.Files.createTempDirectory("bm25flagempty").toString
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, numBuckets = 8)
    val arriving = Seq((100L, "spark")).toDF("doc_id", "text")
    // all-empty query set: empty result, correct schema
    val none = Retrieval.bm25FlagAgainstIndex(arriving, "doc_id", "text",
      Seq(1 -> "", 2 -> "   "), dir)
    assert(none.columns.toSeq == Seq("doc_id", "query_id", "score"))
    assert(none.isEmpty)
    // mixed: the empty query drops, the real one still scores
    val mixed = Retrieval.bm25FlagAgainstIndex(arriving, "doc_id", "text",
        Seq(1 -> "", 2 -> "spark"), dir)
      .select("doc_id", "query_id").as[(Long, Int)].collect().toSet
    assert(mixed == Set((100L, 2)), mixed.toString)
  }

  test("bm25FlagAgainstIndex is stateless and runs on a stream unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bm25flagstream").toString
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, numBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val flagged = Retrieval.bm25FlagAgainstIndex(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      Seq(1 -> "spark join", 2 -> "strategy"), dir)
    assert(flagged.isStreaming)
    val q = flagged.writeStream.format("memory").queryName("bm25_flags")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(100L -> "spark shuffle", 101L -> "nothing relevant")
      q.processAllAvailable()
      mem.addData(102L -> "join strategy notes")
      q.processAllAvailable()
      val rows = spark.table("bm25_flags")
        .select("doc_id", "query_id").as[(Long, Int)].collect().toSet
      // 100 hits q1 (spark); 102 hits q1 (join) and q2 (strategy);
      // 101 hits nothing
      assert(rows == Set((100L, 1), (102L, 1), (102L, 2)), rows.toString)
      // batch twin over the same rows emits the identical flag set
      val batchRows = Retrieval.bm25FlagAgainstIndex(
          Seq(100L -> "spark shuffle", 101L -> "nothing relevant",
            102L -> "join strategy notes").toDF("doc_id", "text"),
          "doc_id", "text", Seq(1 -> "spark join", 2 -> "strategy"), dir)
        .select("doc_id", "query_id").as[(Long, Int)].collect().toSet
      assert(batchRows == rows)
    } finally q.stop()
  }

  test("bm25 plan: query vocab broadcast-filters postings, topk is a heap") {
    val scope = new Dedup.CacheScope
    try {
      val plan = Retrieval.bm25(corpus, "doc_id", "text",
          queries(1 -> "spark join"), "query_id", "query_text", k = 3,
          scope = scope)
        .queryExecution.executedPlan.toString
      assert(plan.contains("topk_rows"),
        s"expected the bounded topk_rows heap, not a window sort:\n$plan")
      assert(!plan.contains("Window"),
        s"no window sort should appear in the bm25 plan:\n$plan")
      val broadcasts = plan.linesIterator
        .count(_.contains("BroadcastExchange"))
      assert(broadcasts >= 3, // qvocab semi-filter, qterms, dfreq, stats
        s"expected broadcast joins for the query-side tables:\n$plan")
    } finally scope.release()
  }

  private lazy val phraseCorpus = Seq(
    (1L, "a b c a b c a b"),
    (2L, "a a a a"),
    (3L, "b a"),
    (4L, "a b a b a"),
    (5L, "")) // token-less: can never match
    .toDF("doc_id", "text")

  private def phraseQueries(qs: (Int, String)*) =
    qs.toSeq.toDF("query_id", "phrase")

  private def runPhrase(qs: (Int, String)*): Map[Int, Seq[(Int, Long, Long)]] =
    Retrieval.phraseSearch(phraseCorpus, "doc_id", "text",
        phraseQueries(qs: _*), "query_id", "phrase", k = 10)
      .select("query_id", "rank", "doc_id", "n_occurrences")
      .as[(Int, Int, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq).toMap

  test("phraseSearch counts consecutive-run occurrences, overlaps included") {
    val out = runPhrase(1 -> "a b", 2 -> "a a", 3 -> "a b a")
    // "a b": doc1 at anchors 0/3/6, doc4 at 0/2; doc3 is "b a" — no
    assert(out(1) == Seq((1, 1L, 3L), (2, 4L, 2L)))
    // "a a": doc2's run of four = THREE overlapping occurrences
    assert(out(2) == Seq((1, 2L, 3L)))
    // repeated-term phrase: each qpos needs its own aligned position
    assert(out(3) == Seq((1, 4L, 2L)))
  }

  test("phraseSearch: single term degenerates to tf, ties rank by doc id") {
    val out = runPhrase(1 -> "a")
    // tf(a): doc2=4, doc1=3, doc4=3 (tie → smaller id first), doc3=1
    assert(out(1) == Seq((1, 2L, 4L), (2, 1L, 3L), (3, 4L, 3L), (4, 3L, 1L)))
  }

  test("phraseSearch: zero-match and token-less queries emit no rows") {
    assert(runPhrase(1 -> "z q", 2 -> "  ").isEmpty)
  }

  test("phraseFlag counts equal phraseSearch occurrences pair-for-pair") {
    val qs = Seq(1 -> "a b", 2 -> "a a", 3 -> "a b a", 4 -> "a")
    val flag = Retrieval.phraseFlag(phraseCorpus, "doc_id", "text", qs)
      .select("query_id", "doc_id", "n_occurrences")
      .as[(Int, Long, Long)].collect().toSet
    val search = Retrieval.phraseSearch(phraseCorpus, "doc_id", "text",
        phraseQueries(qs: _*), "query_id", "phrase", k = 100)
      .select("query_id", "doc_id", "n_occurrences")
      .as[(Int, Long, Long)].collect().toSet
    assert(flag == search,
      s"flag=$flag\nsearch=$search")
  }

  test("phraseFlag is stateless and runs on a stream unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val qs = Seq(1 -> "hash join", 2 -> "scan")
    val flagged = Retrieval.phraseFlag(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", qs)
    assert(flagged.isStreaming)
    val q = flagged.writeStream.format("memory").queryName("phrase_flags")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(100L -> "the hash join path", 101L -> "join hash only")
      q.processAllAvailable()
      mem.addData(102L -> "scan scan scan")
      q.processAllAvailable()
      val rows = spark.table("phrase_flags")
        .select("doc_id", "query_id", "n_occurrences")
        .as[(Long, Int, Long)].collect().toSet
      // 100 contains "hash join" once; 101 has both words, wrong order;
      // 102 has three "scan" occurrences
      assert(rows == Set((100L, 1, 1L), (102L, 2, 3L)), rows.toString)
      val batchRows = Retrieval.phraseFlag(
          Seq(100L -> "the hash join path", 101L -> "join hash only",
            102L -> "scan scan scan").toDF("doc_id", "text"),
          "doc_id", "text", qs)
        .select("doc_id", "query_id", "n_occurrences")
        .as[(Long, Int, Long)].collect().toSet
      assert(batchRows == rows)
    } finally q.stop()
  }

  test("phraseSearch plan: one alignment join, heap top-k, no window") {
    val scope = new Dedup.CacheScope
    try {
      val plan = Retrieval.phraseSearch(phraseCorpus, "doc_id", "text",
          phraseQueries(1 -> "a b"), "query_id", "phrase", k = 3,
          scope = scope)
        .queryExecution.executedPlan.toString
      assert(plan.contains("topk_rows"),
        s"expected the bounded topk_rows heap:\n$plan")
      assert(!plan.contains("Window"),
        s"no window sort should appear in the phrase plan:\n$plan")
      assert(plan.linesIterator.count(_.contains("BroadcastExchange")) >= 2,
        s"query terms and lengths must broadcast:\n$plan")
    } finally scope.release()
  }

  test("rrfFuse: consensus outranks a single-list #1; absent sides contribute nothing; ties break by id") {
    // list A: 10 best, 20 second, 30 third. list B: 20 best, 10 second,
    // 40 third. Doc 20 (ranks 2+1) and doc 10 (ranks 1+2) tie on the
    // symmetric rrf sum and MUST order by id; both outrank the
    // single-list #1s would-be winner if fusion ignored consensus.
    val a = Seq((1, 10L, 1), (1, 20L, 2), (1, 30L, 3))
      .toDF("query_id", "id", "rank")
    val b = Seq((1, 20L, 1), (1, 10L, 2), (1, 40L, 3))
      .toDF("query_id", "id", "rank")
    val fused = Retrieval.rrfFuse(a, b, "query_id", "id", "rank", k = 4)
      .select("rank", "id", "rrf").as[(Int, Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(fused.map(_._2) == Seq(10L, 20L, 30L, 40L), fused.toString)
    // the tied pair carries the identical two-term sum
    assert(fused(0)._3 == fused(1)._3)
    assert(fused(0)._3 == 1.0 / 61 + 1.0 / 62)
    // single-list docs carry exactly their one reciprocal
    assert(fused(2)._3 == 1.0 / 63 && fused(3)._3 == 1.0 / 63)
    // k truncates per query and rank is dense from 1
    val top1 = Retrieval.rrfFuse(a, b, "query_id", "id", "rank", k = 1)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    assert(top1 == Seq((1, 10L)))
  }

  test("indexed hybrid serving: BM25-index + IVF-index probes fuse identically to the in-memory retrievers") {
    // the s21 entry fuses the in-memory retrievers; production serves
    // from the PERSISTED indexes — this pins that the served fusion
    // is row-identical, i.e. rrfFuse composes with the index
    // lifecycle without a parity gap anywhere in the chain
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val probes = Seq((1, "hash join table"),
      (2, "window agg sort stream"), (3, "fast vector scan"))
      .toDF("query_id", "query_text")
    val qvecs = emb.where(col("vec_id").isin(7L, 14L, 21L))
      .select((col("vec_id") / 7).cast("int").as("query_id"),
        col("embedding"))
    val bmDir = java.nio.file.Files
      .createTempDirectory("graft-hyb-bm").toString
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft-hyb-ivf").toString
    val scope = new Dedup.CacheScope
    try {
      Retrieval.writeBm25Index(docs, "doc_id", "text", bmDir)
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", ivfDir,
        nCells = 16)
      def rank(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("rank", row_number().over(Window
          .partitionBy("query_id")
          .orderBy(col("cosine").desc, col("id").asc)))
      val served = Retrieval.rrfFuse(
        Retrieval.bm25AgainstIndex(probes, "query_id", "query_text",
            bmDir, k = 20, scope = scope)
          .select(col("query_id"), col("doc_id").as("id"), col("rank")),
        rank(Similarity.knnIvfBatchIndexed(spark, ivfDir, qvecs,
          "query_id", "embedding", k = 20, nProbe = 4)),
        "query_id", "id", "rank", k = 10)
      val inMemory = Retrieval.rrfFuse(
        Retrieval.bm25(docs, "doc_id", "text", probes, "query_id",
            "query_text", k = 20, scope = scope)
          .select(col("query_id"), col("doc_id").as("id"), col("rank")),
        rank(Similarity.knnIvfBatch(qvecs, "query_id", "embedding",
          emb, "vec_id", "embedding", k = 20, nCells = 16, nProbe = 4)),
        "query_id", "id", "rank", k = 10)
      assertSameRows(served, inMemory)
      assert(served.count() == 30)
    } finally scope.release()
  }

  test("rrfFuse: queries fuse independently; a query present in one list only still ranks") {
    val a = Seq((1, 10L, 1), (2, 50L, 1)).toDF("query_id", "id", "rank")
    val b = Seq((1, 10L, 1)).toDF("query_id", "id", "rank")
    val fused = Retrieval.rrfFuse(a, b, "query_id", "id", "rank", k = 5)
      .select("query_id", "rank", "id", "rrf")
      .as[(Int, Int, Long, Double)].collect().toSet
    assert(fused == Set((1, 1, 10L, 2.0 / 61), (2, 1, 50L, 1.0 / 61)),
      fused.toString)
  }
}

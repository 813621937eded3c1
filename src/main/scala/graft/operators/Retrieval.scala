package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse-lexical retrieval over a document corpus — the BM25
  * counterpart to [[Similarity]]'s dense-vector kNN family. Training-
  * data pipelines use this for benchmark decontamination sweeps,
  * targeted corpus slicing ("every doc matching these probe queries"),
  * and hard-negative mining next to the embedding index.
  *
  * Reference analogue: the reference engine exposes only relational
  * scan/filter/agg surface (logical_plan.rs:37-203); retrieval is part
  * of this library's LLM-pipeline extension, like the dedup/ANN
  * families.
  */
object Retrieval {

  /** BM25 top-k retrieval of `docs` for a (small) query set.
    *
    * Scoring is Okapi BM25 with the RATIONAL Robertson–Spärck Jones
    * idf `(N − df + 0.5) / (df + 0.5)` — the monotone core of the
    * canonical `ln`-idf, kept log-free for the same reason t07's
    * tf·idf is rational: every arithmetic step is a fixed sequence of
    * IEEE double ops (int-to-double casts, +, ×, ÷), which two engines
    * reproduce bit-identically, while `ln` is correctly-rounded in
    * neither and would leak ±1-ulp rank flips into the oracle compare.
    * (Per term the two idfs rank identically; across a multi-term sum
    * the rational form weights rare terms more steeply — a documented
    * variant choice, not an approximation bug.) The per-term
    * contribution is rounded to 6 decimals and scaled to a LONG before
    * the per-(query, doc) sum, so the sum is exact integer arithmetic
    * — a double sum's value depends on partition arrival order and
    * could not be oracle-gated.
    *
    * Scale shape (the part that matters at 100 TB):
    *  - the corpus is tokenized ONCE (`scope`-persisted token arrays,
    *    the hashedCorpus contract) and the query set is small by
    *    declaration: its distinct-term vocabulary BROADCASTS into a
    *    semi-filter on the exploded tokens BEFORE any aggregation, so
    *    the only shuffle in the whole pipeline carries query-term
    *    tokens — a vanishing corpus fraction — never full postings;
    *  - document frequencies are computed AFTER the filter (per-term
    *    df over filtered tokens equals corpus-wide df for those
    *    terms), so no vocabulary-sized aggregate is ever built;
    *  - doc length rides the explode as a per-row column into the tf
    *    groupBy key (it is functionally dependent on doc_id — the
    *    Lucene norms denormalization), so there is NO doc-length join
    *    at all; corpus stats are one narrow 1-row aggregate;
    *  - top-k per query rides the bounded [[graft.functions.TopK]]
    *    heap (k rows per query per partition on the exchange), never a
    *    corpus-wide window sort; ties rank by smaller doc id.
    *
    * Output: (query_id, rank, doc_id, score), rank 1 = best. Queries
    * whose terms miss the corpus entirely emit no rows; docs with no
    * tokens can never match.
    */
  def bm25(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      scope: Dedup.CacheScope = Dedup.batchScope): DataFrame = {
    val toked = scope.persistTracked(docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("_bm_toks")))
    // N counts ALL docs (token-less ones included — they shorten
    // avgdl); one narrow no-shuffle aggregate over the cached arrays
    // (measured: re-tokenizing for this agg costs ~2× the whole query)
    val stats = toked.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("_bm_toks"))), lit(0)).cast("long")
        .as("n_tokens"))
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    val qvocab = qterms.select("term").distinct()
    val matched = toked
      .select(col("doc_id"), size(col("_bm_toks")).cast("long").as("dl"),
        explode(col("_bm_toks")).as("term"))
      .join(broadcast(qvocab), Seq("term"))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    scoreTopK(matched, stats, qterms, k, k1, b)
  }

  /** Positional exact-phrase search: rank documents by how many times
    * the query phrase occurs as a CONSECUTIVE token run — the
    * "quoted query" next to [[bm25]]'s bag-of-words ranking, and the
    * sharper tool for targeted corpus slicing ("every doc containing
    * this exact benchmark prompt").
    *
    * The position-alignment formulation: explode both sides WITH
    * positions, join on term, and bucket every (doc pos, query pos)
    * match by `anchor = pos − qpos`. An anchor holding matches for ALL
    * qlen query positions is one complete occurrence starting there.
    * One join + two aggregates for ANY phrase length — never the
    * per-term self-join chain (a 6-word phrase would cost 5 postings
    * joins, re-shuffling postings each step). Matched (anchor, qpos)
    * pairs are unique by construction — pos = anchor + qpos pins the
    * doc position — so a plain count IS the distinct-qpos count, and
    * full coverage forces qpos = 0 to match, making anchors ≥ 0
    * automatic. A phrase with a repeated term works for the same
    * reason: each qpos needs its own aligned doc position.
    *
    * Scale shape: corpus tokenized once (the bm25 `scope` contract);
    * the tiny phrase-term table broadcasts into the exploded tokens
    * BEFORE any shuffle, so the only exchanges carry query-term
    * positions — keyed (query, doc, anchor) then (query, doc), both
    * map-side combined; top-k per query is the bounded TopK heap,
    * never a window sort.
    *
    * Output: (query_id, rank, doc_id, n_occurrences), rank 1 = most
    * occurrences, ties → smaller doc id; zero-match queries emit no
    * rows. A single-term phrase degenerates to tf ranking.
    */
  def phraseSearch(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, phraseCol: String,
      k: Int, scope: Dedup.CacheScope = Dedup.batchScope): DataFrame = {
    require(k >= 1, "phraseSearch: k must be positive")
    val toked = scope.persistTracked(docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("_ph_toks")))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      posexplode(TextAnalysis.tokens(col(phraseCol)))
        .as(Seq("qpos", "term")))
    val qlen = qterms.groupBy("query_id").agg(count(lit(1)).as("qlen"))
    val anchors = toked
      .select(col("doc_id"), posexplode(col("_ph_toks")).as(Seq("pos", "term")))
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"),
        (col("pos") - col("qpos")).as("anchor"))
      .agg(count(lit(1)).as("hits"))
    val occ = anchors
      .join(broadcast(qlen), Seq("query_id"))
      .where(col("hits") === col("qlen"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
    occ.groupBy("query_id")
      .agg(graft.functions.TopK.topkLong(
        col("n_occurrences"), col("doc_id"), k).as("_t"))
      .select(col("query_id"), posexplode(col("_t")).as(Seq("_p", "_w")))
      .select(col("query_id"), (col("_p") + 1).cast("int").as("rank"),
        col("_w.id").as("doc_id"), col("_w.ord").as("n_occurrences"))
  }

  /** [[phraseSearch]]'s occurrence count as a PURE per-row array
    * expression: anchors are `sequence(0, |w| − m)`, each sliced
    * window compared whole against the phrase literal. No join, no
    * aggregate, no state — which is what makes [[phraseFlag]] run on
    * a stream unchanged. O(|w|·m) per row vs the alignment join's
    * shuffle: the right trade exactly when the phrase set is fixed
    * and small (ingest-time flagging), while phraseSearch's join form
    * wins for ranked retrieval over a persisted corpus.
    */
  def phraseCountCol(text: Column, phraseTerms: Seq[String]): Column = {
    require(phraseTerms.nonEmpty && phraseTerms.forall(_.nonEmpty),
      "phraseCountCol: phrase terms must be non-empty")
    val w = TextAnalysis.tokens(text)
    val m = phraseTerms.length
    val p = typedlit(phraseTerms)
    when(size(w) < m, lit(0)).otherwise(
      size(filter(transform(sequence(lit(0), size(w) - lit(m)),
        i => slice(w, i + lit(1), lit(m))), s => s === p)))
  }

  /** Ingest-time exact-phrase flagging: every (doc, query) pair where
    * the phrase occurs at least once, with its occurrence count —
    * the quoted-query twin of [[bm25FlagAgainstIndex]], and the
    * streaming companion to [[phraseSearch]] (same tokenization, same
    * occurrence semantics; the spec pins per-pair count equality).
    * The phrase set is a bounded driver-side literal — per row the
    * counts compute in one narrow projection (one explode over
    * |queries| structs), stateless, so the SAME code runs on a batch
    * frame or a readStream.
    *
    * Output: (query_id, doc_id, n_occurrences > 0 rows only).
    */
  def phraseFlag(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)]): DataFrame = {
    require(queries.nonEmpty, "phraseFlag: empty query set")
    val parsed = queries.map { case (qid, phrase) =>
      qid -> phrase.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }
    require(parsed.forall(_._2.nonEmpty),
      "phraseFlag: every phrase needs at least one token")
    val counts = array(parsed.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        phraseCountCol(col(textCol), terms).cast("long")
          .as("n_occurrences"))
    }: _*)
    docs.select(col(idCol).as("doc_id"), explode(counts).as("_q"))
      .select(col("_q.query_id"), col("doc_id"), col("_q.n_occurrences"))
      .where(col("n_occurrences") > 0)
  }

  /** The query side: (query_id, term), per-query distinct. */
  private def queryTerms(
      queries: DataFrame, queryIdCol: String, queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol))))
        .as("term"))

  /** Shared scoring tail of the in-memory and persisted-index paths.
    * `matched` rows are (doc_id, term, dl, tf), unique per (doc, term)
    * and corpus-complete for the query terms — so per-term row counts
    * ARE document frequencies.
    */
  private def scoreTopK(
      matched: DataFrame, stats: DataFrame, qterms: DataFrame,
      k: Int, k1: Double, b: Double): DataFrame = {
    require(k >= 1, "bm25: k must be positive")
    require(k1 > 0 && b >= 0 && b <= 1, s"bm25: need k1 > 0, b in [0,1]")
    // matched feeds the df aggregate AND the score join; the in-memory
    // path deliberately does NOT cache it — its subtree reads the
    // already-cached token arrays, and materializing the intermediate
    // measured ~2× slower than recomputing it (cache write + lost
    // pipelining). The index path caches before calling, because there
    // the subtree is a parquet scan worth running once.
    // query-vocab-sized, broadcastable by construction
    val dfreq = matched.groupBy("term").agg(count(lit(1)).as("doc_freq"))

    val tfD = col("tf").cast("double")
    val idf = (col("n_docs") - col("doc_freq") + lit(0.5)) /
      (col("doc_freq") + lit(0.5))
    val avgdl = col("n_tokens").cast("double") / col("n_docs")
    val contrib = idf * (tfD * (lit(k1) + lit(1.0))) /
      (tfD + lit(k1) * ((lit(1.0) - lit(b)) +
        lit(b) * (col("dl").cast("double") / avgdl)))

    val scores = matched
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_bm_ci",
        floor(contrib * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum("_bm_ci").as("score_i"))

    // the heap ranks on the RAW long score (TopK long-ordinal mode):
    // a double-cast ord would lose exactness past 2^53, which a
    // 1e9-doc corpus's rare-term idf sums genuinely reach
    // (idf ≈ 0.67·N at df=1 ⇒ a single contribution ~1.5e15 scaled;
    // a 6-term query sum crosses 2^53 ≈ 9.0e15)
    scores.groupBy("query_id")
      .agg(graft.functions.TopK.topkLong(
        col("score_i"), col("doc_id"), k).as("_t"))
      .select(col("query_id"), posexplode(col("_t")).as(Seq("_p", "_w")))
      .select(col("query_id"), (col("_p") + 1).cast("int").as("rank"),
        col("_w.id").as("doc_id"),
        (col("_w.ord") / lit(1e6)).as("score"))
  }

  /** One batch's index rows from a bound (doc_id, _bm_toks)
    * projection: (doc_id, term, dl, tf) — dl denormalized into every
    * posting (the Lucene norms layout) so probes never pay a
    * doc-length join.
    */
  private def postingsFromToked(toked: DataFrame): DataFrame =
    toked
      .select(col("doc_id"), size(col("_bm_toks")).cast("long").as("dl"),
        explode(col("_bm_toks")).as("term"))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))

  /** 1-row (n_docs, n_tokens) over the same bound projection. */
  private def statsOfToked(toked: DataFrame): DataFrame =
    toked.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("_bm_toks"))), lit(0)).cast("long")
        .as("n_tokens"))

  /** One committed generation g of a persisted BM25 index — its
    * record, entry g of the index's [[graft.sources.GenLog]] at
    * `$path/commits`: the term-bucket count, the oldest postings
    * generation it reads (`base`, moved only by [[compactBm25Index]]),
    * the postings trees of generations base..g (directories relative
    * to the index) and the cumulative corpus stats. The record is the
    * COMMIT: a generation's postings are written first, to a
    * writer-private tree (`postings/gen=<g>/writer=<id>`) no record
    * names yet, and become visible only when the record is published.
    * Two writers that both read g race to publish g+1; the loser fails
    * with a conflict, drops its own tree and never touches the
    * winner's.
    */
  private[graft] final case class Bm25Commit(numBuckets: Int, base: Int,
      postings: Seq[String], nDocs: Long, nTokens: Long)

  private def commitLog(path: String): String = s"$path/commits"

  /** Whether `path` holds a BM25 index — its commit log exists. */
  private[operators] def isBm25Index(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(commitLog(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The committed generation and its record — one listing, one read. */
  private[graft] def committed(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Bm25Commit) = {
    val entry = graft.sources.GenLog.latest(spark, commitLog(path))
    require(entry.nonEmpty, s"Retrieval: no BM25 index at $path")
    val (g, bytes) = entry.get
    (g.toInt, graft.sources.GenLog.json.readValue(bytes, classOf[Bm25Commit]))
  }

  /** The postings trees `rec` reads, as paths. */
  private[operators] def postingsTrees(path: String,
      rec: Bm25Commit): Seq[String] =
    rec.postings.map(d => s"$path/$d")

  /** A fresh writer-private postings tree for generation `gen`. */
  private def newTree(gen: Int): String =
    s"postings/gen=$gen/writer=${java.util.UUID.randomUUID()}"

  /** Publish `rec` as generation `gen`, whose own tree is its last
    * postings tree. When another writer published `gen` first, drop
    * that tree and fail with a conflict.
    */
  private def publishGen(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Int, rec: Bm25Commit): Unit =
    if (!graft.sources.GenLog.publish(spark, commitLog(path), gen,
        graft.sources.GenLog.json.writeValueAsBytes(rec))) {
      val p = new org.apache.hadoop.fs.Path(s"$path/${rec.postings.last}")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      throw new IllegalStateException(
        s"Retrieval: commit conflict at $path — generation $gen was " +
          "published by another writer first; nothing of this commit " +
          "was published. Re-read the index and retry.")
    }

  /** Committed postings scan: only the trees `rec` names are listed
    * (explicit paths + basePath, so a crashed or losing writer's
    * orphan tree — or a vacuumed pre-compaction one — is never even
    * read for footers), with `gen` and `tbucket` both available as
    * partition columns for pruning.
    */
  private[operators] def committedPostings(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rec: Bm25Commit): DataFrame =
    spark.read.option("basePath", s"$path/postings")
      .parquet(postingsTrees(path, rec): _*).drop("writer")

  /** One batch's postings, bucketed, written to `dir`, and the batch's
    * (n_docs, n_tokens) — the token-array projection persists locally
    * and is released before returning (both consume it eagerly, the
    * writeLshIndex pattern).
    */
  private def writeBatch(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int, dir: String): (Long, Long) = {
    val toked = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("_bm_toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      postingsFromToked(toked)
        .withColumn("tbucket",
          pmod(xxhash64(col("term")), lit(numBuckets.toLong)).cast("int"))
        .write.partitionBy("tbucket").parquet(dir)
      val batch = statsOfToked(toked).head()
      (batch.getLong(0), batch.getLong(1))
    } finally toked.unpersist(false)
  }

  /** Persist an inverted index for [[bm25AgainstIndex]]: postings
    * hash-partitioned into `numBuckets` term buckets (a probe reads
    * only its query terms' buckets — the partition-pruning contract
    * the IVF cells and LSH bands use) plus the corpus stats.
    * The corpus is tokenized ONCE per write.
    *
    * Layout is generational for failure-atomic appends: postings live
    * under `postings/gen=<g>/writer=<id>/tbucket=<b>`, and generation
    * g's record under `commits/<g>` names them and carries the
    * CUMULATIVE stats — see [[Bm25Commit]] and [[appendToBm25Index]]
    * for the commit protocol. A path that already holds an index is
    * refused with the commit conflict.
    *
    * Sizing: a probe reads ~|query vocab| / numBuckets of the postings
    * bytes; more buckets prune harder but shrink files. At 100 TB
    * postings, 4-16k buckets keeps files in the GB range — the same
    * arithmetic as shuffle-partition sizing.
    */
  def writeBm25Index(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      numBuckets: Int = 64): Unit = {
    require(numBuckets > 0, "writeBm25Index: numBuckets must be positive")
    val tree = newTree(0)
    val (nDocs, nTokens) =
      writeBatch(docs, idCol, textCol, numBuckets, s"$path/$tree")
    publishGen(docs.sparkSession, path, 0,
      Bm25Commit(numBuckets, 0, Seq(tree), nDocs, nTokens))
  }

  /** Append a document batch to a persisted BM25 index, FAILURE-
    * ATOMICALLY: the batch's postings land in a fresh writer-private
    * generation-(g+1) tree, and only then does publishing record g+1,
    * which carries the new cumulative stats, commit them TOGETHER. A
    * crash anywhere before the publish leaves every reader — probes,
    * flaggers, and the next append — on generation g with postings,
    * df, n_docs and avgdl still mutually consistent; re-running the
    * append lands the batch exactly once. A concurrent append that
    * read the same g loses the publish and fails with a conflict,
    * leaving no trace. Batch doc ids must be new; re-ingesting an id
    * after a SUCCESSFUL commit would double its postings silently
    * (the exact-ledger admission operator is the dedup gate for
    * that).
    */
  def appendToBm25Index(
      docs: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    val (gen, rec) = committed(spark, path)
    val tree = newTree(gen + 1)
    val (nDocs, nTokens) =
      writeBatch(docs, idCol, textCol, rec.numBuckets, s"$path/$tree")
    publishGen(spark, path, gen + 1, rec.copy(postings = rec.postings :+ tree,
      nDocs = rec.nDocs + nDocs, nTokens = rec.nTokens + nTokens))
  }

  /** Compact a persisted BM25 index, FAILURE-ATOMICALLY: rewrite the
    * committed generations base..g into ONE fresh generation g+1 and
    * publish its record with base = g+1. The maintenance leg every
    * appended index eventually needs: each [[appendToBm25Index]] adds
    * a generation tree, so a probe of a long-lived index reads its
    * query buckets across N generations' files — compaction collapses
    * that back to one well-sized file set per bucket (the
    * Layout.compact story, index-shaped). LSM semantics without the
    * tree: appends are level-0 pushes, compaction is the full merge.
    *
    * Merging is a pure file rewrite — no re-tokenization, no
    * re-aggregation: (doc_id, term) rows are disjoint across
    * generations (append requires fresh doc ids), so the union IS the
    * merged posting list, and the cumulative stats row at g carries
    * over unchanged.
    *
    * Crash safety is the append protocol's: everything lands in
    * writer-private trees first; a crash before the publish leaves
    * readers on (g, base) with every old generation intact. Old
    * generations below the new base become garbage only AFTER the
    * commit; `vacuum = true` (default) then prunes their records and
    * deletes their trees — safe because no reader of the new record
    * ever lists them, and a crash mid-vacuum just leaves unreferenced
    * directories for the next compaction's vacuum.
    */
  def compactBm25Index(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vacuum: Boolean = true): Unit = {
    val (gen, rec) = committed(spark, path)
    // takedown fold (round 13): applicable tombstones leave the
    // rewrite physically, and the new cumulative stats row is the
    // corrected one — from the new base onward the tombstones are
    // below base and thus ignored by every probe, so a crash between
    // the commit and the vacuum below cannot double-subtract
    val ts = bm25Tombstones(spark, path, rec.base)
    val (tsDocs, tsToks) = tombstoneStatsAdjust(ts)
    val tree = newTree(gen + 1)
    postingsMinusTombstones(committedPostings(spark, path, rec), ts)
      .select("doc_id", "term", "dl", "tf", "tbucket")
      .write.partitionBy("tbucket").parquet(s"$path/$tree")
    publishGen(spark, path, gen + 1, Bm25Commit(rec.numBuckets, gen + 1,
      Seq(tree), rec.nDocs - tsDocs, rec.nTokens - tsToks))
    if (vacuum) {
      val conf = spark.sparkContext.hadoopConfiguration
      graft.sources.GenLog.prune(spark, commitLog(path), gen + 1)
      (rec.base to gen).foreach { g =>
        val p = new org.apache.hadoop.fs.Path(s"$path/postings/gen=$g")
        p.getFileSystem(conf).delete(p, true)
      }
      // folded tombstones are dead weight (below the new base);
      // dropping the tree is safe even mid-crash — leftovers are
      // ignored by the base guard until the next vacuum
      val tp = new org.apache.hadoop.fs.Path(s"$path/tombstones")
      tp.getFileSystem(conf).delete(tp, true)
    }
  }

  /** Takedown/delete for a persisted BM25 index (round 13): record
    * (doc_id, dl, gen_seen) tombstones under `path/tombstones`. Every
    * probe anti-joins the tombstone set out of its postings read AND
    * corrects the cumulative stats row (n_docs − |tombstones|,
    * n_tokens − Σdl), so a deleted doc is probe-invisible with EXACT
    * score parity to an index that never held it — df, idf and avgdl
    * all match (spec-pinned). `dl` rides the tombstone so the stats
    * correction never rescans postings at probe time.
    *
    * `gen_seen` (the committed generation at delete time) is the
    * fold marker: a tombstone applies only while `gen_seen >= base`.
    * [[compactBm25Index]] folds applicable tombstones into its
    * rewrite and moves base past them, so a tombstone left behind by
    * a crash between the compaction commit and its vacuum is
    * IGNORED, never double-subtracted from the already-corrected
    * stats. Deletes are idempotent (duplicate rows collapse in the
    * distinct'd read); deleting an id the index doesn't hold writes
    * nothing. A delete racing a running compaction may land a
    * tombstone the rewrite no longer honors — re-issue it against
    * the compacted index (same quiesce contract as the LSH lifecycle).
    *
    * Id lifecycle: [[appendToBm25Index]] already requires fresh doc
    * ids versus the committed tree, so a taken-down id cannot be
    * re-appended while its postings are physically present; after
    * the compaction folds it, the id is genuinely free and its
    * below-base tombstone no longer applies — reuse is then safe by
    * construction.
    */
  def deleteFromBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, idCol: String, path: String,
      maxTombstones: Long = Dedup.defaultMaxTombstones): Unit = {
    val (gen, rec) = committed(spark, path)
    // BM25 tombstones land only for ids the index actually HOLDS (the
    // postings join below filters the rest), so the guard must count
    // the held set, not the request — a bulk takedown feed of mostly-
    // absent candidate ids would otherwise be refused for rows that
    // would never be written (round-14 review fix). Persisting the
    // held frame makes the guard's count and the write one
    // computation.
    val held = committedPostings(spark, path, rec)
      .join(broadcast(ids.select(col(idCol).as("doc_id")).distinct()),
        Seq("doc_id"))
      .groupBy("doc_id").agg(max("dl").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Dedup.guardTombstoneScale("deleteFromBm25Index", path,
        held.count(), Dedup.pendingTombstoneCount(spark, path),
        maxTombstones)
      held.withColumn("gen_seen", lit(gen))
        .repartition(1).write.mode("append").parquet(s"$path/tombstones")
    } finally held.unpersist(false)
  }

  /** Applicable tombstones at `base` — None when the index has no
    * tombstone tree (the common case pays one existence check).
    */
  private def bm25Tombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      base: Int): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(s"$path/tombstones")
        .where(col("gen_seen") >= base)
        .select("doc_id", "dl").distinct())
    else None
  }

  private def postingsMinusTombstones(
      postings: DataFrame, ts: Option[DataFrame]): DataFrame =
    ts.map(t => postings.join(
        broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
      .getOrElse(postings)

  /** The 1-row (n_docs_deleted, n_tokens_deleted) correction — zero
    * row-free when no tombstones apply.
    */
  private def tombstoneStatsAdjust(ts: Option[DataFrame]): (Long, Long) =
    ts.map { t =>
      val r = t.agg(count(lit(1)).as("nd"),
        coalesce(sum("dl"), lit(0L)).cast("long").as("nt")).head()
      (r.getLong(0), r.getLong(1))
    }.getOrElse((0L, 0L))

  /** BM25 probe of a persisted index — identical results to [[bm25]]
    * on the indexed corpus (spec-pinned), without re-reading any
    * document text. The postings scan prunes to the query terms'
    * buckets via STATIC `isin` partition filters (the collected bucket
    * set is bounded by the query vocabulary — tiny by the same
    * declaration that lets it broadcast), so a 3-term probe of a
    * 64-bucket index reads ≤3 buckets, and at 100 TB a probe costs
    * ~|qvocab|/numBuckets of the postings bytes.
    */
  def bm25AgainstIndex(
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      path: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      scope: Dedup.CacheScope = Dedup.batchScope): DataFrame = {
    val spark = queries.sparkSession
    val (_, rec) = committed(spark, path)
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    // bounded collect: ≤ |query vocab| bucket ids
    val buckets = qterms
      .select(pmod(xxhash64(col("term")), lit(rec.numBuckets.toLong))
        .cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // takedown: tombstoned docs leave the postings read (so df counts
    // exclude them too — dfreq derives from `matched`) and the stats
    // row is corrected, giving exact parity with an index that never
    // held them
    val ts = bm25Tombstones(spark, path, rec.base)
    val matched = scope.persistTracked(postingsMinusTombstones(
      committedPostings(spark, path, rec)
        .where(col("tbucket").isin(buckets: _*))
        .join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .select("doc_id", "term", "dl", "tf"), ts))
    val (tsDocs, tsToks) = tombstoneStatsAdjust(ts)
    val stats = spark.createDataFrame(
        Seq((rec.nDocs - tsDocs, rec.nTokens - tsToks)))
      .toDF("n_docs", "n_tokens")
    scoreTopK(matched, stats, qterms, k, k1, b)
  }

  /** Ingest-time BM25 flagging: score ARRIVING documents against a
    * small query set using a persisted index's frozen corpus
    * statistics (df, N, avgdl) — the retrieval-scored cousin of the
    * n-gram decontamination flag: "does this incoming doc smell like
    * one of the benchmark probes?"
    *
    * Everything data-dependent is collected from the index at PLAN
    * time (per-query-term df rows + the 1-row stats — both bounded by
    * the query vocabulary), and each query's score compiles into one
    * per-row Column expression over the arriving doc's bound token
    * array: `Σ_t idf_t · sat(tf_t)` with `tf_t = |filter(toks, = t)|`.
    * No state, no shuffle, no per-batch aggregation — the operator is
    * a mapper, so it runs identically over a batch frame or a
    * `readStream` in append mode (batch-twin spec), and at 100 TB/day
    * ingest it costs one codegen'd pass per row.
    *
    * Arithmetic matches [[bm25]] exactly: same rational idf (driver
    * doubles replay the engine's IEEE sequence), same 6-decimal-scaled
    * long contributions, exact integer sum — so a flagged score equals
    * what [[bm25]] would report for that (doc, query) pair had the doc
    * been in a corpus with the index's statistics. A query term the
    * index has never seen gets df = 0 (maximal rational idf), not an
    * error. Docs flag when score > `threshold`; emitted rows are
    * (id, query_id, score).
    */
  def bm25FlagAgainstIndex(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], path: String,
      threshold: Double = 0.0, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "bm25FlagAgainstIndex: empty query set")
    require(k1 > 0 && b >= 0 && b <= 1, s"bm25: need k1 > 0, b in [0,1]")
    val spark = docs.sparkSession
    val (_, rec) = committed(spark, path)
    val ts = bm25Tombstones(spark, path, rec.base)
    val (tsDocs, tsToks) = tombstoneStatsAdjust(ts)
    val (nDocs, nTokens) = (rec.nDocs - tsDocs, rec.nTokens - tsToks)
    require(nDocs > 0, s"bm25FlagAgainstIndex: empty index at $path")
    val avgdl = nTokens.toDouble / nDocs

    // driver-side twin of TextAnalysis.tokens: the empty filter makes
    // trim irrelevant, Locale.ROOT keeps lowercasing locale-free
    // (matching Spark's UTF8String lower on the ASCII queries this is
    // meant for)
    val qtoks: Seq[(Int, Seq[String])] = queries.map { case (qid, text) =>
      qid -> text.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
        .filter(_.nonEmpty).distinct
    }
    val vocab = qtoks.flatMap(_._2).distinct
    // df per query term from the index — one partition-pruned probe of
    // the term buckets, ≤ |vocab| result rows
    val numBuckets = rec.numBuckets
    val dfMap: Map[String, Long] = {
      import spark.implicits._
      val vdf = vocab.toDF("term")
        .withColumn("tb",
          pmod(xxhash64(col("term")), lit(numBuckets.toLong)).cast("int"))
      val tbs = vdf.select("tb").distinct().collect().map(_.getInt(0)).toSeq
      postingsMinusTombstones(
        committedPostings(spark, path, rec)
          .where(col("tbucket").isin(tbs: _*)), ts)
        .join(broadcast(vdf.select("term")), Seq("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    // bind the token array once (the t20 lambda trap), dl off the
    // bound array in a second projection
    val toked = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_bm_toks"))
      .withColumn("_bm_dl", size(col("_bm_toks")).cast("double"))
    def scoreExpr(terms: Seq[String]) = terms.map { t =>
      val df = dfMap.getOrElse(t, 0L)
      val idf = (nDocs - df + 0.5) / (df + 0.5)
      val tf = size(filter(col("_bm_toks"), x => x === lit(t)))
        .cast("double")
      val contrib = (lit(idf) * (tf * lit(k1 + 1.0))) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("_bm_dl") / lit(avgdl))))
      // a term with tf = 0 contributes 0/denominator = 0 exactly
      floor(contrib * lit(1e6) + lit(0.5)).cast("long")
    }.reduce(_ + _)

    // a query whose text tokenizes to nothing can flag nothing — drop
    // it here (its scoreExpr would be an empty reduce)
    val scorable = qtoks.filter(_._2.nonEmpty)
    if (scorable.isEmpty)
      // typed empty result, same schema as the scored path
      toked.select(col(idCol), lit(0).as("query_id"),
        lit(0.0).as("score")).where(lit(false))
    else
      // ALL query scores ride one array in one projection — a union of
      // per-query branches would scan and re-tokenize the corpus
      // |queries| times (Spark does not dedupe union subtrees), which
      // is exactly what "one codegen'd pass per row" forbids
      toked.select(col(idCol), explode(array(scorable.map {
          case (qid, terms) => struct(lit(qid).as("query_id"),
            (scoreExpr(terms) / lit(1e6)).as("score"))
        }: _*)).as("_bm_q"))
        .select(col(idCol), col("_bm_q.query_id").as("query_id"),
          col("_bm_q.score").as("score"))
        .where(col("score") > threshold)
  }

  /** Reciprocal-rank fusion of two per-query rankings (round 16 —
    * hybrid retrieval: the standard way to combine a lexical BM25
    * list with a dense ANN list without calibrating their
    * incomparable scores; Cormack et al., SIGIR'09). Both inputs
    * carry (queryCol, idCol, rankCol) with rank 1 = best; an id
    * missing from one list simply contributes nothing from it:
    *
    *   rrf(id) = Σ_lists 1 / (c + rank_list(id))
    *
    * with the conventional c = 60 damping ties toward consensus.
    * Output: (query_id, rank, id, rrf), top `k` per query, ties →
    * smaller id. The fused score is a FIXED two-term IEEE expression
    * (left list first, absent side +0.0), so it is bit-deterministic
    * and oracle-replayable.
    *
    * Scale shape: the inputs are top-k lists — ≤ |queries|·k rows
    * each — so the full-outer merge and the per-query window run on
    * frames BOUNDED BY THE PROBE SET, never the corpus; the corpus
    * work happened upstream in the two retrievers. No broadcast hints
    * needed: AQE sees two tiny sides.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, queryCol: String,
      idCol: String, rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(k >= 1, "rrfFuse: k must be positive")
    require(c >= 0, "rrfFuse: damping c must be >= 0")
    def side(df: DataFrame, out: String) =
      df.select(col(queryCol).as("query_id"), col(idCol).as("id"),
        (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double")))
          .as(out))
    val fused = side(a, "_rrf_a")
      .join(side(b, "_rrf_b"), Seq("query_id", "id"), "full_outer")
      .select(col("query_id"), col("id"),
        (coalesce(col("_rrf_a"), lit(0.0)) +
          coalesce(col("_rrf_b"), lit(0.0))).as("rrf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("id").asc)
    fused
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("rrf"))
  }
}

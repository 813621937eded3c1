package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Multimodal, Packing, Similarity, TextAnalysis}
import graft.queries.Relational.Q

/** SparkEntry wiring for the training-data pipeline operators
  * (SURVEY.md §2: dedup, similarity, text analysis, multimodal).
  * Entries without a DuckDB-expressible oracle are rows-only checks;
  * each is still fully deterministic (fixed seeds, total ordering).
  */
/** Shared fixtures, cross-engine rounding helpers, and the large
  * generated oracle-SQL fragments used by the Pipeline query files
  * (round-13 split; formerly private members of the monolithic
  * Pipeline object — scoped to the queries package).
  */
private[queries] object PipelineShared {

  /** A per-run unique temp directory that is recursively deleted at
    * JVM exit (r18 ADVICE): c11-style queries materialize COW stores
    * and streaming checkpoints under it, and the returned DataFrame
    * keeps reading from it for the life of the run — so cleanup can't
    * happen inline, but bench sweeps re-running the query across
    * rounds must not steadily leak stores into /tmp. One shutdown
    * hook per created root; the count per JVM is bounded by the
    * number of query (re)executions in that run.
    */
  def tempRootForRun(prefix: String): String =
    graft.TempRoots.forRun(prefix)

  /** First embedding (vec_id = min) as the query vector for the ANN
    * entries — fetched per scale-factor directory so the query composes
    * at any SF. Memoized: four ANN entries share the identical vector,
    * and without the cache each triggered its own TakeOrdered job over
    * the embeddings table per Verify sweep.
    */
  val queryVecCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
  def queryVec(s: SparkSession, dir: String): Array[Float] =
    queryVecCache.computeIfAbsent(dir, _ =>
      Tables.load(s, dir, "embeddings")
        .orderBy("vec_id").select("embedding").head()
        .getSeq[Float](0).toArray)

  /** The token-preserving first-space→tab edit shared by the d16/d17
    * planting — LOAD-BEARING fixture: same codepoint length and same
    * token stream, one changed byte, so a planted copy collides in
    * exactly its source's LSH buckets while the stub hashes see new
    * content (see d16's query comment for the oracle-validity
    * argument). One Scala source and one SQL twin so the four former
    * copies cannot drift (round-14 review).
    */
  def tabEdit(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val loc = locate(" ", text)
    when(loc > 0, concat(text.substr(lit(1), loc - 1), lit("\t"),
        text.substr(loc + 1, length(text))))
      .otherwise(text)
  }

  /** DuckDB fragment mirroring [[tabEdit]] over a column named `text`.
    * No continuation line may START with `||`: the fragment is
    * interpolated into stripMargin templates, which would eat one pipe
    * and leave a VARCHAR bitwise-or.
    */
  val tabEditSql: String =
    """CASE WHEN strpos(text, ' ') > 0
      |    THEN substr(text, 1, strpos(text, ' ') - 1) || chr(9) ||
      |         substr(text, strpos(text, ' ') + 1)
      |    ELSE text END""".stripMargin

  /** Cross-engine 6-decimal rounding: `floor(x·1e6 + 0.5)/1e6` is the
    * same sequence of IEEE double ops in Spark and DuckDB, so both
    * engines produce bit-identical values — `round(x, 6)` does not
    * (Spark rounds the decimal expansion HALF_UP; DuckDB rounds the
    * binary double), which flips the 6th decimal on ties and breaks
    * the driver's hash compare.
    */
  def r6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** DuckDB fragment mirroring [[r6]]. */
  def r6sql(expr: String): String =
    s"FLOOR(($expr) * 1000000 + 0.5) / 1000000"

  /** Fixed BPE merge table shared by t26/t27/p04 and their oracles —
    * common English digraphs, ordered so every merged string is
    * created by exactly one rule at a rank BEFORE any rule that uses
    * it as a component ("th" at 1 before ("th","e") at 2; "an" at 4
    * before ("an","d") at 5). That unique-creation property is what
    * makes the Scala encoder's min-rank loop equal to the oracle's
    * rank-ordered replace chain (TextAnalysis.bpeSegment scaladoc).
    */
  val bpeFixedMerges: Seq[TextAnalysis.BpeMerge] = Seq(
    (1, "t", "h"), (2, "th", "e"), (3, "i", "n"), (4, "a", "n"),
    (5, "an", "d"), (6, "e", "r"), (7, "o", "n"), (8, "r", "e"),
    (9, "o", "r"), (10, "e", "n"), (11, "a", "t"), (12, "e", "s"),
    (13, "o", "u"), (14, "i", "t"), (15, "i", "s"), (16, "t", "o")
  ).map { case (rk, l, r) => TextAnalysis.BpeMerge(rk, l, r, 0L) }

  /** Fixed unigram-LM piece table for t34 and its oracle: the multi
    * pieces are chosen so no occurrence of any piece can overlap
    * another (q≠u, t≠h, e≠r rule out self-overlap; no piece's suffix
    * is another's prefix) and each dominates every alternative tiling
    * of its span (-1 vs ≥ two singles at -6 / UNK at -1000), so
    * Viterbi provably takes every occurrence — the property that makes
    * the piece count SQL-replayable.
    */
  val unigramFixedTable: Seq[TextAnalysis.UnigramPiece] = Seq(
    TextAnalysis.UnigramPiece("qu", -1.0),
    TextAnalysis.UnigramPiece("th", -1.0),
    TextAnalysis.UnigramPiece("er", -1.0),
    TextAnalysis.UnigramPiece("e", -6.0),
    TextAnalysis.UnigramPiece("t", -6.0),
    TextAnalysis.UnigramPiece("a", -6.0))

  /** Fixed literal quality-model weights for c09 and its oracle (the
    * s19/t34 fixed-artifact stance: training is driver-side and
    * deterministic but not SQL-replayable, so the ORACLE-gated entry
    * scores with a pinned model — the corpus-scale half is what runs
    * at 100 TB and what the oracle must replay). Weights are a simple
    * deterministic ramp over the residues mod 101, quantization-safe:
    * floor(k/100·1e6 + 0.5) = k·10⁴ exactly for |k| ≤ 50.
    */
  val qmFixedDim = 256
  val qmFixedBias = -0.25
  val qmFixedModel = graft.operators.QualityModel.LinearModel(
    qmFixedDim, qmFixedBias,
    Array.tabulate(qmFixedDim)(j => ((j * 37) % 101 - 50) / 100.0))
  val qmFixedWeightsQ: IndexedSeq[Long] =
    qmFixedModel.weights.toIndexedSeq
      .map(w => math.floor(w * 1e6 + 0.5).toLong)

  /** Separator for the oracle's flat-string symbol encoding: U+001F
    * (unit separator), a control char that never appears in the test
    * corpora (and cannot survive `tokens`' whitespace-split as part
    * of a merge-table symbol, which are all ASCII letters here).
    */
  val bpeSep = "\u001f"

  /** DuckDB replay of [[TextAnalysis.bpeSegment]] on one word
    * expression, as a flat string: each symbol is wrapped ⟨sep⟩sym⟨sep⟩
    * (so the string is sep sep s1 sep sep s2 … sep sep), and one merge
    * (l, r) is `replace(s, ⟨sep⟩l⟨sep⟩⟨sep⟩r⟨sep⟩, ⟨sep⟩lr⟨sep⟩)` —
    * plain replace is leftmost-first non-overlapping and keeps the
    * boundary separators on both flanks, so repeated adjacent pairs
    * ("a a a" under (a,a) → [aa, a]) and consecutive disjoint matches
    * ("a b a b" under (a,b) → [ab, ab]) both come out exactly like
    * mergeOnce; a pattern can never match inside a symbol because a
    * single separator flanked by symbol chars occurs only at a
    * boundary. Merges compose in rank order — identical to the
    * min-rank loop for the unique-creation [[bpeFixedMerges]] table.
    * Pieces are read back by splitting on the double separator.
    */
  def bpeOracleEncode(wExpr: String): String = {
    val wrapped =
      s"'$bpeSep$bpeSep' || regexp_replace($wExpr, '(.)', '\\1$bpeSep$bpeSep', 'g')"
    bpeFixedMerges.sortBy(_.rank).foldLeft(wrapped) { (acc, m) =>
      s"replace($acc, '$bpeSep${m.left}$bpeSep$bpeSep${m.right}$bpeSep', " +
        s"'$bpeSep${m.left}${m.right}$bpeSep')"
    }
  }

  /** DuckDB mirror of Similarity's symmetric int8 quantization of a
    * DOUBLE[] expression (scale = 127/max|x|, floor(x·scale + 0.5),
    * zero vectors → zero codes) — ONE fragment shared by the s06 and
    * s08 oracles so a change to the Scala quantizer has a single SQL
    * twin to keep in lockstep.
    */
  def quantizeSql(v: String): String =
    s"""CASE WHEN list_max([abs(x) for x in $v]) = 0
       |    THEN [0.0 for x in $v]
       |    ELSE [floor(x * (127.0 / list_max([abs(y) for y in $v])) + 0.5)
       |          for x in $v] END""".stripMargin

  /** DuckDB fragment mirroring [[graft.functions.VectorOps.cosine]]
    * over two DOUBLE[] expressions (norm-product-then-divide, zero
    * norms → 0) — shared by every kNN oracle's scoring step.
    */
  /** d17 eval-sample cap (round 15 — verdict task 4): the eval's
    * |sample|² ground-truth join must not grow with the corpus, so
    * the doc_id%10 pool is ranked by a multiplicative hash both
    * engines compute identically in BIGINT (((doc_id mod 2³¹−1) ·
    * 2654435761) mod 1000000007 — the PRE-REDUCTION keeps the product
    * under 2⁶³ for ANY doc_id; round 16: the unreduced form
    * overflowed ANSI longs past doc_id ≈ 3.47·10⁹, i.e. at real
    * 100 TB id ranges, caught by a 100× `SfSynth` corpus run)
    * with doc_id as the total-order tie-break, and only the first
    * `d17SampleCap` rows enter the eval. At sf0.01 (50 pool rows)
    * the cap is slack — the entry's behavior there is unchanged —
    * and from sf0.1 up it binds, making the eval's cost a constant
    * of the harness, not of the corpus. The edited/twin plants then
    * derive FROM the capped sample (not from the raw corpus), so
    * every planted copy's original is in the frame by construction
    * and the eval keeps its true pairs at any cap.
    */
  val d17SampleCap = 200

  /** The capped hash-ordered d17 pool, as one DuckDB fragment. */
  val d17SampSql: String =
    "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0\n" +
      "  ORDER BY ((doc_id % 2147483647) * 2654435761) % 1000000007, " +
      s"doc_id LIMIT $d17SampleCap"

  /** c03 probe cap (round 16 — the one super-linear finding of
    * the 100× `SfSynth` corpus run, triaged): the audit's retrieval leg
    * scored every (probe, train doc) pair, and BOTH sides grow with
    * the corpus (probes are the doc_id%1000 bench sample) — on the
    * degenerate 31-word synthetic vocabulary every pair matches, so
    * the contribution mass is quadratic and c03 measured 233× at
    * 100× data (629 s, 35 GB of shuffle spill). A real audit runs a
    * FIXED bench suite, not one that grows with the training corpus:
    * the probe pool is ranked by the same cross-engine multiplicative
    * hash as d17's sample and capped, making the retrieval leg's
    * probe side a harness constant. Slack at sf0.01/sf0.1 (≤ 5 pool
    * rows — behavior unchanged, same oracle rows); binding from
    * ~20× up. Post-fix measurement in §4.
    */
  val c03ProbeCap = 100

  /** The capped hash-ordered c03 probe pool, as one DuckDB fragment. */
  val c03ProbeSql: String =
    "SELECT doc_id, text FROM documents WHERE doc_id % 1000 = 0\n" +
      "  ORDER BY ((doc_id % 2147483647) * 2654435761) % 1000000007, " +
      s"doc_id LIMIT $c03ProbeCap"

  /** c10 oracle: replays the ENTIRE curate → dedup → decontaminate →
    * mix-allocate → pack pipeline as one CTE chain — each stage is the
    * SAME SQL its standalone oracle runs (c01's quality/repetition
    * metrics and text-keyed survivor window, d07's brute-force
    * word-3-shingle Jaccard for the decontamination truth, t15's
    * budget-rate formula with the identical IEEE division order, the
    * cross-engine hash-uniform keep, p01's shard hash + per-shard
    * cumulative window + rollup). Banding recall on the curated
    * subset follows from d07's separation argument: a pair's band
    * collisions are content-defined (independent of other docs), so a
    * pair found on the full corpus is found on any subset, and the
    * maxBucketSize guard only ever sees smaller buckets.
    */
  lazy val c10OracleSql: String = {
    val jac = "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) " +
      "/ len(list_distinct(a.s || b.s))"
    def shingles(src: String): String =
      s"""SELECT doc_id, CASE WHEN len(w) >= 3
         |    THEN list_distinct([array_to_string(w[i:i+2], ' ')
         |                        for i in range(1, len(w) - 1)])
         |    ELSE [array_to_string(w, ' ')] END AS s
         |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(
         |          trim(text), '[ \\t\\n\\v\\f\\r]+'), x -> x <> '') AS w
         |        FROM $src)""".stripMargin
    s"""WITH f AS (
       |  SELECT doc_id, source, text,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
       |    CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) AS n_punct,
       |    list_filter(regexp_split_to_array(trim(lower(text)),
       |      '[ \\t\\n\\v\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, source, text,
       |    least(1.0, greatest(0.0,
       |      0.25 * least(len(toks) / 20.0, 1.0) +
       |      0.25 * (n_alpha / greatest(n_chars, 1.0)) +
       |      0.25 * (1.0 - least((n_punct / greatest(n_chars, 1.0)) * 5.0, 1.0)) +
       |      0.25 * least((len(list_intersect(list_distinct(toks),
       |        ['the','a','of','and','to','in','is','that','it','for'])) / 10.0)
       |        * 2.0, 1.0))) AS qual,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE (len(toks) - len(list_distinct(toks)))
       |              / CAST(len(toks) AS DOUBLE) END AS dwf,
       |    MIN(doc_id) OVER (PARTITION BY text) AS surv
       |  FROM f
       |), cur AS (
       |  SELECT doc_id, source, text FROM g
       |  WHERE doc_id = surv AND qual >= 0.75 AND dwf <= 0.7
       |), trs AS (
       |  ${shingles("cur WHERE doc_id % 10 <> 0")}
       |), evs AS (
       |  ${shingles("documents WHERE doc_id % 10 = 0")}
       |), contam AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM trs a JOIN evs b ON $jac >= 0.5
       |), clean AS (
       |  SELECT doc_id, source, text FROM cur
       |  WHERE doc_id % 10 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contam)
       |), mix AS (
       |  SELECT source,
       |    CAST(SUM(len(list_filter(regexp_split_to_array(trim(text),
       |      '[ \\t\\n\\v\\f\\r]+'), x -> x <> ''))) AS BIGINT) AS n_tokens
       |  FROM clean GROUP BY source
       |), rates AS (
       |  SELECT source,
       |    ${r6sql("LEAST(1.0, 100000.0 / (SELECT COUNT(*) FROM mix) / n_tokens)")}
       |      AS rate
       |  FROM mix
       |), samp AS (
       |  SELECT c.doc_id, c.text
       |  FROM clean c JOIN rates r USING (source)
       |  WHERE (((c.doc_id % 2147483647) * 2654435761) % 1000003)
       |        / 1000003.0 < r.rate
       |), t AS (
       |  SELECT doc_id,
       |    ((doc_id % 2147483647) * 2654435761) % 8 AS shard,
       |    len(regexp_extract_all(text,
       |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tok
       |  FROM samp
       |), cc AS (
       |  SELECT shard, doc_id, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
       |  FROM t
       |)
       |SELECT shard,
       |  CAST(FLOOR((cum_tok - n_tok) / 2048.0) AS BIGINT) AS chunk_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |FROM cc GROUP BY 1, 2 ORDER BY shard, chunk_id""".stripMargin
  }

  /** d17 oracle: replays the ENTIRE lshCandidateEval pipeline in
    * DuckDB — FNV word/shingle hashing in HUGEINT mod 2⁶⁴ (the d03
    * idiom), the brute-force shingle-set Jaccard truth, the 128-hash
    * MinHash signature with the kernel's Random(42) coefficient
    * family INLINED as a VALUES table (the s02 hyperplane stance:
    * JVM-derived constants become literals), the 16-band FNV bucket
    * fold, the any-band collision join, and the one-row
    * precision/recall report. Signature arithmetic stays in BIGINT —
    * a ≤ 2³⁰, (h mod 2³⁰) < 2³⁰, so a·h+b < 2⁶¹ never overflows.
    * Planting mirrors d16's token-preserving copies so the eval has
    * real true pairs (the raw doc_id%10 sample has none), and the
    * pool is capped by [[d17SampSql]] so the eval's deliberate
    * |sample|² truth join stays corpus-size-independent.
    */
  lazy val d17OracleSql: String = {
    // the EXACT coefficient family MinHashSig(…, 128, seed=42) draws —
    // the ONE shared derivation (MinHashSig.coefficients), inlined as
    // literals the way s02 inlines its hyperplanes
    val coefs = graft.functions.MinHashSig.coefficients(128, 42L)
    val vals = coefs.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val M = "18446744073709551616" // 2^64
    val off = "14695981039346656037" // FNV offset basis (unsigned)
    val fold = s"(h, c2) -> (xor(h, c2) * 1099511628211) % $M"
    val collide = (1 to 16).map(b => s"a.bk[$b] = b.bk[$b]").mkString(" OR ")
    s"""WITH samp AS (
       |  $d17SampSql
       |), base AS (
       |  SELECT doc_id, text FROM samp
       |  UNION ALL
       |  SELECT doc_id + 3000000,
       |    $tabEditSql
       |  FROM samp WHERE doc_id % 20 = 0
       |  UNION ALL
       |  SELECT doc_id + 6000000, text FROM samp WHERE doc_id % 40 = 0
       |), w AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '[ \\t\\n\\v\\f\\r]+'),
       |                x -> x <> '') AS words
       |  FROM base
       |), wh AS (
       |  SELECT doc_id,
       |    [list_reduce([CAST($off AS HUGEINT)] ||
       |       [CAST(unicode(ch) AS HUGEINT) for ch in string_split(wd, '')],
       |       $fold)
       |     for wd in words] AS whs
       |  FROM w
       |), sh AS (
       |  SELECT doc_id, CASE
       |    WHEN len(whs) = 0 THEN [CAST($off AS HUGEINT)]
       |    WHEN len(whs) < 3
       |      THEN [list_reduce([CAST($off AS HUGEINT)] || whs, $fold)]
       |    ELSE [list_reduce(
       |            [CAST($off AS HUGEINT), whs[i], whs[i+1], whs[i+2]],
       |            $fold)
       |          for i in range(1, len(whs) - 1)]
       |    END AS s
       |  FROM wh
       |), truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(list_distinct(a.s),
       |                                list_distinct(b.s))) AS DOUBLE)
       |    / len(list_distinct(a.s || b.s)) >= 0.5
       |), coef AS (
       |  SELECT * FROM (VALUES $vals) t(i, ca, cb)
       |), sigrow AS (
       |  SELECT doc_id, i,
       |    MIN((ca * CAST(hm % 1073741824 AS BIGINT) + cb) % 1073741789)
       |      AS v
       |  FROM (SELECT doc_id, unnest(s) AS hm FROM sh), coef
       |  GROUP BY doc_id, i
       |), sig AS (
       |  SELECT doc_id, list(v ORDER BY i) AS sg FROM sigrow GROUP BY doc_id
       |), bk AS (
       |  SELECT doc_id,
       |    [list_reduce([CAST($off AS HUGEINT)] ||
       |       [CAST(sg[j] AS HUGEINT) for j in range(b*8+1, b*8+9)], $fold)
       |     for b in range(0, 16)] AS bk
       |  FROM sig
       |), cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bk a JOIN bk b ON a.doc_id < b.doc_id AND ($collide)
       |), agg AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM truth) AS n_true,
       |    (SELECT COUNT(*) FROM cand) AS n_candidates,
       |    (SELECT COUNT(*) FROM truth JOIN cand USING (id_a, id_b)) AS n_hit
       |)
       |SELECT n_true, n_candidates, n_hit,
       |  CASE WHEN n_candidates > 0
       |    THEN CAST(n_hit AS DOUBLE) / n_candidates ELSE 1.0 END AS precision,
       |  CASE WHEN n_true > 0
       |    THEN CAST(n_hit AS DOUBLE) / n_true ELSE 1.0 END AS recall
       |FROM agg""".stripMargin
  }

  /** s20 oracle: the MMR greedy loop as a WITH RECURSIVE CTE. One row
    * per rank; the working row carries the picked ids AND vectors in
    * list columns so each step's redundancy term is
    * list_max(list_transform(picked, pv -> cos(c.v, pv))) — the same
    * running-max the Scala loop keeps. Rank 1 is the pure-relevance
    * argmax (no penalty term, mirroring the picked.isEmpty branch);
    * later ranks order by score DESC then candidate order ASC (the
    * strict-> tie-break). (1.0 - 0.7) stays a subtraction so both
    * engines compute the identical IEEE 0.30000000000000004.
    */
  lazy val s20OracleSql: String = {
    val lam = "0.7"
    val score =
      s"$lam*c.cos - (1.0 - $lam) * list_max(" +
        s"list_transform(p.pvecs, pv -> ${cosineSql("c.v", "pv")}))"
    s"""WITH RECURSIVE q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT 1
       |), e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cand AS (
       |  SELECT id, v, cos,
       |    ROW_NUMBER() OVER (ORDER BY cos DESC, id ASC) AS ord
       |  FROM (SELECT vec_id AS id, v, ${cosineSql("v", "qv")} AS cos
       |        FROM e, q)
       |  ORDER BY cos DESC, id ASC LIMIT 40
       |), pick (rank, id, cos, mmr, pids, pvecs) AS (
       |  (SELECT 1, id, cos, $lam * cos, [id], [v]
       |   FROM cand ORDER BY $lam * cos DESC, ord ASC LIMIT 1)
       |  UNION ALL
       |  (SELECT p.rank + 1, c.id, c.cos, $score,
       |     list_append(p.pids, c.id), list_append(p.pvecs, c.v)
       |   FROM pick p JOIN cand c ON NOT list_contains(p.pids, c.id)
       |   WHERE p.rank < 10
       |   ORDER BY $score DESC, c.ord ASC
       |   LIMIT 1)
       |)
       |SELECT rank, id, ${r6sql("cos")} AS cosine, ${r6sql("mmr")} AS mmr
       |FROM pick ORDER BY rank""".stripMargin
  }

  def cosineSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a))
       |        * sqrt(list_dot_product($b, $b)) = 0 THEN 0
       |ELSE list_dot_product($a, $b)
       |  / (sqrt(list_dot_product($a, $a))
       |     * sqrt(list_dot_product($b, $b))) END""".stripMargin

  /** d03 oracle: replays the ENTIRE simhash pipeline in DuckDB —
    * FNV-1a word/bigram hashing with 64-bit wraparound emulated in
    * HUGEINT arithmetic (BIGINT multiply would overflow-error), bit
    * votes, sketch assembly, pigeonhole chunking, hamming join. Every
    * constant mirrors graft.functions.TextKernels/SketchOps; verified
    * value-identical because both engines fold the same integer ops
    * mod 2^64.
    */
  lazy val d03OracleSql: String = {
    val maxHamming = 10
    val nChunks = maxHamming + 1
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val M = "18446744073709551616" // 2^64
    val off = "14695981039346656037" // FNV offset basis (unsigned)
    val fold = s"(h, c2) -> (xor(h, c2) * 1099511628211) % $M"
    def pow2(i: Int): String = java.math.BigInteger.TWO.pow(i).toString
    val votes = (0 until 64).map(i =>
      s"SUM(CASE WHEN (f // ${pow2(i)}) % 2 = 1 THEN 1 ELSE -1 END) AS v_$i")
      .mkString(",\n    ")
    val sketchBits = (0 until 64).map(i =>
      s"(CASE WHEN v_$i > 0 THEN CAST(${pow2(i)} AS HUGEINT) ELSE 0 END)")
      .mkString(" +\n    ")
    val chunkCols = (0 until nChunks).map(c =>
      s"(sim // ${pow2(offsets(c))}) % ${pow2(widths(c))} AS cv_$c")
      .mkString(",\n    ")
    val collide = (0 until nChunks).map(c => s"a.cv_$c = b.cv_$c").mkString(" OR ")
    val signed = (u: String) =>
      s"CAST(CASE WHEN $u >= 9223372036854775808 THEN $u - $M ELSE $u END AS BIGINT)"
    val ham = s"bit_count(xor(${signed("a.sim")}, ${signed("b.sim")}))"
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '[ \\t\\n\\v\\f\\r]+'), x -> x <> '') AS words
       |  FROM documents
       |), wh AS (
       |  SELECT doc_id,
       |    [list_reduce([CAST($off AS HUGEINT)] ||
       |       [CAST(unicode(ch) AS HUGEINT) for ch in string_split(wd, '')], $fold)
       |     for wd in words] AS whs
       |  FROM w
       |), feats AS (
       |  SELECT doc_id, CASE
       |    WHEN len(whs) = 0 THEN [CAST($off AS HUGEINT)]
       |    WHEN len(whs) = 1 THEN
       |      [list_reduce([CAST($off AS HUGEINT)] || whs, $fold)]
       |    ELSE list_distinct(
       |      [list_reduce([CAST($off AS HUGEINT), whs[i], whs[i + 1]], $fold)
       |       for i in range(1, len(whs))])
       |    END AS fs
       |  FROM wh
       |), f AS (
       |  SELECT doc_id, unnest(fs) AS f FROM feats
       |), votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM f GROUP BY doc_id
       |), sketch AS (
       |  SELECT doc_id,
       |    $sketchBits AS sim
       |  FROM votes
       |), ch AS (
       |  SELECT doc_id, sim,
       |    $chunkCols
       |  FROM sketch
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST($ham AS INT) AS hamming
       |FROM ch a JOIN ch b ON a.doc_id < b.doc_id AND ($collide)
       |WHERE $ham <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** d12 oracle: replays the planted-copy media construction,
    * Multimodal.stubGrid (codepoint resample onto the 72-cell grid),
    * dHashBits (HUGEINT bit sum wrapped to signed BIGINT, the d03
    * trick) and an all-pairs hamming filter — the oracle may be
    * quadratic; the Spark plan under test is the pigeonhole join.
    */
  lazy val d12OracleSql: String = {
    val M = "18446744073709551616" // 2^64
    val bitSum = (for { y <- 0 until 8; x <- 0 until 8 } yield {
      val idx = y * 8 + x
      val l = y * 9 + x + 1 // 1-based list index of the cell
      s"(CASE WHEN gr[$l] > gr[${l + 1}] THEN CAST(${java.math.BigInteger.TWO.pow(idx)} AS HUGEINT) ELSE 0 END)"
    }).mkString(" +\n    ")
    val signed = (u: String) =>
      s"CAST(CASE WHEN $u >= 9223372036854775808 THEN $u - $M ELSE $u END AS BIGINT)"
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, 'x' || substr(text, 2)
       |  FROM documents WHERE doc_id % 6 = 0
       |  UNION ALL
       |  SELECT doc_id + 6000000, text FROM documents WHERE doc_id % 12 = 0
       |), cp AS (
       |  SELECT doc_id,
       |    [unicode(ch) for ch in string_split(text, '')] AS cps
       |  FROM base
       |), g AS (
       |  SELECT doc_id, CASE WHEN len(cps) = 0
       |    THEN [0 for i in range(0, 72)]
       |    ELSE [cps[CAST((i * len(cps)) // 72 AS BIGINT) + 1]
       |          for i in range(0, 72)] END AS gr
       |  FROM cp
       |), h AS (
       |  SELECT doc_id, ${signed(s"($bitSum)")} AS phash
       |  FROM g
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared DuckDB replay of TextAnalysis.langId, ending in a `pred`
    * CTE of (doc_id, lang, lang_pred) — ONE definition for the t01
    * oracle and the t31 confusion-matrix oracle, so a change to the
    * heuristic has a single SQL twin to keep in lockstep. The CASE
    * chain encodes greatest(struct)'s tie-breaking (equal scores →
    * later profile wins).
    */
  lazy val langPredCtesSql: String =
    """tok AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_filter(
      |      regexp_split_to_array(trim(lower(text)), '[ \t\n\v\f\r]+'), x -> x <> '')) AS t
      |  FROM documents
      |), sc AS (
      |  SELECT doc_id, lang,
      |    len(list_intersect(t, ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
      |    len(list_intersect(t, ['el','la','de','que','y','en','un','una','los','por'])) AS s_es,
      |    len(list_intersect(t, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS s_de,
      |    len(list_intersect(t, ['le','la','les','de','et','un','une','est','que','pour'])) AS s_fr,
      |    len(list_intersect(t, ['的','是','了','在','我','有','和','不','人','这'])) AS s_zh
      |  FROM tok
      |), pred AS (
      |  SELECT doc_id, lang, CASE
      |    WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
      |    WHEN s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_de AND s_zh >= s_fr THEN 'zh'
      |    WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
      |    WHEN s_de >= s_en AND s_de >= s_es THEN 'de'
      |    WHEN s_es >= s_en THEN 'es'
      |    ELSE 'en' END AS lang_pred
      |  FROM sc
      |)""".stripMargin

  /** d14 oracle: replays the planted-copy media construction over the
    * AUDIO kind slice, Multimodal.stubAudioSig (codepoint resample
    * onto 65 windows → 64 delta-sign bits; HUGEINT bit sum wrapped to
    * signed BIGINT, the d03/d12 trick) and an all-pairs hamming
    * filter — the oracle may be quadratic; the Spark plan under test
    * is the pigeonhole join.
    */
  lazy val d14OracleSql: String = {
    val M = "18446744073709551616" // 2^64
    val bitSum = (0 until 64).map { i =>
      s"(CASE WHEN gr[${i + 1}] > gr[${i + 2}] THEN CAST(${java.math.BigInteger.TWO.pow(i)} AS HUGEINT) ELSE 0 END)"
    }.mkString(" +\n    ")
    val signed = (u: String) =>
      s"CAST(CASE WHEN $u >= 9223372036854775808 THEN $u - $M ELSE $u END AS BIGINT)"
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + 3000000, 'x' || substr(text, 2)
       |  FROM documents WHERE doc_id % 6 = 1
       |  UNION ALL
       |  SELECT doc_id + 6000000, text FROM documents WHERE doc_id % 12 = 4
       |), cp AS (
       |  SELECT doc_id,
       |    [unicode(ch) for ch in string_split(text, '')] AS cps
       |  FROM base
       |), g AS (
       |  SELECT doc_id, CASE WHEN len(cps) = 0
       |    THEN [0 for i in range(0, 65)]
       |    ELSE [cps[CAST((i * len(cps)) // 65 AS BIGINT) + 1]
       |          for i in range(0, 65)] END AS gr
       |  FROM cp
       |), h AS (
       |  SELECT doc_id, ${signed(s"($bitSum)")} AS asig
       |  FROM g
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.asig, b.asig)) AS INT) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.asig, b.asig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** d16 oracle: one SQL replay of all three modality verdicts over
    * the shared planted base — d02's brute-force shingle Jaccard for
    * the text leg, d12's stub-grid dHash for the image-kind slice
    * (doc_id % 3 = 0), d14's 65-window delta-sign signature for the
    * audio-kind slice (doc_id % 3 = 1) — unioned and rolled up per
    * (id_a, id_b). The modality legs may be quadratic here; the Spark
    * plan under test runs the band-bucket / pigeonhole joins.
    * Planting: doc_id % 4 first-space→tab edits (+3000000 — token-
    * preserving, see the query comment for why that is what keeps
    * this brute-force oracle valid against LSH candidacy) and
    * doc_id % 8 exact twins (+6000000); 4 and 8 are coprime to 3, so
    * every kind slice receives planted copies, and the +3M/+6M offsets
    * are ≡ 0 (mod 3), so a copy keeps its source's kind.
    */
  lazy val d16OracleSql: String = {
    val M = "18446744073709551616" // 2^64
    val signed = (u: String) =>
      s"CAST(CASE WHEN $u >= 9223372036854775808 THEN $u - $M ELSE $u END AS BIGINT)"
    val iBitSum = (for { y <- 0 until 8; x <- 0 until 8 } yield {
      val idx = y * 8 + x
      val l = y * 9 + x + 1
      s"(CASE WHEN gr[$l] > gr[${l + 1}] THEN CAST(${java.math.BigInteger.TWO.pow(idx)} AS HUGEINT) ELSE 0 END)"
    }).mkString(" +\n    ")
    val aBitSum = (0 until 64).map { i =>
      s"(CASE WHEN gr[${i + 1}] > gr[${i + 2}] THEN CAST(${java.math.BigInteger.TWO.pow(i)} AS HUGEINT) ELSE 0 END)"
    }.mkString(" +\n    ")
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000,
       |    $tabEditSql
       |  FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL
       |  SELECT doc_id + 6000000, text FROM documents WHERE doc_id % 8 = 0
       |), t AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(trim(text), '[ \\t\\n\\v\\f\\r]+'), x -> x <> '') AS w
       |  FROM base
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(w) >= 3
       |    THEN list_distinct([array_to_string(w[i:i+2], ' ')
       |                        for i in range(1, len(w) - 1)])
       |    ELSE [array_to_string(w, ' ')] END AS s
       |  FROM t
       |), tpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |    / len(list_distinct(a.s || b.s)) >= 0.5
       |), icp AS (
       |  SELECT doc_id,
       |    [unicode(ch) for ch in string_split(text, '')] AS cps
       |  FROM base WHERE doc_id % 3 = 0
       |), ig AS (
       |  SELECT doc_id, CASE WHEN len(cps) = 0
       |    THEN [0 for i in range(0, 72)]
       |    ELSE [cps[CAST((i * len(cps)) // 72 AS BIGINT) + 1]
       |          for i in range(0, 72)] END AS gr
       |  FROM icp
       |), ih AS (
       |  SELECT doc_id, ${signed(s"($iBitSum)")} AS phash FROM ig
       |), ipairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ih a JOIN ih b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= 3
       |), acp AS (
       |  SELECT doc_id,
       |    [unicode(ch) for ch in string_split(text, '')] AS cps
       |  FROM base WHERE doc_id % 3 = 1
       |), ag AS (
       |  SELECT doc_id, CASE WHEN len(cps) = 0
       |    THEN [0 for i in range(0, 65)]
       |    ELSE [cps[CAST((i * len(cps)) // 65 AS BIGINT) + 1]
       |          for i in range(0, 65)] END AS gr
       |  FROM acp
       |), ah AS (
       |  SELECT doc_id, ${signed(s"($aBitSum)")} AS asig FROM ag
       |), apairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ah a JOIN ah b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.asig, b.asig)) <= 3
       |), u AS (
       |  SELECT id_a, id_b, 1 AS td, 0 AS im, 0 AS au FROM tpairs
       |  UNION ALL
       |  SELECT id_a, id_b, 0, 1, 0 FROM ipairs
       |  UNION ALL
       |  SELECT id_a, id_b, 0, 0, 1 FROM apairs
       |)
       |SELECT id_a, id_b,
       |  CAST(max(td) AS INT) AS text_dup,
       |  CAST(max(im) AS INT) AS image_dup,
       |  CAST(max(au) AS INT) AS audio_dup,
       |  CAST(max(td) + max(im) + max(au) AS INT) AS n_modalities
       |FROM u GROUP BY id_a, id_b
       |ORDER BY id_a, id_b""".stripMargin
  }

  // planted shared passages for d13 (see the query comment): a footer
  // shared by doc_id%5 docs, a header by doc_id%7, a within-doc
  // repeated phrase on doc_id%11 — all ≥8 tokens so each carries
  // duplicated 8-windows of its own.
  val d13Header =
    "cookie policy notice we use cookies to improve your experience"
  val d13Footer =
    "subscribe to our newsletter for daily updates and exclusive offers today now"
  val d13Phrase = "please rate this article and share it widely"

  /** d13 oracle: replays the windowed substring dedup on RAW window
    * strings (the d01 collision stance — an FNV window-hash collision
    * in the operator would hash-mismatch here), with the same
    * gaps-and-islands span merge and token-level removal. The oracle
    * may explode covered positions; the Spark plan under test carries
    * spans as bounded per-doc arrays.
    */
  lazy val d13OracleSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 7 = 0 THEN '$d13Header ' ELSE '' END)
       |    || text
       |    || (CASE WHEN doc_id % 5 = 0 THEN ' $d13Footer' ELSE '' END)
       |    || (CASE WHEN doc_id % 11 = 0
       |        THEN ' $d13Phrase $d13Phrase' ELSE '' END) AS t
       |  FROM documents
       |), d AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(t, '[ \\t\\n\\v\\f\\r]+'),
       |    x -> x <> '') AS w
       |  FROM aug
       |), toks0 AS (
       |  SELECT doc_id,
       |    unnest([{'pos': i, 'tok': w[i + 1]}
       |            for i in range(0, len(w))]) AS u
       |  FROM d
       |), toks AS (
       |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM toks0
       |), wins0 AS (
       |  SELECT doc_id,
       |    unnest([{'pos': i,
       |             'wstr': array_to_string(w[i + 1:i + 8], ' ')}
       |            for i in range(0, greatest(len(w) - 7, 0))]) AS u
       |  FROM d
       |), wins AS (
       |  SELECT doc_id, u.pos AS pos, u.wstr AS wstr FROM wins0
       |), dup AS (
       |  SELECT wstr FROM wins GROUP BY wstr HAVING COUNT(*) >= 2
       |), dw AS (
       |  SELECT w.doc_id, w.pos FROM wins w JOIN dup d2 ON w.wstr = d2.wstr
       |), pm AS (
       |  SELECT doc_id, pos,
       |    max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM dw
       |), isl AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN prev_end IS NULL OR pos > prev_end
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       |  FROM pm
       |), spans AS (
       |  SELECT doc_id, span_id, MIN(pos) AS lo, MAX(pos) + 8 AS hi
       |  FROM isl GROUP BY doc_id, span_id
       |), cov AS (
       |  SELECT doc_id,
       |    unnest([lo + i for i in range(0, hi - lo)]) AS pos
       |  FROM spans
       |), st AS (
       |  SELECT doc_id, COUNT(*) AS n_sp, SUM(hi - lo) AS n_cov
       |  FROM spans GROUP BY doc_id
       |), cl AS (
       |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS ct
       |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.pos IS NULL
       |  GROUP BY t.doc_id
       |)
       |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(st.n_sp, 0) AS BIGINT) AS n_spans,
       |  CAST(COALESCE(st.n_cov, 0) AS BIGINT) AS n_cov_tokens,
       |  COALESCE(cl.ct, '') AS clean_text
       |FROM d LEFT JOIN st ON d.doc_id = st.doc_id
       |LEFT JOIN cl ON d.doc_id = cl.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** s02 oracle: replays the sign-LSH probe exactly — corpus and query
    * signatures computed in SQL from the inlined deterministic
    * hyperplanes, probe filter = signature match in any band, then
    * exact cosine ranking of the candidates (same contract as knnLsh).
    */
  lazy val s02OracleSql: String = {
    val bands = 8; val bitsPerBand = 8; val seed = 7L; val dim = 64
    def sigCols(vec: String, prefix: String): String =
      (0 until bands).map { b =>
        val ps = Similarity.planes(dim, bitsPerBand, seed + b)
        val bits = ps.zipWithIndex.map { case (p, i) =>
          val arr = p.mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product($vec, $arr) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"($bits) AS ${prefix}_$b"
      }.mkString(",\n    ")
    val probe = (0 until bands).map(b => s"s.sig_$b = sq.qsig_$b").mkString(" OR ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT 1
       |), sq AS (
       |  SELECT qv,
       |    ${sigCols("qv", "qsig")}
       |  FROM q
       |), s AS (
       |  SELECT vec_id, v,
       |    ${sigCols("v", "sig")}
       |  FROM e
       |), cand AS (
       |  SELECT vec_id, v, qv FROM s, sq WHERE $probe
       |), scored AS (
       |  SELECT vec_id AS id,
       |    ${cosineSql("v", "qv")} AS cos
       |  FROM cand
       |)
       |SELECT id, ${r6sql("cos")} AS cosine
       |FROM scored ORDER BY cos DESC, id LIMIT 20""".stripMargin
  }

  /** d05 oracle: replicates the sign-LSH pipeline *exactly* in DuckDB
    * by inlining the deterministic hyperplanes as literals — brute
    * force can't serve as the oracle here because the corpus has no
    * cosine gap at the 0.4 threshold, so LSH recall < 1 is part of the
    * operator's defined output. java.util.Random's Gaussian stream is
    * specified, so the planes are identical constants on any JVM, and
    * Scala's Double.toString round-trips exactly through DuckDB's
    * literal parser.
    */
  /** d09: cross-corpus (train × eval) replay of the same sign-LSH —
    * identical inlined hyperplanes, split predicates instead of the
    * within-corpus id ordering, and the exact cosine verify.
    */
  lazy val d09OracleSql: String = {
    val bands = 12; val bitsPerBand = 6; val seed = 7L; val dim = 64
    val sigCols = (0 until bands).map { b =>
      val ps = Similarity.planes(dim, bitsPerBand, seed + b)
      val bits = ps.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS sig_$b"
    }.mkString(",\n    ")
    val collide = (0 until bands).map(b => s"a.sig_$b = b.sig_$b").mkString(" OR ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), s AS (
       |  SELECT vec_id, v,
       |    $sigCols
       |  FROM e
       |), pairs AS (
       |  SELECT a.vec_id AS id_left, b.vec_id AS id_right,
       |         a.v AS vl, b.v AS vr
       |  FROM s a JOIN s b
       |    ON a.vec_id % 10 <> 0 AND b.vec_id % 10 = 0 AND ($collide)
       |), scored AS (
       |  SELECT id_left, id_right,
       |    ${cosineSql("vl", "vr")} AS c
       |  FROM pairs
       |)
       |SELECT id_left, id_right, ${r6sql("c")} AS cosine
       |FROM scored WHERE c >= 0.4 ORDER BY id_left, id_right""".stripMargin
  }

  lazy val d05OracleSql: String = {
    val bands = 12; val bitsPerBand = 6; val seed = 7L; val dim = 64
    val sigCols = (0 until bands).map { b =>
      val ps = Similarity.planes(dim, bitsPerBand, seed + b)
      val bits = ps.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS sig_$b"
    }.mkString(",\n    ")
    val collide = (0 until bands).map(b => s"a.sig_$b = b.sig_$b").mkString(" OR ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), s AS (
       |  SELECT vec_id, v,
       |    $sigCols
       |  FROM e
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
       |  FROM s a JOIN s b ON a.vec_id < b.vec_id AND ($collide)
       |), scored AS (
       |  SELECT id_a, id_b,
       |    ${cosineSql("va", "vb")} AS c
       |  FROM pairs
       |)
       |SELECT id_a, id_b, ${r6sql("c")} AS cosine
       |FROM scored WHERE c >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared d06/d08 oracle prefix: word 3-shingles → Jaccard-0.5
    * pairs → recursive transitive closure → per-doc min-label (`lab`).
    * ONE copy — a shingle-regex or threshold change propagates to
    * both oracles. Plain (non-interpolated) literal on purpose: the
    * regex classes rely on `\t\n\v\f\r` staying raw backslashes.
    */
  val closureCtesSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(text), '[ \t\n\v\f\r]+'), x -> x <> '') AS w
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 3
      |    THEN list_distinct([array_to_string(w[i:i+2], ' ')
      |                        for i in range(1, len(w) - 1)])
      |    ELSE [array_to_string(w, ' ')] END AS s
      |  FROM t
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / len(list_distinct(a.s || b.s)) >= 0.5
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM p
      |  UNION SELECT id_b, id_a FROM p
      |), reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
      |), lab AS (
      |  SELECT d.doc_id, least(d.doc_id, coalesce(
      |    (SELECT MIN(dst) FROM reach WHERE src = d.doc_id),
      |    d.doc_id)) AS cluster_id
      |  FROM documents d
      |)""".stripMargin

  /** t02's quality formula as `q(doc_id, qual)` CTEs, appended after
    * [[closureCtesSql]] by d08 (c01/t02 carry their own inline copies
    * because their CTE shapes differ — the FORMULA text must match
    * term-for-term across all of them; spec'd via the oracle gate).
    */
  val qualityCtesSql: String =
    """qf AS (
      |  SELECT doc_id, source,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
      |    CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) AS n_punct,
      |    list_filter(regexp_split_to_array(trim(lower(text)),
      |      '[ \t\n\v\f\r]+'), x -> x <> '') AS toks
      |  FROM documents
      |), q AS (
      |  SELECT doc_id, source,
      |    least(1.0, greatest(0.0,
      |      0.25 * least(len(toks) / 20.0, 1.0) +
      |      0.25 * (n_alpha / greatest(n_chars, 1.0)) +
      |      0.25 * (1.0 - least((n_punct / greatest(n_chars, 1.0)) * 5.0, 1.0)) +
      |      0.25 * least((len(list_intersect(list_distinct(toks),
      |        ['the','a','of','and','to','in','is','that','it','for'])) / 10.0)
      |        * 2.0, 1.0))) AS qual
      |  FROM qf
      |)""".stripMargin
}

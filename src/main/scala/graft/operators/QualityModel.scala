package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** fastText-style learned quality filter — the trained upgrade of
  * TextAnalysis.qualityScore's hand-tuned heuristics, and the filter
  * every modern curation pipeline runs before heavier models: a
  * linear scorer over [[Featurize.hashedTfIdf]] features.
  *
  * Division of labor at 100 TB:
  *  - TRAINING has two shapes. [[train]] is driver-side Newton/IRLS
  *    on a BOUNDED labeled sample (fails fast past `maxSample`) —
  *    the honest tool for human-annotated label sets of thousands of
  *    rows. [[trainDistributed]] (round 15 — verdict task 2) is the
  *    corpus-scale trainer for DCLM-style pipelines whose labels are
  *    model-annotated in the millions: the same Newton iteration, but
  *    each round's gradient and Hessian are FULL-CORPUS aggregation
  *    jobs in exact integer/DECIMAL arithmetic (the
  *    KMeansCentroidsDistributed pattern) and the driver holds only
  *    the (dim+1)² solve.
  *  - SCORING is corpus-scale and stays declarative AND integer-exact:
  *    weights quantize to 6-decimal scaled longs, features are already
  *    6-decimal scaled longs ([[Featurize.hashedTfIdfSparse]]), and
  *    the per-doc margin accumulates their products in decimal(38,0)
  *    — exact, overflow-checked, partition-order-independent (the s09
  *    stance, spec-pinned) — before one final double conversion.
  */
object QualityModel {

  /** Trained linear model over `dim` hashed tf·idf buckets. */
  final case class LinearModel(dim: Int, bias: Double, weights: Array[Double]) {
    require(weights.length == dim, s"weights length ${weights.length} != dim $dim")
  }

  /** Deterministic L2-regularized logistic regression (Newton/IRLS)
    * on the driver over a bounded labeled sample. `labelCol` must be
    * 0/1 (bad/good). No randomness anywhere: features come from the
    * deterministic hasher, the solve is Gaussian elimination with
    * partial pivoting, iterations are fixed — same inputs, same model,
    * every run. Fails fast if the labeled frame exceeds `maxSample`
    * (a corpus-sized label set belongs in a distributed trainer, not
    * here — and no real quality-label set is corpus-sized).
    */
  def train(labeled: DataFrame, idCol: String, textCol: String,
            labelCol: String, dim: Int = 256, iters: Int = 8,
            l2: Double = 1e-2, maxSample: Int = 100000,
            scope: Dedup.CacheScope = Dedup.batchScope): LinearModel = {
    require(iters >= 1 && l2 > 0, "train: iters >= 1 and l2 > 0 required")
    val rows = Featurize.hashedTfIdf(labeled, idCol, textCol, dim,
        normalize = false, scope = scope)
      .join(labeled.select(col(idCol),
        col(labelCol).cast("double").as("_qm_y")), idCol)
      // id-ordered collect: the driver accumulates gradients in row
      // order, and IEEE addition is order-sensitive — an arbitrary
      // partition arrival order would make the fit nondeterministic
      .orderBy(idCol)
      .select(col("vector"), col("_qm_y"))
      .limit(maxSample + 1).collect()
    require(rows.length <= maxSample,
      s"train: labeled sample exceeds maxSample=$maxSample")
    require(rows.nonEmpty, "train: empty labeled sample")
    val n = rows.length
    val x = rows.map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val y = rows.map(_.getDouble(1))
    require(y.forall(v => v == 0d || v == 1d), "train: labels must be 0/1")
    val d = dim + 1 // weights + bias (bias at index dim)

    val w = new Array[Double](d)
    var iter = 0
    while (iter < iters) {
      // gradient g = X'(y − p) − λw ; Hessian H = X'diag(p(1−p))X + λI
      val g = new Array[Double](d)
      val hess = Array.fill(d)(new Array[Double](d))
      var i = 0
      while (i < n) {
        val xi = x(i)
        var m = w(dim)
        var j = 0
        while (j < dim) { m += w(j) * xi(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-m))
        val r = math.max(p * (1 - p), 1e-6) // floor keeps H invertible
        val e = y(i) - p
        j = 0
        while (j < dim) { g(j) += e * xi(j); j += 1 }
        g(dim) += e
        j = 0
        while (j < d) {
          val xj = if (j == dim) 1.0 else xi(j)
          if (xj != 0d) {
            val hj = hess(j)
            val rj = r * xj
            var k = j
            while (k < d) {
              hj(k) += rj * (if (k == dim) 1.0 else xi(k))
              k += 1
            }
          }
          j += 1
        }
        i += 1
      }
      var j = 0
      while (j < d) {
        g(j) -= l2 * w(j)
        hess(j)(j) += l2
        // mirror the upper triangle accumulated above
        var k = 0
        while (k < j) { hess(j)(k) = hess(k)(j); k += 1 }
        j += 1
      }
      val step = solve(hess, g)
      j = 0
      while (j < d) { w(j) += step(j); j += 1 }
      iter += 1
    }
    LinearModel(dim, w(dim), w.take(dim))
  }

  /** Corpus-scale L2-regularized logistic regression: Newton/IRLS
    * where every per-iteration sum is a DISTRIBUTED aggregation in
    * exact integer arithmetic, so the labeled set can be millions of
    * model-annotated rows (the DCLM shape) instead of [[train]]'s
    * bounded driver sample. Per iteration:
    *
    *  1. margins replay [[score]]'s exact integer pipeline — current
    *     weights quantized to 6-decimal scaled longs against the
    *     cached sparse feature rows, products summed in decimal(38,0)
    *     — so every margin is a pure function of the document;
    *  2. per-doc residual `e = y − σ(margin)` and IRLS weight
    *     `r = max(σ(1−σ), 1e-6)` (codegen'd StrictMath.exp —
    *     deterministic per row) quantize to 6-decimal scaled longs;
    *  3. gradient `Σ e·x`, Hessian `Σ r·x·xᵀ` and their bias
    *     row/column accumulate as decimal(38,0) sums of exact integer
    *     products — order-free, so the fit is BIT-DETERMINISTIC
    *     across partition layouts (spec-pinned), and overflow fails
    *     loudly under ANSI instead of corrupting the fit;
    *  4. the driver solves the (dim+1)² ridge system ([[solve]], the
    *     [[train]] solver) and steps.
    *
    * Scale shape: the feature frame is computed and cached ONCE;
    * every round is then one margin aggregation keyed by doc, one
    * doc-level reduce, one bucket-keyed reduce (≤ dim rows out), and
    * one Hessian pass collected as ≤ dim·(dim+1)/2 rows. No corpus
    * data ever reaches the driver. The Hessian's pair products
    * v_j·v_k are iteration-invariant, and `cachePairs` picks the
    * memory/compute trade for them (round 16 — verdict task 4):
    *
    *  - `cachePairs = false` (default): nothing persists beyond the
    *    feature frame. Each round joins the round's IRLS weight into
    *    the doc-keyed sparse rows, collects each doc's (bucket,
    *    value) pairs into a bounded array (≤ dim entries), and
    *    generates the j ≤ k products with one flatten/transform —
    *    one doc-keyed exchange per round, footprint O(|docs|·nnz)
    *    instead of O(|docs|·nnz²). A label-count scale probe measured
    *    this at wall-time PARITY with the cached path at 80k labels
    *    (the fan-out is cheap CPU against the same shuffle volume)
    *    with a 10× smaller persisted footprint — which is why it is
    *    the default.
    *  - `cachePairs = true`: the sparse×sparse self-join runs ONCE
    *    and persists ≤ |docs|·dim·(dim+1)/2 rows (MEMORY_AND_DISK) —
    *    each round then only joins the doc-keyed IRLS weights into
    *    it. Amortizes the pair fan-out when `iters` is large, but the
    *    spill is the trainer's memory ceiling: at DCLM label counts
    *    (millions of docs × dim = 256) it is multi-TB.
    *
    * The fit is BIT-IDENTICAL either way (spec-pinned — both orders
    * sum the same exact integers).
    *
    * Contract differences vs [[train]]: the fit optimizes the same
    * objective with residuals/weights quantized at 1e-6, so weights
    * agree with the driver fit to quantization tolerance (spec-pinned
    * on planted corpora), not bit-for-bit; determinism here is across
    * partition layouts of the SAME data.
    */
  def trainDistributed(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, dim: Int = 256, iters: Int = 8,
      l2: Double = 1e-2, cachePairs: Boolean = false,
      scope: Dedup.CacheScope = Dedup.batchScope): LinearModel = {
    require(iters >= 1 && l2 > 0,
      "trainDistributed: iters >= 1 and l2 > 0 required")
    // the internal joins key on the id cast to long; a non-integral
    // id (string/UUID/fractional) would cast to null or truncate,
    // silently training a bias-only or corrupted model while train()
    // on the same frame works — fail fast instead (the knnBruteBatch
    // stance; round-15 review finding)
    locally {
      import org.apache.spark.sql.types._
      val dt = labeled.schema(idCol).dataType
      require(dt == LongType || dt == IntegerType || dt == ShortType ||
          dt == ByteType,
        s"trainDistributed requires an integral id column (joins key " +
          s"on the id as long); '$idCol' is $dt — add a surrogate " +
          "long id or use the driver-side train()")
    }
    val dec = DecimalType(38, 0)
    val d = dim + 1 // weights + bias (bias at index dim)
    val labels = scope.persistTracked(labeled.select(
      col(idCol).cast("long").as("_qm_id"),
      col(labelCol).cast("double").as("_qm_y")))
    require(labels.where(col("_qm_y").isNull ||
        (col("_qm_y") =!= 0d && col("_qm_y") =!= 1d)).limit(1).count() == 0,
      "trainDistributed: labels must be 0/1")
    require(labels.limit(1).count() > 0,
      "trainDistributed: empty labeled sample")
    // one feature pass, cached for every iteration: (id, bucket, v6)
    val sparse = scope.persistTracked(
      Featurize.hashedTfIdfSparse(labeled, idCol, textCol, dim, scope)
        .select(col("_fh_id").cast("long").as("_qm_id"),
          col("_fh_b"), col("_fh_v6")))
    // the Hessian's pair products v_j·v_k are ITERATION-INVARIANT —
    // only the per-doc IRLS weight changes per round. Under
    // cachePairs the sparse×sparse self-join (per-doc (distinct
    // buckets)² fan-out) runs ONCE and every Newton round joins just
    // the doc-keyed r6 factors into it (round-15 review finding:
    // previously re-joined every iteration). Cache footprint:
    // ≤ |docs|·dim·(dim+1)/2 rows (dim bounds per-doc nnz), spilled
    // MEMORY_AND_DISK — the trade `cachePairs = false` undoes (see
    // the method doc)
    val pairs: Option[DataFrame] =
      if (!cachePairs) None
      else Some(scope.persistTracked(
        sparse.toDF("_qm_id", "_qm_j", "_qm_vj")
          .join(sparse.toDF("_qm_id", "_qm_k", "_qm_vk"), Seq("_qm_id"))
          .where(col("_qm_j") <= col("_qm_k"))
          .select(col("_qm_id"), col("_qm_j"), col("_qm_k"),
            (col("_qm_vj").cast(dec) * col("_qm_vk").cast(dec))
              .as("_qm_pjk"))))

    val w = new Array[Double](d)
    var iter = 0
    while (iter < iters) {
      val bias = w(dim)
      val w6 = (0 until dim).map(j => math.floor(w(j) * 1e6 + 0.5).toLong)
      val wLit = typedlit(w6)
      // [[score]]'s margin, verbatim: exact integer products in
      // decimal(38,0), one doc-keyed exchange
      val margins = sparse
        .select(col("_qm_id"),
          (element_at(wLit, col("_fh_b") + 1).cast(dec) *
            col("_fh_v6").cast(dec)).as("_qm_p"))
        .groupBy("_qm_id").agg(sum("_qm_p").as("_qm_s"))
        .select(col("_qm_id"),
          (lit(bias) + col("_qm_s").cast("double") / lit(1e12))
            .as("_qm_m"))
      // token-less docs have no sparse rows: their margin is the bias
      // (the score() restore), and they still push the bias gradient
      val prob = lit(1.0) /
        (lit(1.0) + exp(-coalesce(col("_qm_m"), lit(bias))))
      val docStats = labels.join(margins, Seq("_qm_id"), "left")
        .select(col("_qm_id"),
          floor((col("_qm_y") - prob) * lit(1e6) + lit(0.5))
            .cast("long").as("_qm_e6"),
          floor(greatest(prob * (lit(1.0) - prob), lit(1e-6)) * lit(1e6) +
            lit(0.5)).cast("long").as("_qm_r6"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // bias terms: g(dim) = Σe (/1e6), H(dim)(dim) = Σr (/1e6)
        val bt = docStats.agg(
          sum(col("_qm_e6").cast(dec)).as("ge"),
          sum(col("_qm_r6").cast(dec)).as("hbb")).head()
        // per-bucket terms: g(j) = Σ e·x (/1e12),
        // H(j)(dim) = Σ r·x (/1e12) — one bucket-keyed reduce
        val bRows = sparse.join(docStats, Seq("_qm_id"))
          .groupBy("_fh_b")
          .agg(sum(col("_qm_e6").cast(dec) * col("_fh_v6").cast(dec))
              .as("g"),
            sum(col("_qm_r6").cast(dec) * col("_fh_v6").cast(dec))
              .as("hb"))
          .collect()
        // Hessian upper triangle: H(j)(k) = Σ r·x_j·x_k (/1e18) —
        // either the cached iteration-invariant pair products joined
        // with this round's doc-keyed IRLS weights, or (cachePairs =
        // false) the per-round recompute: each doc's (bucket, value)
        // rows collect into a bounded array and one flatten/transform
        // generates the j ≤ k products in place — same exact integer
        // terms, so the summed decimals are identical either way
        val hRows = pairs match {
          case Some(p) => p
            .join(docStats.select("_qm_id", "_qm_r6"), Seq("_qm_id"))
            .groupBy("_qm_j", "_qm_k")
            .agg(sum(col("_qm_r6").cast(dec) * col("_qm_pjk")).as("h"))
            .collect()
          case None => sparse
            .join(docStats.select("_qm_id", "_qm_r6"), Seq("_qm_id"))
            .groupBy("_qm_id")
            .agg(collect_list(struct(col("_fh_b").as("b"),
                col("_fh_v6").as("v"))).as("_qm_a"),
              first(col("_qm_r6")).as("_qm_r6"))
            .select(col("_qm_r6"), explode(expr(
              "flatten(transform(_qm_a, (x, i) -> " +
                "transform(slice(_qm_a, i + 1, size(_qm_a) - i), y -> " +
                "struct(least(x.b, y.b) AS j, greatest(x.b, y.b) AS k, " +
                "x.v AS vj, y.v AS vk))))")).as("_qm_pr"))
            .groupBy(col("_qm_pr.j").as("_qm_j"),
              col("_qm_pr.k").as("_qm_k"))
            .agg(sum(col("_qm_r6").cast(dec) *
              (col("_qm_pr.vj").cast(dec) * col("_qm_pr.vk").cast(dec)))
              .as("h"))
            .collect()
        }

        val g = new Array[Double](d)
        val hess = Array.fill(d)(new Array[Double](d))
        g(dim) = BigDecimal(bt.getDecimal(0)).toDouble / 1e6
        hess(dim)(dim) = BigDecimal(bt.getDecimal(1)).toDouble / 1e6
        bRows.foreach { r =>
          val j = r.getInt(0)
          g(j) = BigDecimal(r.getDecimal(1)).toDouble / 1e12
          val hj = BigDecimal(r.getDecimal(2)).toDouble / 1e12
          hess(j)(dim) = hj
          hess(dim)(j) = hj
        }
        hRows.foreach { r =>
          val (j, k) = (r.getInt(0), r.getInt(1))
          val h = BigDecimal(r.getDecimal(2)).toDouble / 1e18
          hess(j)(k) = h
          hess(k)(j) = h
        }
        var j = 0
        while (j < d) {
          g(j) -= l2 * w(j)
          hess(j)(j) += l2
          j += 1
        }
        val step = solve(hess, g)
        j = 0
        while (j < d) { w(j) += step(j); j += 1 }
      } finally docStats.unpersist(false)
      iter += 1
    }
    LinearModel(dim, w(dim), w.take(dim))
  }

  /** In-place Gaussian elimination with partial pivoting (H is SPD +
    * ridge, so pivots never vanish); deterministic for fixed input.
    */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val x = b.clone()
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) {
        if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        r += 1
      }
      if (piv != col) {
        val t = a(col); a(col) = a(piv); a(piv) = t
        val tb = x(col); x(col) = x(piv); x(piv) = tb
      }
      val d = a(col)(col)
      require(math.abs(d) > 0, "solve: singular system (l2 too small?)")
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / d
        if (f != 0d) {
          var k = col
          while (k < n) { a(r)(k) -= f * a(col)(k); k += 1 }
          x(r) -= f * x(col)
        }
        r += 1
      }
      col += 1
    }
    var row = n - 1
    while (row >= 0) {
      var s = x(row)
      var k = row + 1
      while (k < n) { s -= a(row)(k) * x(k); k += 1 }
      x(row) = s / a(row)(row)
      row -= 1
    }
    x
  }

  /** Score the corpus with a trained model. The margin is exact: the
    * model's weights quantize once to 6-decimal scaled longs, the
    * features are already 6-decimal scaled longs, and every per-doc
    * product and their sum run in decimal(38,0) — so the score of a
    * document is a pure function of its text, independent of
    * partitioning, task retries, or row order (spec-pinned). One
    * sparse-frame aggregation; zero-token docs score at the bias.
    * Output: (idCol, margin, quality_prob = σ(margin)).
    */
  /** Frozen tf·idf reference statistics for ingest-time scoring:
    * the corpus-level inputs [[score]] derives from the scored frame
    * itself (document count + per-term document frequency), captured
    * once from a REFERENCE corpus so a stream can score statelessly
    * — the bm25FlagAgainstIndex frozen-statistics stance. `df` holds
    * only terms present in the reference; absent terms score with
    * df = 0 (maximal idf), the same value the batch path would give
    * a term its corpus never contained.
    */
  final case class TfIdfStats(nDocs: Long, df: Map[String, Long])

  /** Capture [[TfIdfStats]] from a reference corpus. The collect is
    * vocabulary-sized — bounded by `maxVocab` with a fail-fast, the
    * driver-artifact stance of the codebooks/centroids: a frozen
    * vocabulary table is a MODEL artifact (fastText ships exactly
    * this), not corpus data. Terms beyond the cap would make the
    * broadcast a memory hazard; real quality-filter vocabularies are
    * ≤ a few million terms.
    */
  def collectTfIdfStats(ref: DataFrame, idCol: String, textCol: String,
                        maxVocab: Int = 5000000): TfIdfStats = {
    val tf = ref.select(col(idCol).as("_qs_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("_qs_id", "term").agg(count(lit(1)).as("tf"))
    val rows = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"collectTfIdfStats: reference vocabulary exceeds maxVocab=$maxVocab")
    TfIdfStats(ref.count(),
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Stateless streaming twin of [[score]] against FROZEN reference
    * statistics: one narrow map per document over the broadcast
    * (model, stats) pair — no explode, no join, no aggregation
    * state, so it runs in append mode with no watermark and is the
    * ingest-time quality gate next to the streaming dedup admission
    * operators. Exact-parity contract (spec-pinned, the
    * streamingLmPerplexity stance): when `stats` is captured from
    * the same frame the batch path scores, output is row-identical —
    * same FNV bucket/sign bits, the same IEEE weight sequence
    * (tf·((N+1)/(df+1))·sign as double ops in that order), the same
    * floor(x·1e6+0.5) quantization, per-bucket long sums, the exact
    * integer weight×feature accumulation (BigInt — decimal(38,0)'s
    * range), margin = bias + Σ/1e12, and StrictMath.exp for the
    * sigmoid (Spark's codegen calls StrictMath). Works unchanged on
    * batch frames.
    */
  def streamingQualityScore(docs: DataFrame, idCol: String,
      textCol: String, model: LinearModel, stats: TfIdfStats): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wq = model.weights.map(w => math.floor(w * 1e6 + 0.5).toLong)
    val bc = spark.sparkContext.broadcast((stats, wq))
    val dim = model.dim
    val bias = model.bias
    // null text behaves like the batch path's restored row: no
    // tokens, margin = bias (explode drops it there; the coalesce
    // keeps the twin from NPEing here). Ids must be integral and
    // non-null — the knnBruteBatch stance.
    docs.select(col(idCol).cast("long"),
        coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (st, w6) = bc.value
        it.map { case (id, text) =>
          val toks = TextAnalysis.tokensLocal(text)
          val margin =
            if (toks.isEmpty) bias
            else {
              val tf = new java.util.HashMap[String, Long]()
              toks.foreach(t => tf.merge(t, 1L, _ + _))
              val v6 = new Array[Long](dim)
              val nd = st.nDocs
              tf.forEach { (term, n) =>
                val h = graft.functions.TextKernels.fnvHash64Kernel(
                  org.apache.spark.unsafe.types.UTF8String.fromString(term))
                val bucket = java.lang.Math.floorMod(h, dim.toLong).toInt
                val sign =
                  if (java.lang.Math.floorMod(h >> 32, 2L) == 0L) 1.0
                  else -1.0
                val dfT = st.df.getOrElse(term, 0L)
                val weight = n.toDouble *
                  ((nd + 1L).toDouble / (dfT + 1L).toDouble) * sign
                v6(bucket) += math.floor(weight * 1e6 + 0.5).toLong
              }
              var s = BigInt(0)
              var b = 0
              while (b < dim) {
                if (v6(b) != 0L) s += BigInt(w6(b)) * BigInt(v6(b))
                b += 1
              }
              bias + s.toDouble / 1e12
            }
          (id, margin,
            1.0 / (1.0 + java.lang.StrictMath.exp(-margin)))
        }
      }.toDF(idCol, "margin", "quality_prob")
  }

  def score(df: DataFrame, idCol: String, textCol: String,
            model: LinearModel,
            scope: Dedup.CacheScope = Dedup.batchScope): DataFrame = {
    val wq = model.weights.map(w => math.floor(w * 1e6 + 0.5).toLong)
    val wLit = typedlit(wq.toSeq)
    val dec = DecimalType(38, 0)
    // per-TERM weights, not per-bucket: the margin distributes over
    // the bucket collision sum exactly (integer products), so the
    // (doc, bucket) exchange is pure cost — one shuffle fewer on the
    // corpus-sized feature table (round-13 plan audit)
    val margins = Featurize
      .hashedTfIdfTermWeights(df, idCol, textCol, model.dim, scope)
      .select(col("_fh_id"),
        (element_at(wLit, col("_fh_b") + 1).cast(dec) *
          col("_fh_q6").cast(dec)).as("_qm_p"))
      .groupBy("_fh_id")
      .agg(sum(col("_qm_p")).as("_qm_s"))
      .select(col("_fh_id").as(idCol),
        (lit(model.bias) + col("_qm_s").cast("double") / lit(1e12))
          .as("margin"))
    df.select(col(idCol))
      .join(margins, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("margin"), lit(model.bias)).as("margin"))
      .withColumn("quality_prob",
        lit(1.0) / (lit(1.0) + exp(-col("margin"))))
  }
}

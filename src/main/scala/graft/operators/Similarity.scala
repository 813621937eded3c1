package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, same contract:
  *  - `knnBrute`   — exact top-k by cosine; one scan + TakeOrdered
  *                   (no full sort materializes — Spark turns
  *                   sort+limit into a per-partition heap).
  *  - `knnLsh`     — random-hyperplane LSH: the corpus is bucketed by
  *                   sign-bit signatures once (an indexing pass you'd
  *                   persist/bucket-by at 100 TB), queries probe only
  *                   matching buckets across `bands` independent
  *                   hash tables. Approximate; recall grows with
  *                   bands, precision of candidates with bitsPerBand.
  *
  * The inner products run through the codegen'd
  * [[graft.functions.DotProduct]] expression, not interpreted
  * higher-order lambdas.
  */
object Similarity {

  /** Deterministic random hyperplanes: `count` planes of `dim` dims.
    * Visible in-package so the d05 oracle can inline the same planes
    * as SQL literals (java.util.Random's Gaussian stream is specified
    * behavior, identical on every JVM).
    */
  private[graft] def planes(dim: Int, count: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of a vector against a set of hyperplanes
    * (composed-builtin form — the test oracle for the single-pass
    * [[graft.functions.HyperplaneSigs]] kernel used by the operators).
    */
  private[graft] def signature(vec: Column, ps: Seq[Array[Double]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      when(VectorOps.dot(vec, typedlit(p.toSeq)) > 0d,
           shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** (band, sig) rows for every band in one exploded pass over the
    * single kernel output. Band b's planes are `planes(dim,
    * bitsPerBand, seed + b)` — the kernel derives the same matrix
    * from (bands, bitsPerBand, dim, seed).
    */
  private def bandedSigs(vec: Column, bands: Int,
                         bitsPerBand: Int, dim: Int, seed: Long) =
    posexplode(VectorOps.hyperplaneSigs(vec, bands, bitsPerBand, dim, seed))

  /** Exact cosine top-k for one query vector.
    * Output: (id, cosine), k rows, ties broken by id.
    */
  def knnBrute(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = typedlit(query.toSeq)
    df.select(col(idCol).as("id"),
              VectorOps.cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Symmetric int8 quantization: scale = 127/max|x| per vector,
    * code_i = floor(x_i·scale + 0.5) ∈ [-127, 127]. Zero vectors
    * quantize to zero codes. Codes are integer-valued doubles so the
    * arithmetic is exact and engine-reproducible.
    */
  private def quantize(v: Column): Column = {
    val mx = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / mx
    when(mx === 0d, transform(v, _ => lit(0.0)))
      .otherwise(transform(v, x => floor(x * scale + lit(0.5)).cast("double")))
  }

  /** Int8-quantized exact top-k: cosine over per-vector symmetric
    * int8 codes. The per-vector scale cancels in the cosine, so the
    * ranking tracks [[knnBrute]] to within quantization error while
    * the stored/shuffled index is 4× smaller (byte codes vs float32)
    * — the standard memory layout for an ANN corpus at 100 TB (the
    * codes column is what you'd persist; full-precision vectors stay
    * on disk for an optional exact re-rank of the top candidates).
    * Same output contract as knnBrute: (id, cosine), ties by id.
    */
  def knnQuantized(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val qd = query.map(_.toDouble)
    val mxq = qd.map(math.abs).max
    val qCodes =
      if (mxq == 0) qd.map(_ => 0.0)
      else { val scale = 127.0 / mxq; qd.map(x => math.floor(x * scale + 0.5)) }
    val q = typedlit(qCodes.toSeq)
    df.select(col(idCol).as("id"),
        quantize(col(vecCol).cast("array<double>")).as("qv"))
      .select(col("id"), VectorOps.cosine(col("qv"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Quantized-scan + exact re-rank: the production two-pass ANN
    * pattern the quantized index exists for. Pass 1 ranks the whole
    * corpus on int8 codes ([[knnQuantized]] — at 100 TB that scan
    * reads the 4×-smaller persisted codes column, never the float
    * vectors) and keeps `k · overfetch` coarse candidates; pass 2
    * joins ONLY those ids back to the full-precision vectors
    * (broadcast — the candidate set is k·overfetch rows) and re-ranks
    * by exact cosine. Overfetch covers quantization-error rank
    * inversions near the cut; recall→exact as it grows, while the
    * expensive float read stays O(k·overfetch) instead of O(corpus).
    * Output: (id, cosine) with EXACT cosines, k rows, ties by id.
    */
  def knnQuantizedRerank(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val coarse = knnQuantized(df, idCol, vecCol, query, k * overfetch)
      .select(col("id"))
    val q = typedlit(query.toSeq)
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(broadcast(coarse), "id")
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** LSH-bucketed approximate top-k: probe the query's bucket in each
    * of `bands` hash tables, dedup candidates, exact-rank only those.
    * At production scale the `banded` side is the precomputed index
    * (write it bucketed by (band, sig) so the probe is a pruned scan,
    * not a join).
    */
  def knnLsh(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      bands: Int = 8, bitsPerBand: Int = 8, seed: Long = 7L): DataFrame = {
    val dim = query.length
    val allPlanes = (0 until bands).map(b => planes(dim, bitsPerBand, seed + b))
    val qd = query.map(_.toDouble)
    def sigOf(ps: Seq[Array[Double]], v: Array[Double]): Long =
      ps.zipWithIndex.map { case (p, i) =>
        if (p.zip(v).map { case (a, b) => a * b }.sum > 0) 1L << i else 0L
      }.reduce(_ | _)
    val qSigs = allPlanes.map(ps => sigOf(ps, qd))

    val banded = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id"), col("vec"),
        bandedSigs(col("vec"), bands, bitsPerBand, dim, seed).as(Seq("band", "sig")))

    val probe = (0 until bands)
      .map(b => col("band") === b && col("sig") === qSigs(b))
      .reduce(_ || _)

    val q = typedlit(query.toSeq)
    banded.where(probe)
      .select(col("id"), col("vec")).distinct()
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** How the IVF paths pick their `nCells` centroids. */
  sealed trait CentroidStrategy

  /** The `nCells` lowest-id vectors. Fully deterministic and trivially
    * replayable in another engine — the oracle path. On clustered real
    * embeddings the seeds can all land in one cluster, giving
    * unbalanced cells and poor recall at a fixed nProbe; prefer
    * [[KMeansCentroids]] for production indexes.
    */
  case object SeededCentroids extends CentroidStrategy

  /** Spherical k-means (k-means++ init, Lloyd iterations) over a
    * bounded deterministic sample. The sample is the `sampleSize`
    * rows with the lowest `xxhash64(id)` — a content-defined choice
    * that is stable across partition layouts and replays identically
    * on retry — collected to the driver (one bounded TakeOrdered; at
    * 100 TB this is a few thousand rows, not a scan result). Lloyd
    * runs on the driver over that sample: iterations cost
    * O(sampleSize·nCells·dim) — no per-iteration cluster job.
    * Deterministic for a fixed (sampleSize, iters, seed).
    */
  final case class KMeansCentroids(
      sampleSize: Int = 4096, iters: Int = 20,
      seed: Long = 42L) extends CentroidStrategy

  /** Distributed spherical k-means (round 14): the SAME k-means++
    * seeding over the same bounded content-defined sample as
    * [[KMeansCentroids]] (the two strategies differ only in who runs
    * Lloyd), then `iters` DISTRIBUTED Lloyd rounds over the FULL
    * corpus: each round is one narrow aggregation job — assign every
    * vector with the codegen'd nearest-centroid kernel the builds
    * use, posexplode to (cell, dim) keys, exact DECIMAL(38,18) sums
    * (order-free, so the fit is bit-deterministic across partition
    * layouts — the t29 stance, decimal-shaped) with map-side combine,
    * and a collect bounded by nCells·dim rows. No corpus data ever
    * reaches the driver.
    *
    * When to pay the rounds: [[KMeansCentroids]]' driver Lloyd fits
    * the SAMPLE's geometry — at a bounded cap the sample under-weights
    * exactly the mass concentrations that make cells skew, so on a
    * heavily duplicated/drifted corpus the sample-trained cells can
    * trip [[needsRebuild]] while a full-corpus fit balances (measured
    * in SURVEY §4's k-means probe). This strategy weights centroids by
    * TRUE corpus mass at one scan per round — the classic map-reduce
    * Lloyd, priced for indexes whose build cost is dominated by the
    * cells write anyway.
    */
  final case class KMeansCentroidsDistributed(
      sampleSize: Int = 4096, iters: Int = 10,
      seed: Long = 42L) extends CentroidStrategy

  /** IVF-style index: assign every vector to its nearest of `nCells`
    * centroid cells — one narrow pass computing
    * `argmax_i dot(vec, c_i)`, output written partitioned/bucketed by
    * `cell` so probes prune to the probed cells' files.
    */
  /** The centroid computation shared by every IVF path — ONE bounded
    * collect, reused between index build and probe ranking instead of
    * re-collecting per call. k-means centroids are unit-norm, so
    * `argmax dot` = `argmax cosine` for every assignment/probe.
    */
  private def centroidVectors(
      df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, strategy: CentroidStrategy): Array[Array[Double]] =
    strategy match {
      case SeededCentroids =>
        df.orderBy(idCol).limit(nCells)
          .select(vecCol).collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      case KMeansCentroids(sampleSize, iters, seed) =>
        kmeansOnSample(collectSample(df, idCol, vecCol, sampleSize),
          nCells, iters, seed)
      case KMeansCentroidsDistributed(sampleSize, iters, seed) =>
        kmeansDistributed(df, idCol, vecCol, nCells, sampleSize, iters,
          seed)
    }

  /** The bounded content-defined sample both k-means strategies seed
    * from: the `sampleSize` lowest-xxhash64(id) vectors — stable
    * across partition layouts, one bounded TakeOrdered.
    */
  private def collectSample(
      df: DataFrame, idCol: String, vecCol: String,
      sampleSize: Int): Array[Array[Double]] =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleSize)
      .select("vec").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Distributed Lloyd (see [[KMeansCentroidsDistributed]]): k-means++
    * seeding on the bounded sample (zero driver Lloyd rounds), then
    * one corpus aggregation per round. Stops early when a round moves
    * no centroid. Zero vectors drop (no direction). Deterministic:
    * the assignment kernel's tie-break is the build contract (lowest
    * cell), the per-(cell, dim) sums are exact decimals, and the
    * driver's mean/normalize arithmetic has a fixed evaluation order.
    *
    * EMPTY cells re-seed from the corpus — the capability the sampled
    * strategy physically cannot have: when the bounded sample holds
    * fewer distinct locations than nCells (a duplicate-heavy corpus —
    * the 100 TB norm), k-means++ runs out of distance mass and stacks
    * COINCIDENT centroids, whose tie-broken twins stay empty forever
    * under plain Lloyd (a coincident pair partitions identically, so
    * no round can separate it — on the driver there is no more sample
    * to separate it WITH). Here each round re-seeds its empty cells
    * at the corpus's worst-covered distinct vectors (lowest max-dot
    * against the current fit — the k-means++ choice, deterministically
    * tie-broken), one bounded TakeOrdered job paid only on rounds
    * that have empties.
    */
  private[graft] def kmeansDistributed(
      df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      sampleSize: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = {
      val seeded = kmeansOnSample(
        collectSample(df, idCol, vecCol, sampleSize), nCells, 0, seed)
      // the sample can hold fewer distinct points than nCells
      // (kmeansOnSample caps there — the driver strategy's hard
      // ceiling); pad with coincident copies, which tie-break empty
      // and are re-seeded from the corpus on the first round
      if (seeded.length >= nCells) seeded
      else seeded ++ Array.fill(nCells - seeded.length)(seeded.head.clone())
    }
    val dim = cents.head.length
    // unit-normalize once: spherical k-means assigns by max dot over
    // unit vectors, and the mean-of-units is what re-normalizes
    val unit = df
      .select(col(vecCol).cast("array<double>").as("v0"))
      .withColumn("_n",
        sqrt(graft.functions.VectorOps.dot(col("v0"), col("v0"))))
      .where(col("_n") > 0d)
      .select(transform(col("v0"), x => x / col("_n")).as("v"))
    var it = 0
    var changed = true
    while (it < iters && changed) {
      val assigned = unit.select(col("v"),
        graft.functions.VectorOps
          .nearestCentroid(col("v"), cents.flatten, dim).as("cell"))
      val rows = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg(sum(col("x")
            .cast(org.apache.spark.sql.types.DecimalType(38, 18))).as("s"),
          count(lit(1)).as("n"))
        .collect() // bounded: ≤ nCells·dim rows
      val sums = Array.fill(nCells, dim)(java.math.BigDecimal.ZERO)
      val counts = new Array[Long](nCells)
      rows.foreach { r =>
        val c = r.getInt(0)
        sums(c)(r.getInt(1)) = r.getDecimal(2)
        counts(c) = r.getLong(3)
      }
      val next = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old
        else {
          val mean = Array.tabulate(dim) { d =>
            (BigDecimal(sums(c)(d)) / BigDecimal(counts(c))).toDouble
          }
          val norm = math.sqrt(mean.map(x => x * x).sum)
          if (norm == 0d) old else mean.map(_ / norm)
        }
      }
      val empties = (0 until nCells).filter(counts(_) == 0L)
      if (empties.nonEmpty) {
        // re-seed at the corpus's worst-covered mass: per DISTINCT
        // vector, badness = multiplicity × (1 − max dot vs the updated
        // fit) — corpus-mass D², the k-means++ weight. Multiplicity
        // matters: a 10⁶-copy duplicate stack sharing a centroid with
        // another stack outweighs any lone far outlier, so re-seeds
        // split merged heavy cells instead of chasing noise. One
        // bounded TakeOrdered job, paid only on rounds with empties.
        val flat = typedlit(next.flatten.toSeq)
        val reseed = assigned
          .groupBy(col("v")).agg(count(lit(1)).as("_m"))
          .select(col("v"), col("_m"),
            graft.functions.VectorOps
              .nearestCentroid(col("v"), next.flatten, dim).as("nc"))
          .select(col("v"),
            ((lit(1d) - aggregate(
              zip_with(col("v"),
                slice(flat, col("nc") * dim + 1, lit(dim)),
                (a, b) => a * b),
              lit(0d), (acc, x) => acc + x)) * col("_m")).as("_s"))
          .orderBy(col("_s").desc, col("v").asc)
          .limit(empties.size).collect()
          .map(_.getSeq[Double](0).toArray)
        empties.zip(reseed).foreach { case (c, p) => next(c) = p }
      }
      changed = !next.zip(cents)
        .forall { case (a, b) => java.util.Arrays.equals(a, b) }
      cents = next
      it += 1
    }
    cents
  }

  /** Driver-side spherical k-means over an already-collected sample:
    * unit-normalize, k-means++ seeding (D² weighting with distance
    * 1 − cosine), then Lloyd iterations assigning by max dot and
    * re-normalizing mean centroids. Empty cells keep their previous
    * centroid. Stops early when assignments stabilize.
    */
  private[graft] def kmeansOnSample(
      sample: Array[Array[Double]], nCells: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    def normed(v: Array[Double]): Option[Array[Double]] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0d) None else Some(v.map(_ / n))
    }
    val pts = sample.flatMap(normed)
    require(pts.nonEmpty,
      "kmeans centroids: sample contains no non-zero vectors")
    val rnd = new scala.util.Random(seed)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0d; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // k-means++ seeding: D²-weighted draws, D = 1 − cos ∈ [0, 2]
    val cents = scala.collection.mutable.ArrayBuffer(
      pts(rnd.nextInt(pts.length)))
    val minD = pts.map(p => 1d - dot(p, cents.head))
    while (cents.length < math.min(nCells, pts.length)) {
      val total = minD.sum
      val pick =
        if (total <= 0d) rnd.nextInt(pts.length) // all points covered
        else {
          var r = rnd.nextDouble() * total; var i = 0
          while (i < pts.length - 1 && r > minD(i)) { r -= minD(i); i += 1 }
          i
        }
      val c = pts(pick)
      cents += c
      var i = 0
      while (i < pts.length) {
        val d = 1d - dot(pts(i), c)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    val centroids = cents.toArray
    // Lloyd: assign to max-dot centroid (ties → lowest cell, matching
    // assignCells), recompute unit-normalized means
    val assign = Array.fill(pts.length)(-1)
    var iter = 0
    var changed = true
    while (iter < iters && changed) {
      changed = false
      var i = 0
      while (i < pts.length) {
        var best = 0; var bestD = dot(pts(i), centroids(0)); var c = 1
        while (c < centroids.length) {
          val d = dot(pts(i), centroids(c))
          if (d > bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        val dim = pts(0).length
        var c = 0
        while (c < centroids.length) {
          val mean = new Array[Double](dim)
          var n = 0
          var i = 0
          while (i < pts.length) {
            if (assign(i) == c) {
              var j = 0
              while (j < dim) { mean(j) += pts(i)(j); j += 1 }
              n += 1
            }
            i += 1
          }
          if (n > 0) normed(mean).foreach(centroids(c) = _)
          c += 1
        }
      }
      iter += 1
    }
    centroids
  }

  private def assignCells(
      df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]],
      extraCols: Seq[String] = Nil): DataFrame = {
    // ties (duplicate centroids) break toward the LOWEST cell index —
    // the same direction both probe paths rank, so a probe never scans
    // an empty twin cell while the populated one goes unprobed. The
    // argmax runs inside ONE codegen'd kernel (the rounds-1..7
    // `greatest(struct(dot, -cell))` chain cost O(nCells) expression
    // nodes — a codegen explosion at SemDeDup's k ∝ corpus sizes; the
    // kernel accumulates each dot in the identical order, so every
    // assignment, and therefore every oracle hash, is unchanged).
    val dim = cents.head.length
    require(cents.forall(_.length == dim),
      "assignCells: ragged centroid table")
    df.select(Seq(col(idCol).as("id"), col(vecCol).as("vec"),
      VectorOps.nearestCentroid(col(vecCol), cents.flatten, dim)
        .as("cell"))
      ++ extraCols.map(col): _*)
  }

  def buildIvfIndex(
      df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16,
      strategy: CentroidStrategy = SeededCentroids): DataFrame =
    assignCells(df, idCol, vecCol,
      centroidVectors(df, idCol, vecCol, nCells, strategy))

  /** Topic-clustering corpus profile: assign every vector to its
    * nearest centroid (the [[buildIvfIndex]] assignment — argmax dot,
    * ties to the lowest cluster) and roll each cluster up into the
    * composition report a curation run reads: size, mean similarity
    * to the centroid, dominant label and its purity.
    *
    * Cross-engine exactness: the per-vector cosine to its assigned
    * centroid is quantized to micro-units BEFORE the per-cluster sum
    * (the t29 micro-nat stance), so `mean_cos` derives from an exact
    * order-independent long; the dominant label is an exact count
    * argmax (ties → lowest label).
    *
    * Scale shape: centroids ride the driver (bounded: nClusters ×
    * dim doubles) into codegen'd dot/cosine expressions — the
    * assignment pass is NARROW (no shuffle, embarrassingly parallel
    * at 100 TB); the only exchanges are two map-side-combined
    * aggregates keyed by cluster and (cluster, label) — both bounded
    * by nClusters × |labels| rows.
    *
    * Output: (cluster, n_vecs, mean_cos, top_label, top_label_n,
    * purity) — mean_cos/purity raw doubles of exact integer inputs;
    * round at the consumer.
    */
  def clusterProfile(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      nClusters: Int = 8,
      strategy: CentroidStrategy = SeededCentroids,
      scope: Dedup.CacheScope = Dedup.batchScope): DataFrame = {
    val cents = centroidVectors(df, idCol, vecCol, nClusters, strategy)
    val assigned = assignCells(df, idCol, vecCol, cents, Seq(labelCol))
    // cosine to the ASSIGNED centroid: a when-chain over the bounded
    // centroid table keeps the whole pass inside codegen
    val centOf = cents.zipWithIndex.tail.foldLeft(
        typedlit(cents.head.toSeq): Column) { case (acc, (c, i)) =>
      when(col("cell") === i, typedlit(c.toSeq)).otherwise(acc)
    }
    val cq = assigned.select(col("cell").as("cluster"), col(labelCol),
      floor(VectorOps.cosine(col("vec"), centOf) * lit(1e6) + lit(0.5))
        .as("cq"))
    // ONE corpus scan, ONE corpus-sized exchange keyed
    // (cluster, label): both rollups re-aggregate the bounded
    // clusters × labels table (the t29 cBi→cCtx shape) — a per-rollup
    // groupBy would scan the corpus and recompute every centroid dot
    // product twice. scope-persisted because column pruning makes the
    // two consumers' subplans differ, which defeats ReuseExchange
    val cellLabel = scope.persistTracked(
      cq.groupBy(col("cluster"), col(labelCol))
        .agg(count(lit(1)).as("nl"), sum("cq").as("sql_")))
    val byCluster = cellLabel.groupBy("cluster")
      .agg(sum("nl").as("n_vecs"), sum("sql_").as("sq"))
    // exact-count argmax, ties to the LOWEST label (max struct of
    // (nl, -label) — the assignCells tie stance)
    val top = cellLabel.groupBy("cluster")
      .agg(max(struct(col("nl"), (-col(labelCol)).as("neglabel")))
        .as("t"))
      .select(col("cluster"), (-col("t.neglabel")).as("top_label"),
        col("t.nl").as("top_label_n"))
    byCluster.join(top, "cluster")
      .select(col("cluster"), col("n_vecs"),
        (col("sq").cast("double") / lit(1e6)
          / col("n_vecs").cast("double")).as("mean_cos"),
        col("top_label"), col("top_label_n"),
        (col("top_label_n").cast("double") / col("n_vecs").cast("double"))
          .as("purity"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering first, then pruning near-duplicate
    * embeddings WITHIN each cluster only. A vector is pruned when its
    * cosine against a LOWER-id cluster-mate meets `threshold`; the
    * lowest id of each near-duplicate neighborhood survives — a
    * deterministic stand-in for the paper's "keep one per group"
    * (any tie-break works; id order is replayable cross-engine).
    *
    * Scale shape: the centroid assignment is the [[buildIvfIndex]]
    * pass — bounded centroids broadcast into a codegen'd when-chain,
    * NARROW, no shuffle. The pair step shuffles on `cell` and
    * compares only within a cluster, so the quadratic blow-up of
    * all-pairs cosine becomes Σ|cellᵢ|² — the whole point of the
    * paper's design: pick `nClusters` ∝ corpus size so E|cell| stays
    * bounded (10⁵ clusters at 10⁸ docs → ~10³-sized cells) and the
    * pair join is linear-ish in the corpus. `maxClusterSize` is the
    * skew guard for the degenerate cluster (boilerplate/all-zero
    * rays): an oversized cell would contribute |cell|² pairs, so its
    * members SKIP pairing and are all kept — conservative (never
    * drops data), same direction as the d02/d09 flood caps. Norms are
    * computed once per vector, not per pair (the d05 stance); the
    * per-pair cosine re-derives from dot/(nrm·nrm) with the exact
    * [[graft.functions.VectorOps.cosine]] op order so another engine
    * replays it bit-identically.
    *
    * Output: one row per input vector — (id, cluster, kept).
    */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double,
      strategy: CentroidStrategy = SeededCentroids,
      maxClusterSize: Long = Long.MaxValue,
      scope: Dedup.CacheScope = Dedup.batchScope): DataFrame = {
    val cents = centroidVectors(df, idCol, vecCol, nClusters, strategy)
    // ONE corpus scan + kernel pass: the assignment projection feeds
    // BOTH sides of the pair self-join plus the final keep/prune join
    // — without the cache each consumer would re-read the source and
    // re-run the nCells·dim assignment (the hammingPairs lesson; here
    // the cached row carries the vector too, because the verify pass
    // needs it — at 100 TB size the cache accordingly or let it spill)
    val assigned = scope.persistTracked(
      assignCells(df, idCol, vecCol, cents)
        .select(col("id"), col("cell"), col("vec"),
          VectorOps.norm(col("vec")).as("nrm")))
    val withNorm =
      if (maxClusterSize == Long.MaxValue) assigned
      else {
        val oversized = assigned.groupBy("cell")
          .agg(count(lit(1)).as("n")).where(col("n") > maxClusterSize)
          .select("cell")
        // ≤ nClusters rows by construction — broadcast the exclusion
        assigned.join(broadcast(oversized), Seq("cell"), "left_anti")
      }
    val pruned = withNorm.as("a")
      .join(withNorm.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") > col("b.id"))
      .select(col("a.id").as("id"),
        when(col("a.nrm") * col("b.nrm") === 0d, 0d)
          .otherwise(VectorOps.dot(col("a.vec"), col("b.vec")) /
                     (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .select("id").distinct()
    assigned.select(col("id"), col("cell").as("cluster"))
      .join(pruned.withColumn("isPruned", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("isPruned").isNull.as("kept"))
  }

  /** Streaming SemDeDup admission: flag arriving vectors whose cosine
    * against a SAME-CLUSTER member of a static reference corpus meets
    * `threshold` — the ingest-time twin of [[semDedup]], built from
    * stateless pieces only (the streamingCosineDecontaminate stance):
    * the arriving vector's cell assignment is a per-row when-chain
    * over the broadcast centroids, the static side's assignment and
    * norms persist ONCE in the streaming cache scope, and the join is
    * stream-static keyed by cell — no watermark, no state. An
    * oversized static cell (> `maxClusterSize`) is excluded whole, so
    * a vector landing in a flooded cell is admitted unflagged — the
    * same conservative direction as the batch guard.
    *
    * Output: (id, corpus_id, cluster, cosine) for flagged arrivals;
    * an admission pipeline anti-joins its batch on `id`.
    */
  def semDedupFlagStream(
      stream: DataFrame, idCol: String, vecCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusVecCol: String,
      nClusters: Int, threshold: Double,
      strategy: CentroidStrategy = SeededCentroids,
      maxClusterSize: Long = Long.MaxValue,
      scope: Dedup.CacheScope = Dedup.streamingScope): DataFrame = {
    val cents =
      centroidVectors(corpus, corpusIdCol, corpusVecCol, nClusters, strategy)
    val assigned0 = assignCells(corpus, corpusIdCol, corpusVecCol, cents)
    val assigned =
      if (maxClusterSize == Long.MaxValue) assigned0
      else assigned0.join(broadcast(
        assigned0.groupBy("cell").agg(count(lit(1)).as("n"))
          .where(col("n") > maxClusterSize).select("cell")),
        Seq("cell"), "left_anti")
    val staticSide = scope.persistTracked(assigned.select(
      col("id").as("corpus_id"), col("cell"), col("vec").as("vec_r"),
      VectorOps.norm(col("vec")).as("nrm_r")))
    val streamSide = assignCells(stream, idCol, vecCol, cents)
      .select(col("id"), col("cell"), col("vec").as("vec_l"),
        VectorOps.norm(col("vec")).as("nrm_l"))
    streamSide.join(staticSide, Seq("cell"))
      .select(col("id"), col("corpus_id"), col("cell").as("cluster"),
        when(col("nrm_l") * col("nrm_r") === 0d, 0d)
          .otherwise(VectorOps.dot(col("vec_l"), col("vec_r")) /
                     (col("nrm_l") * col("nrm_r"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): diversified top-k — greedily pick the candidate
    * maximizing `λ·cos(q,c) − (1−λ)·max_{s∈picked} cos(c,s)`, so a
    * near-duplicate of an already-picked result is penalized by its
    * redundancy. λ=1 is plain relevance ranking (spec-pinned ≡ brute
    * top-k); λ→0 maximizes diversity. The serving-side complement to
    * d15: semDedup prunes the CORPUS offline, MMR diversifies one
    * RESULT LIST online without touching the corpus.
    *
    * Scale shape: the corpus-side work is exactly a kNN probe
    * (narrow scored scan + bounded TakeOrdered of k·overfetch rows);
    * the greedy loop is inherently sequential (each pick changes the
    * next pick's penalty) and runs on the DRIVER over the collected
    * candidates — a bounded artifact (k·overfetch ≤ thousands), the
    * kmeansOnSample stance, never a corpus collect. O(k²·overfetch)
    * candidate cosines, computed once each (cached max-sim per
    * candidate, updated per pick). Compose with any retrieval front
    * end by overfetching there first (e.g. knnIvfPqIndexed → rerank
    * → diversify).
    *
    * Ties break to the lower id at every step (candidate sort AND
    * greedy argmax), so the output is fully deterministic.
    *
    * Output: (rank, id, cosine, mmr) — `cosine` the relevance,
    * `mmr` the score at pick time (rank 1's mmr = λ·cosine).
    */
  def diversifyTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, lambdaRel: Double = 0.7,
      overfetch: Int = 4): DataFrame = {
    require(k >= 1 && overfetch >= 1,
      "diversifyTopK: k and overfetch must be positive")
    require(lambdaRel >= 0d && lambdaRel <= 1d,
      "diversifyTopK: lambdaRel must be in [0, 1]")
    val q = typedlit(query.toSeq)
    val cands = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"),
        VectorOps.cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k * overfetch)
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(2)))
    def cosLocal(a: Array[Double], b: Array[Double]): Double = {
      var dab = 0d; var daa = 0d; var dbb = 0d; var i = 0
      while (i < a.length) {
        dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i)
        i += 1
      }
      val n = math.sqrt(daa) * math.sqrt(dbb)
      if (n == 0d) 0d else dab / n
    }
    val n = cands.length
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val used = new Array[Boolean](n)
    // max cos vs the picked set so far; -inf (not 0) so an
    // anti-parallel sole neighbor still counts as the true max
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    while (picked.length < math.min(k, n)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!used(i)) {
          val s =
            if (picked.isEmpty) lambdaRel * cands(i)._3
            else lambdaRel * cands(i)._3 - (1d - lambdaRel) * maxSim(i)
          // strict > over the relevance-sorted, id-tie-broken order
          // keeps the LOWEST id on score ties
          if (s > bestScore) { bestScore = s; best = i }
        }
        i += 1
      }
      used(best) = true
      picked += ((cands(best)._1, cands(best)._3, bestScore))
      var j = 0
      while (j < n) {
        if (!used(j)) {
          val c = cosLocal(cands(j)._2, cands(best)._2)
          if (c > maxSim(j)) maxSim(j) = c
        }
        j += 1
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case ((id, cos, mmr), i) => (i + 1, id, cos, mmr) }
      .toDF("rank", "id", "cosine", "mmr")
  }

  /** IVF probe: rank the query against the same deterministic
    * centroids, brute-force only the `nProbe` best cells. At scale the
    * index is pre-built and partitioned by cell, so this reads
    * nProbe/nCells of the data.
    */
  def knnIvf(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    val indexed = assignCells(df, idCol, vecCol, cents)
    val qd = query.map(_.toDouble)
    val probeCells = cents.zipWithIndex
      .map { case (c, i) => (c.zip(qd).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val q = typedlit(query.toSeq)
    indexed.where(col("cell").isin(probeCells.toIndexedSeq: _*))
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Metadata-filtered IVF ANN: top-k among probed-cell vectors that
    * satisfy `predicate` — the filtered-vector-search serving shape
    * ("nearest docs WHERE lang = 'en'"). The predicate applies INSIDE
    * the probed-cell scan, BEFORE any cosine is computed or any heap
    * row admitted: with attributes stored next to the vectors this is
    * exact pre-filtering at any selectivity, never overfetch-and-hope
    * (overfetch is only forced when the index layout cannot see the
    * attribute, e.g. bare PQ codes). Centroids and the probe ranking
    * deliberately come from the FULL corpus — the index is built
    * before any predicate exists — so the approximation is unchanged
    * from [[knnIvf]]: only probed cells are seen, and a
    * vanishing-selectivity predicate wants nProbe raised (measured by
    * the [[ivfRecall]]-style eval). Filtering before assignment also
    * skips the nearest-centroid kernel on dropped rows.
    */
  def knnIvfFiltered(
      df: DataFrame, idCol: String, vecCol: String,
      predicate: Column, query: Array[Float], k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    val indexed = assignCells(df.where(predicate), idCol, vecCol, cents)
    val qd = query.map(_.toDouble)
    val probeCells = cents.zipWithIndex
      .map { case (c, i) => (c.zip(qd).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val q = typedlit(query.toSeq)
    indexed.where(col("cell").isin(probeCells.toIndexedSeq: _*))
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Persist the IVF index partitioned by cell: `path/cells/cell=N/…`
    * plus the centroids under `path/centroids`. At 100 TB this is the
    * one-pass indexing job whose output makes every probe a
    * partition-pruned scan of nProbe/nCells of the files instead of a
    * full read (pinned by the PartitionFilters plan audit in
    * SimilaritySpec).
    */
  def writeIvfIndex(
      df: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int = 16,
      strategy: CentroidStrategy = SeededCentroids,
      attrCols: Seq[String] = Nil): Unit = {
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    // attrCols store filterable metadata NEXT TO the vectors — the
    // layout that turns a metadata-filtered probe into a parquet
    // predicate-pushdown read of the probed cells (knnIvfIndexedFiltered)
    assignCells(df, idCol, vecCol, cents, extraCols = attrCols)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    // centroids are already on the driver (bounded nCells rows) — write
    // them as-is so the stored index replays the exact build centroids
    // for ANY strategy
    val spark = df.sparkSession
    import spark.implicits._
    cents.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (c.toSeq, i) }.toDF("cv", "cell")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Takedown/delete for a persisted IVF or IVF-PQ index (round 13 —
    * both share the `cells` layout keyed by `id`): append the vector
    * ids to `path/tombstones`. Every probe path anti-joins the
    * tombstone set out of its pruned-cell scan BEFORE scoring/top-k,
    * so a deleted vector is probe-invisible immediately and cannot
    * crowd surviving vectors out of k or overfetch slots. Physical
    * removal at the next rebuild ([[rebuildIvfIndex]] /
    * [[rebuildIvfPqIndex]] fold tombstones and write a clean tree).
    * Idempotent; unknown ids are harmless no-op rows. Replay safety:
    * a replayed [[ivfPqIngestBatch]] is a no-op against its ingest
    * log, so it cannot resurrect a deleted vector. Same quiesce
    * contract as the LSH lifecycle: a delete racing a rebuild must
    * be re-issued against the new path. Id lifecycle (the LSH
    * stance): a tombstoned id stays dead until the next rebuild
    * folds it — rows appended under it before the fold are masked
    * and then removed; re-ingested vectors land under fresh ids.
    */
  def deleteFromIvfIndex(
      ids: DataFrame, idCol: String, path: String,
      maxTombstones: Long = Dedup.defaultMaxTombstones): Unit =
    Dedup.guardedTombstoneWrite("deleteFromIvfIndex",
      ids.select(col(idCol).as("id")).distinct(), path, maxTombstones)

  private[operators] def ivfTombstones(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(s"$path/tombstones").select("id").distinct())
    else None
  }

  /** Anti-join the pruned-cell scan against the tombstone set
    * (broadcast — takedowns are human-scale; a corpus-scale delete
    * is a rebuild).
    */
  private[operators] def cellsMinusTombstones(
      cells: DataFrame, ts: Option[DataFrame]): DataFrame =
    ts.map(t => cells.join(broadcast(t), Seq("id"), "left_anti"))
      .getOrElse(cells)

  /** Incrementally append vectors to a persisted IVF index: new rows
    * are assigned against the STORED centroids (identical tie-break
    * contract to the build's assignCells, any centroid strategy) and
    * appended to their cell partitions — no rebuild, no touch of
    * existing files, and every probe path picks the new vectors up
    * unchanged. This is the ingest shape for a living 100 TB ANN
    * corpus: the daily embedding batch pays one narrow assignment
    * pass + a partitioned append.
    *
    * Centroids are deliberately NOT updated — moving them would
    * reassign existing cells' contents (full rewrite). As the corpus
    * drifts from the build distribution, cell balance degrades;
    * [[cellStats]] measures it and [[needsRebuild]] is the documented
    * trigger (the classic IVF maintenance contract). The appended
    * frame must carry the same id/vector types as the original build.
    */
  def appendToIvfIndex(
      df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val cents = readCentroids(df.sparkSession, path)
    require(cents.nonEmpty, s"appendToIvfIndex: no centroids at $path")
    // the stored schema dictates the attribute columns — an index
    // built with attrCols keeps them through appends (a frame missing
    // one would silently schema-drift the cell files), and the append
    // frame must carry them under the STORED names
    val stored = df.sparkSession.read.parquet(s"$path/cells").schema
    val attrs = stored.fieldNames.toSeq.filterNot(Set("id", "vec", "cell"))
    val missing = attrs.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"appendToIvfIndex: index at $path stores attribute columns " +
        s"${attrs.mkString(", ")}; append frame is missing ${missing.mkString(", ")}")
    val drift = attrs.filter(a =>
      df.schema(a).dataType != stored(a).dataType)
    require(drift.isEmpty,
      s"appendToIvfIndex: attribute type drift on " +
        drift.map(a => s"$a (index ${stored(a).dataType.simpleString} " +
          s"vs frame ${df.schema(a).dataType.simpleString})")
          .mkString(", "))
    assignCells(df, idCol, vecCol, cents, extraCols = attrs)
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Balance snapshot of a persisted IVF index. `skew` is the classic
    * max/mean load factor: 1.0 is perfectly balanced; a probe of the
    * heaviest cell costs `skew`× the balanced cost, so skew IS the
    * worst-case probe-latency multiplier. Empty cells waste probe
    * budget (an nProbe draw on one reads nothing).
    */
  final case class IvfCellStats(
      nCells: Int, totalRows: Long, minCell: Long, maxCell: Long,
      meanCell: Double, skew: Double, emptyCells: Int)

  /** Per-cell row counts + skew for a persisted index — the monitoring
    * half of the append-only maintenance contract. One count aggregate
    * over the cells; the collect is bounded by nCells rows (cell is
    * the partition column, so the scan prunes to footers + the cell
    * directory listing, never the vector bytes).
    */
  def cellStats(
      spark: org.apache.spark.sql.SparkSession, path: String): IvfCellStats = {
    val nCells = readCentroids(spark, path).length
    require(nCells > 0, s"cellStats: no centroids at $path")
    val counts = spark.read.parquet(s"$path/cells")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perCell = (0 until nCells).map(c => counts.getOrElse(c, 0L))
    val total = perCell.sum
    val mean = total.toDouble / nCells
    IvfCellStats(
      nCells = nCells, totalRows = total,
      minCell = perCell.min, maxCell = perCell.max, meanCell = mean,
      skew = if (mean > 0) perCell.max / mean else 0.0,
      emptyCells = perCell.count(_ == 0L))
  }

  /** The rebuild trigger the append-only contract documents: rebuild
    * when the heaviest cell costs more than `maxSkew`× the balanced
    * probe (default 4×), or when over half the cells are empty (the
    * corpus has drifted off the build centroids entirely). Thresholds
    * are policy, not physics — expose them to the caller.
    */
  def needsRebuild(stats: IvfCellStats, maxSkew: Double = 4.0,
      maxEmptyFrac: Double = 0.5): Boolean =
    stats.skew > maxSkew ||
      stats.emptyCells > stats.nCells * maxEmptyFrac

  /** The rebuild itself: re-read the stored (id, vec) pairs, recompute
    * centroids over the CURRENT corpus (k-means by default — the
    * whole point of rebuilding is adapting to drift the stale
    * centroids can't express), and write a fresh index at `newPath`.
    * Writes to a NEW path on purpose: probes against oldPath stay
    * correct throughout (the index is immutable-plus-append), and the
    * atomic old→new swap is a catalog/pointer update owned by the
    * caller — same contract as every compaction job here (see
    * Layout.compact's in-place refusal; overwrite truncates before
    * the lazy read runs).
    */
  def rebuildIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      oldPath: String, newPath: String, nCells: Int,
      strategy: CentroidStrategy = KMeansCentroids()): Unit = {
    require(new org.apache.hadoop.fs.Path(oldPath) !=
        new org.apache.hadoop.fs.Path(newPath),
      "rebuildIvfIndex: newPath must differ from oldPath (overwrite " +
        "truncates the output before the read runs; swap pointers " +
        "after the rebuild lands)")
    // ingest-log carry first, data after (the rebuildHnswIndex
    // ordering; no-op for an index never stream-fed)
    graft.sources.BatchLog.copyTo(spark,
      s"$oldPath/ingest_log", s"$newPath/ingest_log")
    // takedown fold: tombstoned vectors leave the rebuild physically
    // and the tombstones are not carried — the new tree starts clean
    val stored = cellsMinusTombstones(
      spark.read.parquet(s"$oldPath/cells").select("id", "vec"),
      ivfTombstones(spark, oldPath))
    writeIvfIndex(stored, "id", "vec", newPath, nCells, strategy)
  }

  /** Probe a persisted IVF index: rank the stored centroids against
    * the query (bounded nCells-row collect), then scan ONLY the
    * `nProbe` best cells' files. Same ranking contract as [[knnIvf]].
    */
  /** Stored centroids as double arrays, sorted by cell. Indexes
    * written by writeIvfIndex before round 5 stored the raw float
    * vectors — accept both element types so an old persisted index
    * (built once, by design long-lived) keeps probing after upgrade.
    */
  private def readCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids").collect()
      .map { r =>
        val cv = r.getSeq[Any](r.fieldIndex("cv")).map {
          case d: java.lang.Double => d.doubleValue
          case f: java.lang.Float => f.doubleValue
          case other => throw new IllegalArgumentException(
            s"centroid element of unexpected type: ${other.getClass}")
        }.toArray
        (r.getInt(r.fieldIndex("cell")), cv)
      }
      .sortBy(_._1).map(_._2)

  def knnIvfIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Float], k: Int, nProbe: Int = 4): DataFrame = {
    val qd = query.map(_.toDouble)
    val probeCells = readCentroids(spark, path).zipWithIndex
      .map { case (cv, cell) =>
        (cv.zip(qd).map { case (a, b) => a * b }.sum, cell)
      }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val q = typedlit(query.toSeq)
    cellsMinusTombstones(
      spark.read.parquet(s"$path/cells")
        .where(col("cell").isin(probeCells.toIndexedSeq: _*)),
      ivfTombstones(spark, path))
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Metadata-filtered probe of a PERSISTED IVF index: the 100 TB
    * form of [[knnIvfFiltered]]. The index stores attribute columns
    * next to the vectors (writeIvfIndex's `attrCols`), so the
    * predicate reaches the parquet scan of the probed cells as a
    * pushed filter — the scan skips row groups whose attr statistics
    * exclude the predicate BEFORE any vector bytes are read, stacked
    * on top of the cell partition pruning (two multiplicative prunes:
    * nProbe/nCells of the files, then only the predicate-passing row
    * groups within them). Spec pins both filters in the plan and
    * parity with the in-memory filtered probe.
    */
  def knnIvfIndexedFiltered(
      spark: org.apache.spark.sql.SparkSession, path: String,
      predicate: Column, query: Array[Float], k: Int,
      nProbe: Int = 4): DataFrame = {
    val qd = query.map(_.toDouble)
    val probeCells = readCentroids(spark, path).zipWithIndex
      .map { case (cv, cell) =>
        (cv.zip(qd).map { case (a, b) => a * b }.sum, cell)
      }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val q = typedlit(query.toSeq)
    cellsMinusTombstones(
      spark.read.parquet(s"$path/cells")
        .where(col("cell").isin(probeCells.toIndexedSeq: _*))
        .where(predicate),
      ivfTombstones(spark, path))
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Batch exact top-k: many query vectors against the corpus in ONE
    * pass. The per-query `knnBrute` shape doesn't scale to a batch of
    * queries (a job per query); this is the 100 TB formulation:
    * broadcast the (small) query set, stream the corpus once, and
    * aggregate with the bounded-heap [[graft.functions.TopK]] — the
    * shuffle carries at most k rows per (query, partition) instead of
    * |queries|×|corpus| scored rows into a sort.
    *
    * Output: (query_id, id, cosine), k rows per query, ties broken by
    * ascending id (same contract as knnBrute).
    */
  /** The bounded-heap aggregate packs ids as longs: a non-integral id
    * would cast to null and be silently skipped — fail fast instead.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(dt == LongType || dt == IntegerType || dt == ShortType ||
        dt == ByteType,
      s"batch knn operators require an integral id column (the top-k " +
        s"heap packs ids as long); '$idCol' is $dt — add a surrogate " +
        "long id or use knnBrute")
  }

  def knnBruteBatch(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    requireIntegralId(corpus, idCol)
    val q = broadcast(
      queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
      .crossJoin(q)
      .select(col("query_id"), col("id"),
              VectorOps.cosine(col("cv"), col("qv")).as("cosine"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"), col("e.ord").as("cosine"))
  }

  /** Batch IVF top-k: many query vectors against the corpus, reading
    * only probed cells — the composition of [[knnBruteBatch]]'s
    * one-scan shape with [[knnIvf]]'s cell pruning. Per query, the
    * `nProbe` best cells are picked by an array expression over the
    * centroid literals (rank by dot, ties → lower cell — identical to
    * knnIvf's probe), the (query, cell) pairs broadcast, and the
    * cell-assigned corpus joins on `cell`: a corpus row is scored only
    * against queries probing its cell, and the shuffle into the
    * bounded-heap top-k carries ≤k rows per (query, partition). With a
    * persisted cell-partitioned index the join prunes to
    * |∪ probed cells| / nCells of the files.
    * Output: (query_id, id, cosine), k rows per query, ties by id.
    */
  def knnIvfBatch(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    requireIntegralId(corpus, idCol)
    val cents = centroidVectors(corpus, idCol, vecCol, nCells, strategy)
    val indexed = assignCells(corpus, idCol, vecCol, cents)
    // (-score, cell) structs sort ascending = score desc, ties → lower
    // cell; slice nProbe and explode to (query_id, qv, cell)
    val scoreStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-VectorOps.dot(col("qv"), typedlit(c.toSeq))).as("neg"),
             lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val probes = broadcast(
      queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"))
        .select(col("query_id"), col("qv"),
          explode(transform(slice(array_sort(scoreStructs), 1, nProbe),
            s => s.getField("cell"))).as("cell")))
    indexed.join(probes, "cell")
      .select(col("query_id"), col("id"),
              VectorOps.cosine(col("vec"), col("qv")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"), col("e.ord").as("cosine"))
  }

  /** ANN quality report: recall@k of the IVF probe against the exact
    * brute-force top-k, per query — the eval that decides
    * nCells/nProbe BEFORE committing a 100 TB index layout. Runs both
    * paths over the corpus (one scan each), joins the two
    * k-row-per-query result sets on (query_id, id), and reports the
    * hit count and recall fraction per query; queries whose probed
    * cells miss every true neighbor still appear, with 0s.
    *
    * Cost is the sum of the two scans it composes (the exact side is
    * the price of ground truth — this runs on an eval SAMPLE of
    * queries, not the serving path); the join and aggregate touch
    * only k·|queries| rows. recall is n_hit/k: one small-int/double
    * IEEE division, bit-stable cross-engine.
    */
  def ivfRecall(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val approx = knnIvfBatch(queries, qIdCol, qVecCol, corpus, idCol,
      vecCol, k, nCells, nProbe)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol, corpus, idCol,
      vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** Recall@k of the PQ asymmetric-distance probe against the exact
    * brute-force top-k — [[ivfRecall]]'s report for the COMPRESSED
    * layouts (s10/s11 and the persisted code stores), which is what a
    * 100 TB deployment actually ships: without it, m/nCodes/overfetch
    * tuning for the code layout is blind. Approx side =
    * [[knnPqBatch]] (ADC coarse + exact rerank, so a miss means the
    * true neighbor never entered the candidate set); exact side =
    * [[knnBruteBatch]]. Same output contract as ivfRecall:
    * (query_id, n_hit, recall), every query present, recall = n_hit/k.
    */
  def pqRecall(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, cb: PqCodebook, overfetch: Int = 4): DataFrame = {
    val approx = knnPqBatch(queries, qIdCol, qVecCol, corpus, idCol,
      vecCol, k, cb, overfetch)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol, corpus, idCol,
      vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** Recall@k of a PERSISTED IVF-PQ index's batch probe against the
    * exact brute-force top-k over the caller's full-precision
    * vectors — the pre-commit eval for the full composed layout
    * (cell pruning × code compression): sweep nProbe/overfetch here
    * BEFORE pointing the serving loop at the index.
    */
  def ivfPqRecallIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4, overfetch: Int = 4): DataFrame = {
    val approx = knnIvfPqBatchIndexed(spark, path, vectors, idCol,
      vecCol, queries, qIdCol, qVecCol, k, nProbe, overfetch)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol, vectors, idCol,
      vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** Recall@k of the metadata-FILTERED probes against the exact
    * brute top-k over the predicate-passing corpus — the eval the
    * filtered family's own contract points at: a vanishing-
    * selectivity predicate starves probed cells (the filtered rows
    * may live in cells the unfiltered centroid ranking never probes),
    * and this report is how nProbe gets raised BEFORE a filtered
    * serving path ships. In-memory form over [[knnIvfBatchFiltered]];
    * ground truth = [[knnBruteBatch]] over `corpus.where(predicate)`.
    */
  def filteredIvfRecall(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      predicate: Column, k: Int, nCells: Int = 16, nProbe: Int = 4,
      strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    val approx = knnIvfBatchFiltered(queries, qIdCol, qVecCol, corpus,
      idCol, vecCol, predicate, k, nCells, nProbe, strategy)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol,
      corpus.where(predicate), idCol, vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** [[filteredIvfRecall]] for a persisted attr-carrying IVF-PQ
    * index ([[knnIvfPqBatchIndexedFiltered]]) — the pre-commit eval
    * for the filtered COMPRESSED serving path (s17's layout).
    */
  def filteredIvfPqRecallIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      predicate: Column, k: Int, nProbe: Int = 4,
      overfetch: Int = 4): DataFrame = {
    val approx = knnIvfPqBatchIndexedFiltered(spark, path, vectors,
      idCol, vecCol, queries, qIdCol, qVecCol, predicate, k, nProbe,
      overfetch)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol,
      vectors.where(predicate), idCol, vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** Shared hit-join + per-query report of the recall evals: count
    * (query_id, id) agreements, restore zero-hit queries via the
    * query spine. Touches only k·|queries| rows per side.
    */
  private[graft] def recallReport(queries: DataFrame, qIdCol: String,
      approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = approx.select("query_id", "id")
      .join(exact.select("query_id", "id"), Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    queries.select(col(qIdCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }

  /** Batch form of [[knnIvfFiltered]]: many queries, one
    * predicate-filtered corpus pass — the filtered-serving shape for
    * query batches. The predicate applies before cell assignment
    * (skipping the nearest-centroid kernel on dropped rows, exactly
    * like the single-query form); per-query cell probing, the
    * broadcast (query, cell) join, and the bounded-heap top-k are
    * [[knnIvfBatch]] unchanged. Same output contract: (query_id, id,
    * cosine), k rows per query (fewer when the filtered probed cells
    * hold fewer than k rows), ties by id.
    */
  def knnIvfBatchFiltered(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      predicate: Column, k: Int, nCells: Int = 16, nProbe: Int = 4,
      strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    requireIntegralId(corpus, idCol)
    val cents = centroidVectors(corpus, idCol, vecCol, nCells, strategy)
    val indexed = assignCells(corpus.where(predicate), idCol, vecCol, cents)
    val scoreStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-VectorOps.dot(col("qv"), typedlit(c.toSeq))).as("neg"),
             lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val probes = broadcast(
      queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"))
        .select(col("query_id"), col("qv"),
          explode(transform(slice(array_sort(scoreStructs), 1, nProbe),
            s => s.getField("cell"))).as("cell")))
    indexed.join(probes, "cell")
      .select(col("query_id"), col("id"),
              VectorOps.cosine(col("vec"), col("qv")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"), col("e.ord").as("cosine"))
  }

  /** Batch probe of a PERSISTED IVF index ([[writeIvfIndex]]) — the
    * production shape: the index is built once (the expensive
    * assignment pass over 100 TB), then every query batch reads only
    * `|∪ probed cells| / nCells` of the files. The probed-cell union
    * is collected driver-side (bounded by nCells) and applied as a
    * static `isin` partition filter, so pruning does not depend on
    * dynamic-partition-pruning kicking in; per-query matching then
    * rides the broadcast (query, cell) join exactly like
    * [[knnIvfBatch]]. Same output contract.
    *
    * Batch-size tradeoff: the pruning ratio is |∪ probed cells| /
    * nCells, and the union grows with the batch — 50 diverse queries
    * at nProbe=4 over 64 cells probe nearly every cell. Large query
    * batches want nCells scaled up (keep nProbe·|Q| ≪ nCells), or
    * the batch split by query similarity so each sub-batch's union
    * stays small.
    */
  def knnIvfBatchIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val cents = readCentroids(spark, path)
    val scoreStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-VectorOps.dot(col("qv"), typedlit(c.toSeq))).as("neg"),
             lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val probes0 = queries
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(transform(slice(array_sort(scoreStructs), 1, nProbe),
          s => s.getField("cell"))).as("cell"))
    val probedCells = probes0.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val cells = spark.read.parquet(s"$path/cells")
    requireIntegralId(cells, "id")
    cellsMinusTombstones(
      cells.where(col("cell").isin(probedCells.toIndexedSeq: _*)),
      ivfTombstones(spark, path))
      .join(broadcast(probes0), "cell")
      .select(col("query_id"), col("id"),
              VectorOps.cosine(col("vec"), col("qv")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"), col("e.ord").as("cosine"))
  }

  /** kNN classification: predict each query's label by majority vote
    * of its k nearest corpus neighbors. Same one-scan shape as
    * [[knnBruteBatch]] — broadcast queries, bounded-heap top-k, then a
    * vote aggregate over k·|queries| rows.
    * Ties: more votes win, then the smaller label (deterministic).
    * Output: (query_id, pred_label, votes).
    *
    * `excludeSelf` (default true) drops corpus rows whose id equals
    * the query id — the leave-one-out contract when queries ARE corpus
    * rows. Set it false when query and corpus id spaces are unrelated:
    * with shared numbering, id equality would wrongly exclude an
    * unrelated corpus row from exactly that query's neighborhood.
    */
  def knnClassify(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireIntegralId(corpus, idCol)
    val q = broadcast(
      queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv")))
    val neighbors = corpus
      .select(col(idCol).as("id"), col(vecCol).as("cv"))
      .crossJoin(q)
      .where(if (excludeSelf) col("id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("id"),
              VectorOps.cosine(col("cv"), col("qv")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("id"))
    val votes = neighbors
      .join(corpus.select(col(idCol).as("id"), col(labelCol).as("label")), "id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /** All-pairs embedding near-duplicates above a cosine threshold,
    * LSH-bucketed exactly like [[Dedup.minhashCandidates]] but in
    * sign-bit space. Output: (id_a, id_b, cosine) ≥ threshold.
    *
    * Shuffle discipline: the banded frame carries only
    * (id, band, sig) — ~24 bytes/row — so the exploded self-join never
    * moves an embedding. Candidate id-pairs are deduped *before* the
    * verify pass, then the (small) pair set hash-joins the vectors
    * back, so each embedding crosses the wire once per join side
    * instead of `bands`× plus once per colliding candidate.
    */
  def cosineDuplicates(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, bands: Int = 8, bitsPerBand: Int = 8,
      seed: Long = 7L): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = base
      .select(col("id"),
        bandedSigs(col("vec"), bands, bitsPerBand, dim, seed).as(Seq("band", "sig")))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.sig") === col("b.sig") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Verify pass over candidates only. Norms are computed once per
    // vector here (not per candidate): one dot product per pair.
    val withNorm = base.select(col("id"), col("vec"),
      VectorOps.norm(col("vec")).as("nrm"))
    pairs
      .join(withNorm.withColumnsRenamed(
        Map("id" -> "id_a", "vec" -> "vec_a", "nrm" -> "nrm_a")), "id_a")
      .join(withNorm.withColumnsRenamed(
        Map("id" -> "id_b", "vec" -> "vec_b", "nrm" -> "nrm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        when(col("nrm_a") * col("nrm_b") === 0d, 0d)
          .otherwise(VectorOps.dot(col("vec_a"), col("vec_b")) /
                     (col("nrm_a") * col("nrm_b"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Semantic decontamination: training vectors whose cosine against
    * ANY eval vector meets `threshold` — the embedding-space twin of
    * [[graft.operators.Dedup.decontaminate]]. Text shingles catch
    * verbatim and near-verbatim leakage; embeddings catch the
    * paraphrase-level leakage a shingle Jaccard structurally misses —
    * a benchmark answer reworded shares no 3-shingles but sits on the
    * same embedding ray. Production decontamination runs BOTH.
    *
    * Candidates via cross-corpus sign-LSH: both sides band with the
    * SAME seed-derived hyperplanes, so near-parallel vectors collide
    * regardless of which corpus they sit in; the banding exchanges
    * carry (id, band, sig) only, and the eval side is typically tiny
    * (benchmarks), so the join broadcasts it. `maxBucketSize` is the
    * |L|·|R| flood guard with the same both-sides stance as the text
    * path: a (band, sig) key saturated on EITHER side is dropped from
    * BOTH (embedding-space floods are real — all-zero vectors, a
    * boilerplate template embedded 10⁵×). Exact cosine verify runs
    * over the deduped candidates only.
    * Output: (id_left, id_right, cosine) ≥ threshold.
    */
  def cosineDecontaminate(
      train: DataFrame, eval: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bands: Int = 8, bitsPerBand: Int = 8,
      maxBucketSize: Int = Int.MaxValue, seed: Long = 7L): DataFrame = {
    val baseL = train.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val baseR = eval.select(col(idCol).as("id"), col(vecCol).as("vec"))
    def banded(b: DataFrame, idName: String) =
      b.select(col("id").as(idName),
        bandedSigs(col("vec"), bands, bitsPerBand, dim, seed)
          .as(Seq("band", "sig")))
    val bL0 = banded(baseL, "id_left")
    val bR0 = banded(baseR, "id_right")
    val (bL, bR) =
      if (maxBucketSize == Int.MaxValue) (bL0, bR0)
      else {
        def oversized(b: DataFrame) =
          b.groupBy("band", "sig").agg(count(lit(1)).as("n"))
            .where(col("n") > maxBucketSize).select("band", "sig")
        val bad = oversized(bL0).union(oversized(bR0)).distinct()
        (bL0.join(bad, Seq("band", "sig"), "left_anti"),
         bR0.join(bad, Seq("band", "sig"), "left_anti"))
      }
    val pairs = bL.as("a")
      .join(bR.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.id_left"), col("b.id_right"))
      .distinct()
    pairs
      .join(baseL.select(col("id").as("id_left"), col("vec").as("vec_l"),
        VectorOps.norm(col("vec")).as("nrm_l")), "id_left")
      .join(baseR.select(col("id").as("id_right"), col("vec").as("vec_r"),
        VectorOps.norm(col("vec")).as("nrm_r")), "id_right")
      .select(col("id_left"), col("id_right"),
        when(col("nrm_l") * col("nrm_r") === 0d, 0d)
          .otherwise(VectorOps.dot(col("vec_l"), col("vec_r")) /
                     (col("nrm_l") * col("nrm_r"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Streaming semantic decontamination: flag streamed vectors whose
    * cosine against ANY vector of a STATIC eval corpus meets
    * `threshold` — the ingest-time twin of [[cosineDecontaminate]],
    * built like the text path (Dedup.streamingDecontaminate) from
    * stateless pieces only: the stream side's banding is a per-row
    * projection (one kernel pass + posexplode), the join is
    * stream-static, no watermark state. Per-batch work is O(batch):
    * the banded static side (and its norms) persist in the streaming
    * cache scope so micro-batches never recompute O(eval).
    *
    * `maxStaticBucketSize` is the static-side skew guard, applied
    * ONCE at stream start: without it, a streamed template vector
    * hitting a saturated eval bucket fans out |bucket| rows per
    * colliding band, per batch, forever. (The stream side can't be
    * capped statelessly; the static cap is what bounds the per-row
    * fanout.) Cap sizing: sign-LSH buckets run organically heavier
    * than text minhash buckets — see the SimilaritySpec flood spec.
    *
    * Output per batch: (id_left, id_right, cosine) ≥ threshold. A
    * pair colliding in several bands emits once per band — a
    * stateless stream can't dedup across rows (that would be a state
    * store growing with the corpus); consumers dedup per sink batch
    * (foreachBatch dropDuplicates) if they need exactly-one, same
    * contract as the text path.
    */
  def streamingCosineDecontaminate(
      stream: DataFrame, eval: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bands: Int = 8, bitsPerBand: Int = 8,
      maxStaticBucketSize: Int = Int.MaxValue, seed: Long = 7L,
      scope: Dedup.CacheScope = Dedup.streamingScope): DataFrame = {
    val baseR = eval.select(col(idCol).as("id_right"), col(vecCol).as("vec"))
    val bandedR0 = baseR.select(col("id_right"),
      bandedSigs(col("vec"), bands, bitsPerBand, dim, seed)
        .as(Seq("band", "sig")))
    val bandedR = scope.persistTracked(
      if (maxStaticBucketSize == Int.MaxValue) bandedR0
      else bandedR0.join(
        bandedR0.groupBy("band", "sig").agg(count(lit(1)).as("n"))
          .where(col("n") <= maxStaticBucketSize).select("band", "sig"),
        Seq("band", "sig"), "left_semi"))
    val normR = scope.persistTracked(baseR.select(col("id_right"),
      col("vec").as("vec_r"), VectorOps.norm(col("vec")).as("nrm_r")))
    // stream side: vec + norm ride along with the banding projection,
    // so the kernel and the norm run once per streamed row
    val bandedL = stream.select(
      col(idCol).as("id_left"), col(vecCol).as("vec_l"),
      VectorOps.norm(col(vecCol)).as("nrm_l"),
      bandedSigs(col(vecCol), bands, bitsPerBand, dim, seed)
        .as(Seq("band", "sig")))
    bandedL
      .join(bandedR, Seq("band", "sig"))
      .select(col("id_left"), col("id_right"), col("vec_l"), col("nrm_l"))
      .join(normR, "id_right")
      .select(col("id_left"), col("id_right"),
        when(col("nrm_l") * col("nrm_r") === 0d, 0d)
          .otherwise(VectorOps.dot(col("vec_l"), col("vec_r")) /
                     (col("nrm_l") * col("nrm_r"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  // ───────────────── Product quantization (s10) ─────────────────

  /** PQ codebook: `codebooks(s)(c)` is the `subDim`-dim centroid `c`
    * of subspace `s`. The standard 100 TB ANN memory layout: a
    * 64-dim float vector (256 B) compresses to `m` small code ints
    * (m bytes as int8 on disk) + one stored norm — 16-32× smaller
    * than float32, vs int8 scalar quantization's 4×.
    */
  /** `rotation` (round 9, OPQ — Ge et al., "Optimized Product
    * Quantization", CVPR 2013): an optional learned d×d orthonormal
    * matrix applied to every vector BEFORE the subspace split
    * (row-major: `y = R·x`, `y(j) = R(j)·x`). Rotation preserves
    * norms and pairwise dots, so the ADC chain is unchanged except
    * that codes come from rotated vectors and the query is rotated
    * before its lookup table — the exact rerank still runs on the
    * original float vectors. None = plain PQ (every oracle-gated
    * query's contract).
    */
  final case class PqCodebook(
      subDim: Int, codebooks: Array[Array[Array[Double]]],
      rotation: Option[Array[Array[Double]]] = None) {
    def m: Int = codebooks.length
    def nCodes: Int = codebooks.head.length
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "PqCodebook: empty codebook")
    require(codebooks.forall(_.forall(_.length == subDim)),
      "PqCodebook: centroid dim != subDim")
    require(rotation.forall(r => r.length == m * subDim &&
        r.forall(_.length == m * subDim)),
      "PqCodebook: rotation must be square d×d with d = m·subDim")
    /** Subspace-major flattening — the [[graft.functions.PqEncodeCodes]]
      * layout: `flat(s·nCodes·subDim + c·subDim + j) = codebooks(s)(c)(j)`.
      */
    def flat: Array[Double] = codebooks.flatten.flatten
  }

  /** Sequential left-to-right dot — the SAME fold order as the
    * codegen'd VectorOps kernel and DuckDB's list_dot_product, so a
    * driver-computed lookup table is bit-identical to what either
    * engine computes from the same doubles.
    */
  private def dotSeq(a: Array[Double], b: Array[Double], aOff: Int): Double = {
    var s = 0d; var j = 0
    while (j < b.length) { s += a(aOff + j) * b(j); j += 1 }
    s
  }

  /** Euclidean k-means on a driver-side sample — PQ subspace training.
    * [[kmeansOnSample]] is spherical (unit-normalize, max-dot): right
    * for IVF cells over cosine space, wrong for PQ subvectors, which
    * are arbitrary-scale slices. This is the plain-L2 variant: D²
    * seeding, Lloyd assigning nearest by squared L2 (ties → lowest
    * centroid, the [[pqEncode]] contract), unnormalized means; empty
    * cells keep their previous centroid. Deterministic given the seed.
    */
  private[graft] def kmeansEuclidean(
      sample: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty, "kmeansEuclidean: empty sample")
    val dim = sample(0).length
    val rnd = new scala.util.Random(seed)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0d; var j = 0
      while (j < dim) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }
    val cents = scala.collection.mutable.ArrayBuffer(
      sample(rnd.nextInt(sample.length)).clone())
    val minD = sample.map(p => sq(p, cents.head))
    while (cents.length < math.min(k, sample.length)) {
      val total = minD.sum
      val pick =
        if (total <= 0d) rnd.nextInt(sample.length)
        else {
          var r = rnd.nextDouble() * total; var i = 0
          while (i < sample.length - 1 && r > minD(i)) { r -= minD(i); i += 1 }
          i
        }
      val c = sample(pick).clone()
      cents += c
      var i = 0
      while (i < sample.length) {
        val d = sq(sample(i), c)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    val centroids = cents.toArray
    val assign = Array.fill(sample.length)(-1)
    var iter = 0
    var changed = true
    while (iter < iters && changed) {
      changed = false
      var i = 0
      while (i < sample.length) {
        var best = 0; var bestD = sq(sample(i), centroids(0)); var c = 1
        while (c < centroids.length) {
          val d = sq(sample(i), centroids(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        var c = 0
        while (c < centroids.length) {
          val mean = new Array[Double](dim)
          var n = 0
          var i = 0
          while (i < sample.length) {
            if (assign(i) == c) {
              var j = 0
              while (j < dim) { mean(j) += sample(i)(j); j += 1 }
              n += 1
            }
            i += 1
          }
          if (n > 0) {
            var j = 0
            while (j < dim) { mean(j) /= n; j += 1 }
            centroids(c) = mean
          }
          c += 1
        }
      }
      iter += 1
    }
    centroids
  }

  private def splitSub(v: Array[Double], m: Int, subDim: Int): Array[Array[Double]] =
    Array.tabulate(m)(s => v.slice(s * subDim, (s + 1) * subDim))

  /** Deterministic codebook from the `nCodes` lowest-id vectors'
    * subvectors — the [[SeededCentroids]] stance, which is what lets
    * the s10 query be oracle-GATED (DuckDB rebuilds the identical
    * codebook with a row_number over vec_id). Production uses
    * [[pqTrainCodebook]]; the two share every downstream step.
    */
  def pqSeededCodebook(df: DataFrame, idCol: String, vecCol: String,
                       m: Int, nCodes: Int): PqCodebook = {
    val vecs = df.orderBy(idCol).limit(nCodes).select(vecCol).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(vecs.length >= nCodes,
      s"pqSeededCodebook: corpus has ${vecs.length} < $nCodes vectors")
    val dim = vecs(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    PqCodebook(subDim,
      Array.tabulate(m)(s => vecs.map(_.slice(s * subDim, (s + 1) * subDim))))
  }

  /** Trained codebook: ONE bounded hash-ordered sample collect (the
    * KMeansCentroids stance), then `m` independent Euclidean k-means
    * runs — one per subspace, each over the sample's slices.
    *
    * `opq = true` (round 9) learns an OPQ rotation first (Ge et al.
    * 2013, the non-parametric alternating solver, all driver-side on
    * the bounded sample): repeat `opqIters` times — (1) rotate the
    * sample, (2) train subspace codebooks on it, (3) quantize-
    * reconstruct, (4) solve the orthogonal Procrustes problem
    * `min_R ‖X·Rᵀ − X̂‖_F` via one d×d SVD (`R = V·Uᵀ` of
    * `Xᵀ·X̂ = U·S·Vᵀ`) for the next rotation. On anisotropic
    * embeddings (variance directions spanning subspace boundaries —
    * real text/image embeddings, not isotropic noise) the rotation
    * decorrelates the subspaces and buys recall at IDENTICAL code
    * size (spec-pinned ≥ plain PQ on a correlated synthetic set).
    * opq = false is byte-identical to the classic trainer (the
    * oracle contract).
    */
  def pqTrainCodebook(df: DataFrame, idCol: String, vecCol: String,
                      m: Int, nCodes: Int, sampleSize: Int = 4096,
                      iters: Int = 10, seed: Long = 42L,
                      opq: Boolean = false, opqIters: Int = 8): PqCodebook = {
    val sample = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleSize)
      .select("vec").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "pqTrainCodebook: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    def trainSubspaces(xs: Array[Array[Double]]): Array[Array[Array[Double]]] =
      Array.tabulate(m) { s =>
        kmeansEuclidean(
          xs.map(_.slice(s * subDim, (s + 1) * subDim)),
          nCodes, iters, seed + s)
      }
    if (!opq) PqCodebook(subDim, trainSubspaces(sample))
    else {
      var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1d else 0d)
      def rotate(x: Array[Double]): Array[Double] =
        Array.tabulate(dim)(j => dotSeq(r(j), x, 0))
      def reconstruct(cb: Array[Array[Array[Double]]],
                      y: Array[Double]): Array[Double] = {
        val out = new Array[Double](dim)
        var s = 0
        while (s < m) {
          // sequential sqdist, strict <, ties → lowest code — the
          // PqEncodeCodes contract, so the solver optimizes the
          // EXACT quantizer the probe will run
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < nCodes) {
            var dsum = 0d; var j = 0
            while (j < subDim) {
              val d0 = y(s * subDim + j) - cb(s)(c)(j); dsum += d0 * d0
              j += 1
            }
            if (dsum < bestD) { bestD = dsum; best = c }
            c += 1
          }
          System.arraycopy(cb(s)(best), 0, out, s * subDim, subDim)
          s += 1
        }
        out
      }
      var it = 0
      while (it < opqIters) {
        val y = sample.map(rotate)
        val cb = trainSubspaces(y)
        val yhat = y.map(reconstruct(cb, _))
        // Procrustes: maximize tr(R·M) with M = Xᵀ·X̂ = U·S·Vᵀ → R = V·Uᵀ
        val mMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
        var i = 0
        while (i < sample.length) {
          val x = sample(i); val xh = yhat(i)
          var a = 0
          while (a < dim) {
            val xa = x(a); var b = 0
            while (b < dim) { mMat(a, b) += xa * xh(b); b += 1 }
            a += 1
          }
          i += 1
        }
        val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(mMat)
        val rNew = vt.t * u.t
        r = Array.tabulate(dim, dim)((i2, j2) => rNew(i2, j2))
        it += 1
      }
      PqCodebook(subDim, trainSubspaces(sample.map(rotate)), Some(r))
    }
  }

  /** PQ-encode the corpus: (id, codes array<int>, norm double), one
    * row per vector. codes(s) = argmin over the subspace-s codebook
    * of sequential squared L2 (ties → lowest code); norm is the full
    * vector's L2, stored so the asymmetric-distance probe can rank an
    * approximate COSINE without touching float vectors. The per-row
    * argmin loop is m·nCodes·subDim integer-indexed flops — the
    * codegen'd [[graft.functions.PqEncodeCodes]] kernel (round 8:
    * formerly a typed mapPartitions stage; as an Expression the
    * encode pass stays inside whole-stage codegen AND the PQ queries
    * render through the SQL generator). Narrow, no shuffle,
    * embarrassingly parallel at 100 TB; arithmetic op-for-op the old
    * typed path (sequential sqdist, strict <, argmin ties → lowest
    * code), so oracle hashes are unchanged.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               cb: PqCodebook): DataFrame = {
    requireIntegralId(df, idCol)
    val v = col(vecCol)
    // OPQ: codes come from the ROTATED vector; the stored norm stays
    // the original's (rotation preserves it — one fewer recompute)
    val enc = cb.rotation.map(rotateExpr(v, _)).getOrElse(v)
    df.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorOps.pqEncodeCodes(
        enc, cb.flat, cb.m, cb.nCodes).as("codes"),
      sqrt(graft.functions.VectorOps.dot(v, v)).as("norm"))
  }

  /** Declarative `y = R·x` via the codegen'd
    * [[graft.functions.MatVec]] kernel — ONE expression node over a
    * flat row-major matrix reference (the array-of-64-dots form cost
    * d kernel nodes each carrying its own row literal; the kernel
    * accumulates each row in the identical IEEE order, so the swap is
    * value-exact — spec-pinned). Used by every OPQ encode/probe path.
    */
  private def rotateExpr(v: Column, r: Array[Array[Double]]): Column =
    graft.functions.VectorOps.matVec(v, r.flatten, r.length)

  /** PQ probe over an encoded frame: asymmetric-distance scoring —
    * the query stays full-precision; per-vector work is `m` lookups
    * into a driver-computed (m·nCodes)-entry table — then the s08
    * exact-rerank pattern. The scoring expression is pure builtins
    * (element_at on a literal array + left-fold sum), so the coarse
    * pass is whole-stage-codegen over the 16-32×-compressed codes.
    */
  private def pqCoarse(encoded: DataFrame, cb: PqCodebook,
                       query: Array[Float], nCand: Int): DataFrame = {
    val qd0 = query.map(_.toDouble)
    require(qd0.length == cb.m * cb.subDim,
      s"query dim ${qd0.length} != ${cb.m}·${cb.subDim}")
    // OPQ: the query rotates into the codes' frame; dot(Rx, Rq) =
    // dot(x, q), so ADC still approximates the original cosine
    val qd = cb.rotation.map(r =>
      Array.tabulate(qd0.length)(j => dotSeq(r(j), qd0, 0))).getOrElse(qd0)
    val qnorm = math.sqrt(dotSeq(qd, qd, 0))
    val lut = Array.tabulate(cb.m, cb.nCodes)((s, c) =>
      dotSeq(qd, cb.codebooks(s)(c), s * cb.subDim)).flatten
    val lutLit = typedlit(lut.toSeq)
    // left-fold in subspace order: ((l0 + l1) + l2) + … — the exact
    // op sequence the oracle's ordered list_reduce replays
    val adc = (0 until cb.m).map(s =>
      element_at(lutLit,
        lit(s * cb.nCodes) + element_at(col("codes"), s + 1) + 1))
      .reduceLeft(_ + _)
    val denom = lit(qnorm) * col("norm")
    encoded.select(col("id"),
        when(denom === 0d, 0d).otherwise(adc / denom).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(nCand)
  }

  /** PQ-quantized ANN with exact re-rank: coarse pass ranks the whole
    * corpus on codes (at 100 TB that scan reads the m-byte codes
    * column, never the float vectors), keeps `k·overfetch`
    * candidates, then joins ONLY those back to full-precision vectors
    * (broadcast — bounded rows) for exact cosine. Same contract as
    * [[knnQuantizedRerank]]: (id, cosine) with EXACT cosines, k rows,
    * ties by id; recall→exact as overfetch grows.
    */
  def knnPq(df: DataFrame, idCol: String, vecCol: String,
            query: Array[Float], k: Int, cb: PqCodebook,
            overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val coarse = pqCoarse(pqEncode(df, idCol, vecCol, cb), cb,
      query, k * overfetch).select(col("id"))
    val q = typedlit(query.toSeq)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .join(broadcast(coarse), "id")
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Batch PQ top-k: many query vectors against the encoded corpus —
    * the composition of [[knnBruteBatch]]'s one-scan shape with
    * [[knnPq]]'s asymmetric-distance scoring (completing the batch
    * family: s04 brute, s07 IVF, s11 PQ). Each query's
    * (m·nCodes)-entry lookup table is computed DECLARATIVELY on the
    * broadcast query side with the codebook as literals — the same
    * sequential-dot fold as pqCoarse's driver table, so per-query
    * scores are bit-identical to [[knnPq]]'s (spec-pinned). The
    * corpus-sized coarse pass reads only the m-byte codes column;
    * the shuffle into the bounded per-query heap carries ≤
    * k·overfetch rows per (query, partition); the exact rerank joins
    * only the candidate ids back to float vectors.
    *
    * Query-count scaling (round 9): the query side carries its
    * per-query LUT (m·nCodes doubles) and the candidate set
    * (k·overfetch rows per query). Small batches broadcast both —
    * the cheapest plan. Past the broadcast threshold, a SIZE GUARD
    * (estimated `nQueries · (LUT + query-vector) bytes` vs
    * `spark.sql.autoBroadcastJoinThreshold`) drops every broadcast
    * hint: the coarse pass becomes a partition-partition cross join
    * and the rerank a shuffle join on candidate ids / query ids —
    * unbounded in the batch size, row-for-row identical output
    * (spec-pinned). `shuffleRerank` overrides the guard
    * (Some(true)/Some(false)); None = auto, which reads the row count
    * from optimizer stats / a literal frame's length and pays a
    * `queries.count()` job only when neither is available.
    * Output: (query_id, id, cosine) — EXACT cosines, k rows per
    * query, ties by id.
    */
  def knnPqBatch(queries: DataFrame, qIdCol: String, qVecCol: String,
                 corpus: DataFrame, idCol: String, vecCol: String,
                 k: Int, cb: PqCodebook, overfetch: Int = 4,
                 shuffleRerank: Option[Boolean] = None): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    requireIntegralId(corpus, idCol)
    val useShuffle = shuffleRerank.getOrElse(autoShuffleRerank(queries, cb))
    // `side` is the guard's whole effect: identical logical shape,
    // broadcast hints present (small batch) or absent (the planner
    // falls back to cartesian + shuffle joins — no driver-memory
    // cliff at any batch size)
    def side(df: DataFrame): DataFrame = if (useShuffle) df else broadcast(df)
    val encoded = pqEncode(corpus, idCol, vecCol, cb)
    // OPQ: the declarative query side rotates into the codes' frame
    // before slicing its LUT (identical contract to pqCoarse)
    val qRot = cb.rotation
      .map(r => rotateExpr(col(qVecCol).cast("array<double>"), r))
      .getOrElse(col(qVecCol).cast("array<double>"))
    val qd = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).as("qvf"),
      qRot.as("qv"))
    val lutExpr = array((for { s <- 0 until cb.m; c <- 0 until cb.nCodes }
      yield VectorOps.dot(
        slice(col("qv"), lit(s * cb.subDim + 1), lit(cb.subDim)),
        typedlit(cb.codebooks(s)(c).toSeq))): _*)
    val q = side(qd.select(col("query_id"), col("qvf"),
      lutExpr.as("lut"),
      sqrt(VectorOps.dot(col("qv"), col("qv"))).as("qnorm")))
    val adc = (0 until cb.m).map(s =>
      element_at(col("lut"),
        lit(s * cb.nCodes) + element_at(col("codes"), s + 1) + 1))
      .reduceLeft(_ + _)
    val denom = col("qnorm") * col("norm")
    val cand = encoded.crossJoin(q.select("query_id", "lut", "qnorm"))
      .select(col("query_id"), col("id"),
        when(denom === 0d, 0d).otherwise(adc / denom).as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("score"), col("id"),
        k * overfetch).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"))
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .join(side(cand), "id")
      .join(side(q.select("query_id", "qvf")), "query_id")
      .select(col("query_id"), col("id"),
        VectorOps.cosine(col("vec"), col("qvf")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"),
        col("e.ord").as("cosine"))
  }

  /** Persist a PQ index: codes+norms parquet (the compressed scan
    * target) plus the codebook flattened to (s, c, cv) rows — same
    * store-the-build-artifacts contract as [[writeIvfIndex]], so a
    * probe replays the exact training-time codebook.
    */
  def writePqIndex(df: DataFrame, idCol: String, vecCol: String,
                   path: String, cb: PqCodebook): Unit = {
    pqEncode(df, idCol, vecCol, cb)
      .write.mode("overwrite").parquet(s"$path/codes")
    dumpCodebook(df.sparkSession, cb, path)
  }

  /** The stored (s, c, cv) codebook rows, with an OPQ rotation (when
    * present) riding as sentinel rows `s = -1, c = row index, cv =
    * rotation row` — subspace indices are non-negative, so the
    * sentinel cannot collide, and a pre-round-9 index (no -1 rows)
    * reads back as rotation = None unchanged.
    */
  private def dumpCodebook(spark: org.apache.spark.sql.SparkSession,
                           cb: PqCodebook, path: String): Unit = {
    import spark.implicits._
    val cbRows = for {
      s <- cb.codebooks.indices; c <- cb.codebooks(s).indices
    } yield (s, c, cb.codebooks(s)(c).toSeq)
    val rotRows = cb.rotation.toSeq.flatMap(r =>
      r.indices.map(i => (-1, i, r(i).toSeq)))
    (cbRows ++ rotRows).toDF("s", "c", "cv")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Stored codebook, reassembled in (s, c) order; sentinel `s = -1`
    * rows reassemble the OPQ rotation. */
  def readPqCodebook(spark: org.apache.spark.sql.SparkSession,
                     path: String): PqCodebook = {
    val all = spark.read.parquet(s"$path/codebook").collect()
      .map(r => (r.getInt(r.fieldIndex("s")), r.getInt(r.fieldIndex("c")),
        r.getSeq[Double](r.fieldIndex("cv")).toArray))
      .sortBy(t => (t._1, t._2))
    val (rotRows, rows) = all.partition(_._1 == -1)
    require(rows.nonEmpty, s"readPqCodebook: no codebook at $path")
    val m = rows.map(_._1).max + 1
    PqCodebook(rows.head._3.length,
      Array.tabulate(m)(s => rows.filter(_._1 == s).map(_._3)),
      if (rotRows.isEmpty) None else Some(rotRows.map(_._3)))
  }

  /** Exact rerank over a DRIVER-COLLECTED candidate id set: the
    * bounded (≤ k·overfetch) ids push into the vectors scan as a
    * static `In` filter, so parquet prunes row groups by id
    * statistics — and, on a bloom-filtered or range-sorted vectors
    * layout (graft.sources.Layout), skips nearly every row group —
    * WITHOUT depending on runtime-filter injection kicking in. Same
    * stance as the probed-cells static `isin`: at 100 TB the rerank
    * is a handful of point reads, never a full float-column scan
    * feeding a broadcast join. The collect is one bounded action
    * (the persisted probes already collect centroids + codebook).
    */
  private def exactRerankIsin(vectors: DataFrame, idCol: String,
      vecCol: String, candIds: Array[Long], query: Array[Float],
      k: Int): DataFrame = {
    val q = typedlit(query.toSeq)
    vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .where(col("id").isin(candIds.toIndexedSeq: _*))
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Probe a persisted PQ index: coarse-rank the stored codes with
    * the stored codebook, then exact-rerank against the caller's
    * full-precision vector table (the float vectors stay wherever
    * they live — the index holds only codes) via the static-In
    * point-read rerank ([[exactRerankIsin]], round 9). Probe ≡
    * in-memory [[knnPq]] for the same build inputs (spec-pinned).
    */
  def knnPqIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                   vectors: DataFrame, idCol: String, vecCol: String,
                   query: Array[Float], k: Int,
                   overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val candIds = pqCoarseCandidates(spark, path, query, k, overfetch)
      .collect().map(_.getLong(0)).sorted
    exactRerankIsin(vectors, idCol, vecCol, candIds, query, k)
  }

  /** The coarse-candidate frame [[knnPqIndexed]] executes — exposed
    * package-private so plan audits pin the EXACT df the probe runs
    * (the probe collects its bounded output before the rerank).
    */
  private[graft] def pqCoarseCandidates(
      spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Float], k: Int, overfetch: Int): DataFrame = {
    val cb = readPqCodebook(spark, path)
    // takedown (round 13): [[deleteFromIvfIndex]] works on the plain
    // PQ layout too (same id-keyed rows, tombstones beside codes);
    // deleted vectors leave the coarse ranking before any slot is
    // spent on them
    pqCoarse(cellsMinusTombstones(
        spark.read.parquet(s"$path/codes"), ivfTombstones(spark, path)),
      cb, query, k * overfetch).select(col("id")).distinct()
  }

  /** IVF-PQ ANN, in-memory: the standard 100 TB ANN layout — coarse
    * cells for pruning (s03) COMPOSED with PQ compression inside the
    * probed cells (s10). A probe (1) ranks the query against the cell
    * centroids on the driver and keeps the `nProbe` best (knnIvf's
    * contract, ties → lower cell), (2) asymmetric-distance-scores
    * ONLY the probed cells' rows on their m-byte codes — the scan
    * reads nProbe/nCells of the corpus AND never touches float
    * vectors, the two savings multiplying — then (3) exact-reranks
    * the k·overfetch survivors against full-precision vectors (the
    * s08 contract: EXACT cosines, k rows, ties by id).
    *
    * Codes are query-independent, so encoding the pruned rows here
    * equals filtering a pre-encoded corpus — which is what the
    * persisted path ([[writeIvfPqIndex]]/[[knnIvfPqIndexed]]) stores:
    * codes partitioned by cell. At nProbe=nCells the candidate set is
    * exactly [[knnPq]]'s (parity spec-pinned).
    */
  def knnIvfPq(df: DataFrame, idCol: String, vecCol: String,
               query: Array[Float], k: Int, cb: PqCodebook,
               nCells: Int = 16, nProbe: Int = 4, overfetch: Int = 4,
               strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    val qd = query.map(_.toDouble)
    val probeCells = cents.zipWithIndex
      .map { case (c, i) => (c.zip(qd).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val pruned = assignCells(df, idCol, vecCol, cents)
      .where(col("cell").isin(probeCells.toIndexedSeq: _*))
    val coarse = pqCoarse(pqEncode(pruned, "id", "vec", cb), cb,
      query, k * overfetch).select(col("id"))
    val q = typedlit(query.toSeq)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .join(broadcast(coarse), "id")
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Metadata-filtered IVF-PQ ANN, in-memory: [[knnIvfFiltered]]'s
    * exact pre-filtering stance composed with the compressed layout —
    * without this, a filtered query against the 100 TB IVF-PQ layout
    * must either decompress (full-precision s15) or overfetch-and-hope.
    * The predicate applies BEFORE cell assignment (assignment is
    * per-row, so filter-then-assign ≡ assign-then-filter — which is
    * exactly what lets the persisted form push the same predicate
    * into the stored-code scan); centroids, codebook and the probe
    * ranking come from the FULL corpus (the index predates any
    * predicate), so the approximation is [[knnIvfPq]] unchanged.
    * ADC scores only the predicate-passing rows of the probed cells;
    * the exact rerank joins the k·overfetch survivors (all of which
    * satisfy the predicate) back to full-precision vectors.
    */
  def knnIvfPqFiltered(df: DataFrame, idCol: String, vecCol: String,
      predicate: Column, query: Array[Float], k: Int, cb: PqCodebook,
      nCells: Int = 16, nProbe: Int = 4, overfetch: Int = 4,
      strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    val qd = query.map(_.toDouble)
    val probeCells = cents.zipWithIndex
      .map { case (c, i) => (c.zip(qd).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val pruned = assignCells(df.where(predicate), idCol, vecCol, cents)
      .where(col("cell").isin(probeCells.toIndexedSeq: _*))
    val coarse = pqCoarse(pqEncode(pruned, "id", "vec", cb), cb,
      query, k * overfetch).select(col("id"))
    val q = typedlit(query.toSeq)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .join(broadcast(coarse), "id")
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Persist an IVF-PQ index: PQ codes+norms partitioned by IVF cell
    * (`path/cells/cell=N/…` holding (id, codes, norm) — by default NO
    * float vectors: the index is nProbe-prunable AND 16-32×
    * compressed), plus the centroids (`path/centroids`,
    * [[writeIvfIndex]]'s contract) and the codebook (`path/codebook`,
    * [[writePqIndex]]'s), so a probe replays the exact build-time
    * geometry. ONE narrow pass over the corpus: cell assignment and
    * PQ encoding are both per-row codegen'd expressions — no shuffle,
    * no join; the only data movement is the partitioned write.
    *
    * `storeVectors = true` (round 15 — verdict task 5) additionally
    * stores the full-precision vectors NEXT TO the codes, at the
    * documented 4 bytes/dim/row cost (vs the m bytes the codes cost —
    * e.g. a 64-dim float corpus stores 256 extra bytes/row). What it
    * buys: the index becomes SELF-SUFFICIENT for maintenance —
    * [[rebuildIvfPqIndexFromStored]] retrains centroids and codebook
    * from the stored vectors, so [[IndexHealth.maintain]] can rebuild
    * a drifted IVF-PQ index without a caller-supplied corpus leg.
    * Probes are UNCHANGED either way: every probe path reads only
    * (id, codes, norm [, attrs]), and parquet's columnar layout means
    * the vec column's bytes are never touched outside a rebuild.
    */
  def writeIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, cb: PqCodebook, nCells: Int = 16,
                      strategy: CentroidStrategy = SeededCentroids,
                      attrCols: Seq[String] = Nil,
                      storeVectors: Boolean = false): Unit = {
    requireIntegralId(df, idCol)
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    // attrCols store filterable metadata NEXT TO the codes — the
    // [[writeIvfIndex]] stance kept under compression, so a filtered
    // probe ([[knnIvfPqIndexedFiltered]]) pushes its predicate into
    // the probed-cell code scan instead of decompressing or
    // overfetching
    // OPQ: cells assign on the ORIGINAL vectors (the IVF geometry is
    // independent of the code frame); only the encode input rotates
    val encIn = cb.rotation.map(rotateExpr(col("vec"), _))
      .getOrElse(col("vec"))
    val vecOut = if (storeVectors) Seq(col("vec")) else Nil
    assignCells(df, idCol, vecCol, cents, extraCols = attrCols)
      .select(Seq(col("id").cast("long").as("id"),
        graft.functions.VectorOps.pqEncodeCodes(
          encIn, cb.flat, cb.m, cb.nCodes).as("codes"),
        sqrt(graft.functions.VectorOps.dot(col("vec"), col("vec")))
          .as("norm")) ++ vecOut ++ attrCols.map(col) :+ col("cell"): _*)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    val spark = df.sparkSession
    import spark.implicits._
    cents.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (c.toSeq, i) }.toDF("cv", "cell")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    dumpCodebook(spark, cb, path)
  }

  /** Probe a persisted IVF-PQ index: rank the STORED centroids on the
    * driver, statically prune to the `nProbe` best cells (a partition
    * `isin` filter — the probe reads nProbe/nCells of the FILES, and
    * those files hold m-byte codes, not vectors), ADC-score with the
    * STORED codebook, exact-rerank the k·overfetch survivors against
    * the caller's full-precision vector table. Probe ≡ in-memory
    * [[knnIvfPq]] for the same build inputs (spec-pinned).
    *
    * The candidate id set is `distinct`ed (bounded ≤ k·overfetch rows)
    * so a crash-replayed [[ivfPqIngestBatch]] append — which can leave
    * duplicate (id, codes, norm) rows — can never emit a duplicated
    * result row; duplicated index rows only spend overfetch slots.
    * Round 9: the candidates collect to the driver (bounded; the
    * probe already collects centroids + codebook) and the rerank is
    * a static-In point read ([[exactRerankIsin]]) instead of a
    * full-float-scan broadcast join.
    */
  def knnIvfPqIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String, vectors: DataFrame, idCol: String,
                      vecCol: String, query: Array[Float], k: Int,
                      nProbe: Int = 4, overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val candIds = ivfPqCoarseCandidates(spark, path, query, k, nProbe,
        overfetch, None)
      .collect().map(_.getLong(0)).sorted
    exactRerankIsin(vectors, idCol, vecCol, candIds, query, k)
  }

  /** The coarse-candidate frame the persisted IVF-PQ probes execute
    * (cell partition pruning + optional pushed predicate + ADC +
    * bounded distinct) — package-private so plan audits pin the
    * EXACT df the probes run.
    */
  private[graft] def ivfPqCoarseCandidates(
      spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Float], k: Int, nProbe: Int, overfetch: Int,
      predicate: Option[Column]): DataFrame = {
    val cb = readPqCodebook(spark, path)
    val qd = query.map(_.toDouble)
    val probeCells = readCentroids(spark, path).zipWithIndex
      .map { case (cv, cell) =>
        (cv.zip(qd).map { case (a, b) => a * b }.sum, cell)
      }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val pruned0 = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(probeCells.toIndexedSeq: _*))
    val pruned = cellsMinusTombstones(
      predicate.map(pruned0.where).getOrElse(pruned0),
      ivfTombstones(spark, path))
    pqCoarse(pruned, cb, query, k * overfetch)
      .select(col("id")).distinct()
  }

  /** Metadata-filtered probe of a PERSISTED IVF-PQ index: the 100 TB
    * serving shape for "nearest docs WHERE lang = 'en'" against the
    * compressed layout. The index stores attribute columns next to
    * the m-byte codes ([[writeIvfPqIndex]]'s `attrCols`), so THREE
    * multiplicative prunes stack on one scan: the static cell `isin`
    * reads nProbe/nCells of the files, the predicate reaches those
    * files as a pushed parquet filter skipping row groups whose attr
    * statistics exclude it, and the surviving rows are ADC-scored on
    * codes — float vectors are touched only by the k·overfetch exact
    * rerank ([[exactRerankIsin]]'s static-In point reads). Probe ≡
    * in-memory [[knnIvfPqFiltered]] for the same build inputs
    * (spec-pinned; both coarse filters pinned on the coarse frame).
    */
  def knnIvfPqIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, vectors: DataFrame, idCol: String, vecCol: String,
      predicate: Column, query: Array[Float], k: Int,
      nProbe: Int = 4, overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val candIds = ivfPqCoarseCandidates(spark, path, query, k, nProbe,
        overfetch, Some(predicate))
      .collect().map(_.getLong(0)).sorted
    exactRerankIsin(vectors, idCol, vecCol, candIds, query, k)
  }

  /** Batch form of [[knnIvfPqIndexedFiltered]]: many queries, one
    * predicate — [[knnIvfPqBatchIndexed]]'s probe/LUT/heap chain with
    * the predicate pushed into the probed-cell code scan. Per-query
    * results ≡ the single-query filtered probe (spec-pinned).
    */
  def knnIvfPqBatchIndexedFiltered(
      spark: org.apache.spark.sql.SparkSession,
      path: String, vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      predicate: Column, k: Int,
      nProbe: Int = 4, overfetch: Int = 4,
      shuffleRerank: Option[Boolean] = None): DataFrame =
    ivfPqBatchIndexedImpl(spark, path, vectors, idCol, vecCol,
      queries, qIdCol, qVecCol, Some(predicate), k, nProbe, overfetch,
      shuffleRerank)

  /** Incrementally append vectors to a persisted IVF-PQ index: new
    * rows are assigned against the STORED centroids and encoded with
    * the STORED codebook (identical tie-break contracts to the
    * build), then appended to their cell partitions — the
    * [[appendToIvfIndex]] ingest shape with the PQ compression kept:
    * one narrow pass, no rebuild, no touch of existing files, and
    * every probe picks the new rows up unchanged.
    *
    * Neither centroids nor codebook move (either would invalidate
    * stored codes — a full rewrite); as the corpus drifts,
    * [[cellStats]]/[[needsRebuild]] are the same monitoring contract
    * (they read only centroids + cell row counts, so they work on an
    * IVF-PQ index unchanged), and [[rebuildIvfPqIndex]] is the
    * documented response.
    */
  def appendToIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit = {
    requireIntegralId(df, idCol)
    val spark = df.sparkSession
    val cents = readCentroids(spark, path)
    require(cents.nonEmpty, s"appendToIvfPqIndex: no centroids at $path")
    val cb = readPqCodebook(spark, path)
    // the stored schema dictates the attribute columns (the
    // appendToIvfIndex contract): an index built with attrCols keeps
    // them through appends, and the append frame must carry them
    // under the STORED names — a missing one would silently
    // schema-drift the cell files out from under the filtered probe
    val stored = spark.read.parquet(s"$path/cells").schema
    // a storeVectors index keeps its vec column through appends (the
    // self-sufficient-rebuild contract) — it is index machinery, not
    // a caller attribute
    val hasVec = stored.fieldNames.contains("vec")
    val attrs = stored.fieldNames.toSeq
      .filterNot(Set("id", "codes", "norm", "cell", "vec"))
    val missing = attrs.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"appendToIvfPqIndex: index at $path stores attribute columns " +
        s"${attrs.mkString(", ")}; append frame is missing " +
        missing.mkString(", "))
    // name AND type: a same-named column of a different type would
    // append files whose schema conflicts with the stored cells —
    // exactly the silent drift this guard exists to stop
    val drift = attrs.filter(a =>
      df.schema(a).dataType != stored(a).dataType)
    require(drift.isEmpty,
      s"appendToIvfPqIndex: attribute type drift on " +
        drift.map(a => s"$a (index ${stored(a).dataType.simpleString} " +
          s"vs frame ${df.schema(a).dataType.simpleString})")
          .mkString(", "))
    val encIn = cb.rotation.map(rotateExpr(col("vec"), _))
      .getOrElse(col("vec"))
    val vecOut = if (hasVec) Seq(col("vec")) else Nil
    assignCells(df, idCol, vecCol, cents, extraCols = attrs)
      .select(Seq(col("id").cast("long").as("id"),
        graft.functions.VectorOps.pqEncodeCodes(
          encIn, cb.flat, cb.m, cb.nCodes).as("codes"),
        sqrt(graft.functions.VectorOps.dot(col("vec"), col("vec")))
          .as("norm")) ++ vecOut ++ attrs.map(col) :+ col("cell"): _*)
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Rebuild a drifted IVF-PQ index at a NEW path: the stored codes
    * cannot be decoded back to vectors (PQ is lossy), so the rebuild
    * takes the CURRENT full-precision corpus from the caller,
    * retrains centroids and codebook over it, and writes fresh.
    * New-path-only for the same reason as [[rebuildIvfIndex]]: probes
    * against oldPath stay correct until the caller swaps pointers.
    */
  def rebuildIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      oldPath: String, newPath: String, nCells: Int, m: Int,
      nCodes: Int,
      strategy: CentroidStrategy = KMeansCentroids(),
      opq: Boolean = false,
      attrCols: Seq[String] = Nil,
      storeVectors: Boolean = false): Unit = {
    require(new org.apache.hadoop.fs.Path(oldPath) !=
        new org.apache.hadoop.fs.Path(newPath),
      "rebuildIvfPqIndex: newPath must differ from oldPath")
    // ingest-log carry first, data after (the rebuildHnswIndex
    // ordering): an [[ivfPqIngestBatch]] stream resuming at newPath
    // keeps its exactly-once guard across the pointer swap
    graft.sources.BatchLog.copyTo(df.sparkSession,
      s"$oldPath/ingest_log", s"$newPath/ingest_log")
    // takedown fold: the caller's current corpus may still carry
    // vectors tombstoned on the old index — drop them before training
    // so deleted content influences neither codebook nor centroids
    val src = ivfTombstones(df.sparkSession, oldPath)
      .map(t => df.join(
        broadcast(t.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti"))
      .getOrElse(df)
    // opq=true retrains the rotation with the codebook — the rebuild
    // is the natural OPQ upgrade point for a drifted (or pre-OPQ)
    // index, since stored codes can't be re-rotated in place
    val cb = pqTrainCodebook(src, idCol, vecCol, m, nCodes, opq = opq)
    writeIvfPqIndex(src, idCol, vecCol, newPath, cb, nCells, strategy,
      attrCols, storeVectors)
  }

  /** Rebuild a storeVectors IVF-PQ index FROM ITSELF (round 15 —
    * verdict task 5): the stored full-precision vectors (minus
    * tombstones) are the training corpus, every build parameter
    * replays from the stored artifacts — nCells from the centroid
    * count, (m, nCodes) from the codebook's shape, OPQ from whether a
    * rotation is stored — and attribute columns carry over, so the
    * rebuilt index serves the same filtered probes. This closes the
    * one maintenance gap lossy codes forced: [[IndexHealth.maintain]]
    * rebuilds a drifted storeVectors IVF-PQ index with no caller leg.
    * New-path-only, like every rebuild here: probes against oldPath
    * stay correct until the caller swaps pointers. The new tree is
    * storeVectors again (self-sufficiency survives the rebuild).
    */
  def rebuildIvfPqIndexFromStored(
      spark: org.apache.spark.sql.SparkSession,
      oldPath: String, newPath: String,
      strategy: CentroidStrategy = KMeansCentroids()): Unit = {
    val stored = spark.read.parquet(s"$oldPath/cells")
    require(stored.schema.fieldNames.contains("vec"),
      s"rebuildIvfPqIndexFromStored: the index at $oldPath stores only " +
        "lossy codes (built without storeVectors = true) — rebuild " +
        "needs the current full-precision corpus via rebuildIvfPqIndex")
    val nCells = spark.read.parquet(s"$oldPath/centroids").count().toInt
    val cbOld = readPqCodebook(spark, oldPath)
    val attrs = stored.schema.fieldNames.toSeq
      .filterNot(Set("id", "codes", "norm", "cell", "vec"))
    // tombstones fold inside rebuildIvfPqIndex; stored codes/norms are
    // recomputed from the vectors, so only (id, vec, attrs) feed it
    rebuildIvfPqIndex(
      stored.select((Seq("id", "vec") ++ attrs).map(col): _*),
      "id", "vec", oldPath, newPath, nCells,
      m = cbOld.m, nCodes = cbOld.nCodes, strategy = strategy,
      opq = cbOld.rotation.isDefined, attrCols = attrs,
      storeVectors = true)
  }

  /** Batch probe of a persisted IVF-PQ index — the serving shape for
    * many queries: per query, the `nProbe` best STORED cells are
    * picked declaratively ([[knnIvfBatchIndexed]]'s centroid-literal
    * ranking), the probed-cell UNION prunes the code files with a
    * static partition filter, each (query, cell)-matched code row is
    * ADC-scored against the query's broadcast lookup table
    * ([[knnPqBatch]]'s declarative LUT over the STORED codebook), the
    * bounded heap keeps k·overfetch candidates per query, and the
    * exact rerank joins only those ids back to the caller's
    * full-precision vectors. Per-query results ≡ [[knnIvfPqIndexed]]
    * (spec-pinned). Output: (query_id, id, cosine), k rows per query.
    */
  def knnIvfPqBatchIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nProbe: Int = 4, overfetch: Int = 4,
      shuffleRerank: Option[Boolean] = None): DataFrame =
    ivfPqBatchIndexedImpl(spark, path, vectors, idCol, vecCol,
      queries, qIdCol, qVecCol, None, k, nProbe, overfetch, shuffleRerank)

  /** Largest collected candidate set the broadcast-mode point-read
    * rerank will hold (rows = (query_id, id) pairs ≤ |Q|·k·overfetch);
    * past it — e.g. a recall sweep at corpus-covering overfetch — the
    * join-based rerank stands, so no parameter combination can build
    * a driver cliff or a pathological million-literal In.
    */
  private val maxRerankRows = 65536

  /** Row count of a batch-query frame WITHOUT a count() job when the
    * plan states it EXACTLY: a LocalRelation's in-memory length (the
    * literal-frame serving shape — ConvertToLocalRelation collapses
    * project/filter-over-literals to one) or a Range's element count.
    * Anything else pays a count(). `plan.stats.rowCount` is
    * deliberately NOT consulted: under spark.sql.cbo.enabled it is a
    * selectivity estimate on filtered/joined frames, and an
    * undercount would steer the size guard into broadcasting a batch
    * far past the autoBroadcastJoinThreshold budget — the memory
    * cliff the guard exists to prevent.
    */
  private def cheapRowCount(df: DataFrame): Long = {
    val plan = df.queryExecution.optimizedPlan
    plan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.length.toLong
      case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
        r.numElements.toLong
      case _ => df.count()
    }
  }

  /** The auto size guard shared by every batch PQ probe (knnPqBatch /
    * ivfPqBatchIndexedImpl): broadcast the query side only while
    * `nQueries · (LUT + query-vector) bytes` fits under
    * `spark.sql.autoBroadcastJoinThreshold`; threshold -1 (the user
    * disabled auto-broadcast) always selects shuffle mode rather than
    * forcing hints past their memory policy. NOTE for auto-mode
    * callers: materialize (cache/localCheckpoint) a non-trivial query
    * frame first — this guard's row count plus the probe's own
    * actions re-evaluate its lineage otherwise (literal frames are
    * free: [[cheapRowCount]] reads their length without a job).
    */
  private def autoShuffleRerank(queries: DataFrame, cb: PqCodebook): Boolean = {
    val thresh = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    thresh < 0 || {
      val dim = cb.m.toLong * cb.subDim
      // LUT doubles + float query vector + id/norm slack, per query
      val perQueryBytes = cb.m.toLong * cb.nCodes * 8L + dim * 4L + 16L
      cheapRowCount(queries) * perQueryBytes > thresh
    }
  }

  /** Shared body of the two batch indexed probes — they differ ONLY
    * by the optional predicate pushed into the probed-cell code scan,
    * and parity between them is a consequence of this delegation, not
    * hand-maintained duplication.
    */
  private def ivfPqBatchIndexedImpl(
      spark: org.apache.spark.sql.SparkSession,
      path: String, vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      predicate: Option[Column], k: Int, nProbe: Int, overfetch: Int,
      shuffleRerank: Option[Boolean]): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val cb = readPqCodebook(spark, path)
    // the knnPqBatch size guard: past the broadcast threshold the
    // query/candidate sides lose their hints and the (cell) match +
    // rerank become shuffle joins — no driver-memory cliff on large
    // serving batches
    val useShuffle = shuffleRerank.getOrElse(autoShuffleRerank(queries, cb))
    def side(df: DataFrame): DataFrame = if (useShuffle) df else broadcast(df)
    val cents = readCentroids(spark, path)
    val scoreStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-VectorOps.dot(col("qv"), typedlit(c.toSeq))).as("neg"),
             lit(i).as("cell"))
    }.toIndexedSeq: _*)
    // OPQ: the LUT (and its norm) read the ROTATED query column qvr;
    // centroid ranking stays on the original qv (the IVF geometry is
    // independent of the code frame). qvr = qvd when no rotation.
    val lutExpr = array((for { s <- 0 until cb.m; c <- 0 until cb.nCodes }
      yield VectorOps.dot(
        slice(col("qvr"), lit(s * cb.subDim + 1), lit(cb.subDim)),
        typedlit(cb.codebooks(s)(c).toSeq))): _*)
    val q = side(queries
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("qvf"),
        col(qVecCol).cast("array<double>").as("qvd"))
      .withColumn("qv", col("qvd"))
      .withColumn("qvr", cb.rotation.map(rotateExpr(col("qvd"), _))
        .getOrElse(col("qvd")))
      .select(col("query_id"), col("qvf"),
        explode(transform(slice(array_sort(scoreStructs), 1, nProbe),
          s => s.getField("cell"))).as("cell"),
        lutExpr.as("lut"),
        sqrt(VectorOps.dot(col("qvr"), col("qvr"))).as("qnorm")))
    val probedCells = q.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val cells0 = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(probedCells.toIndexedSeq: _*))
    val cells = cellsMinusTombstones(
      predicate.map(cells0.where).getOrElse(cells0),
      ivfTombstones(spark, path))
    val adc = (0 until cb.m).map(s =>
      element_at(col("lut"),
        lit(s * cb.nCodes) + element_at(col("codes"), s + 1) + 1))
      .reduceLeft(_ + _)
    val denom = col("qnorm") * col("norm")
    val cand = cells.join(q.select("query_id", "cell", "lut", "qnorm"), "cell")
      .select(col("query_id"), col("id"),
        when(denom === 0d, 0d).otherwise(adc / denom).as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("score"), col("id"),
        k * overfetch).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id")).distinct()
    // Broadcast mode (the serving-batch shape): the candidate set is
    // bounded (≤ |Q|·k·overfetch pairs), so collect it and POINT-READ
    // the float corpus — the static-In rerank ([[exactRerankIsin]]'s
    // stance) turns each trigger's rerank from a full float-column
    // scan into ≤ |∪ candidate ids| row-group reads on a
    // stats/bloom-prunable layout. The collect is CAPPED at
    // maxRerankRows (one guarded limit-collect, the dedup-probe
    // pattern): a small batch at huge overfetch — the recall sweep
    // shape — overflows the cap and falls back to the join rerank,
    // as does shuffle mode, so no input builds a driver cliff.
    val pointRead: Option[(Array[org.apache.spark.sql.Row], Array[Long])] =
      if (useShuffle) None
      else {
        val rows = cand.limit(maxRerankRows + 1).collect()
        if (rows.length > maxRerankRows) None
        else Some((rows, rows.map(_.getLong(1)).distinct.sorted))
      }
    val rerankBase = pointRead match {
      case Some((candRows, candIds)) =>
        val candDf = spark.createDataFrame(
          java.util.Arrays.asList(candRows: _*), cand.schema)
        vectors.select(col(idCol).cast("long").as("id"),
            col(vecCol).as("vec"))
          .where(col("id").isin(candIds.toIndexedSeq: _*))
          .join(broadcast(candDf), "id")
      case None =>
        vectors.select(col(idCol).cast("long").as("id"),
            col(vecCol).as("vec"))
          .join(side(cand), "id")
    }
    rerankBase
      .join(side(q.select("query_id", "qvf").distinct()), "query_id")
      .select(col("query_id"), col("id"),
        VectorOps.cosine(col("vec"), col("qvf")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"),
        col("e.ord").as("cosine"))
  }

  /** One micro-batch of the streaming IVF-PQ ingest loop — the
    * foreachBatch body for a live embedding corpus feeding a
    * persisted IVF-PQ index. Assignment and encoding are STATELESS
    * per row (stored centroids + stored codebook), so the only state
    * is the replay guard: `path/ingest_log` records appended batch
    * ids, and a restarted stream re-offering a logged batch id is a
    * no-op — appends are exactly-once per batch id.
    *
    * Crash window: a failure between the cells append and the log
    * write replays the batch and duplicates its (id, codes, norm)
    * rows — byte-identical facts, never wrong ones (same vector ⇒
    * same cell/codes/norm). Probes stay duplicate-safe: candidate ids
    * are distinct'ed before rerank ([[knnIvfPqIndexed]]), so
    * duplicates can only spend overfetch slots, not corrupt results
    * (spec-pinned: a replayed ingest leaves the probe identical).
    *
    * Wire it:
    * {{{
    * vecs.writeStream
    *   .foreachBatch(Similarity.ivfPqIngestBatch("vec_id", "embedding", path) _)
    *   .start()
    * }}}
    */
  /** The ingest/serve replay-log row shape, for the driver-direct
    * 1-row appends (r20 — TinyParquet): (batch_id, <count column>),
    * byte-matching what `Seq((Long, Long)).toDF.write` produced.
    */
  private def serveLogSchema(countCol: String): String =
    s"""message spark_schema {
       |  required int64 batch_id;
       |  required int64 $countCol;
       |}""".stripMargin

  def ivfPqIngestBatch(idCol: String, vecCol: String, path: String)
                      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$path/ingest_log"
    // watermark → compact → tail (round 18: the shared BatchLog probe
    // replaces the naive whole-log scan, so a long-lived ingest stream
    // stops paying O(batches) listing metadata per trigger once
    // [[compactServeLog]]'s sibling fold runs on this log)
    val replayed = graft.sources.BatchLog.contains(spark, logPath, batchId)
    if (replayed) return
    // sever the batch plan from the index paths before the append
    // mutates them (the lshIngestBatch stance; here the plan doesn't
    // read the index, but a checkpoint keeps the count() below from
    // re-running the source)
    val admitted = batch.localCheckpoint()
    appendToIvfPqIndex(admitted, idCol, vecCol, path)
    // driver-direct 1-row log append (r20 — TinyParquet)
    graft.sources.TinyParquet.appendRows(spark, logPath,
      serveLogSchema("n_appended"),
      Seq(Seq[Any](batchId, admitted.count())))
  }

  /** One micro-batch of the streaming GRAPH-index ingest loop
    * (round 18 — the last missing leg of the family's lifecycle
    * symmetry with IVF-PQ: [[ivfPqIngestBatch]] feeds that index,
    * [[hnswServeBatch]] asks this one, and this loop feeds it):
    * assignment against the STORED centroids is stateless per row and
    * the touched cells re-knit in place ([[appendToHnswIndex]]'s
    * whole contract, including the bounded-re-knit and the unknitted
    * crash window IndexHealth repairs), so the only loop state is the
    * replay guard — exactly-once per batch id via `path/ingest_log`
    * (the shared [[graft.sources.BatchLog]] probe; fold on the
    * maintenance cadence, [[compactIngestReplayLog]] or
    * IndexHealth.maintain).
    *
    * Crash window: a failure between the cells append and the log
    * write replays the batch and re-appends byte-identical (id, vec,
    * cell) rows. Probes stay ROW-correct — the in-partition walk
    * scores and emits per distinct id — but duplicate rows inflate
    * the re-knit's neighbor ranking (a duplicated neighbor occupies
    * two of a node's m slots), mildly degrading recall until a
    * rebuild folds the duplicates; the same accept-duplicates stance
    * as the IVF append loop, where duplicates spend overfetch slots.
    *
    * Wire it:
    * {{{
    * vecs.writeStream
    *   .foreachBatch(Similarity.hnswIngestBatch("vec_id", "embedding", path) _)
    *   .start()
    * }}}
    */
  def hnswIngestBatch(idCol: String, vecCol: String, path: String)
                     (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$path/ingest_log"
    if (graft.sources.BatchLog.contains(spark, logPath, batchId)) return
    // sever the batch plan from the index paths before the append
    // mutates them (the ivfPqIngestBatch stance)
    val admitted = batch.localCheckpoint()
    if (!admitted.isEmpty)
      appendToHnswIndex(admitted, idCol, vecCol, path)
    graft.sources.TinyParquet.appendRows(spark, logPath,
      serveLogSchema("n_appended"),
      Seq(Seq[Any](batchId, admitted.count())))
  }

  /** One micro-batch of the streaming ANN SERVING loop — the
    * foreachBatch body for a live stream of query vectors probing a
    * persisted IVF-PQ index: the online counterpart to
    * [[ivfPqIngestBatch]] (that one feeds the index, this one asks
    * it).
    *
    * Why foreachBatch and not a stream-static join: per-query cell
    * pruning is the entire economics of the index, and the pruned
    * cell SET is only known per batch — a static join on `cell`
    * would re-scan every cell's files each micro-batch. The batch
    * body reuses [[knnIvfPqBatchIndexed]] wholesale, so each trigger
    * reads only the batch's ∪(probe cells) partitions (driver
    * collects the bounded cell set, the batch-probe contract), runs
    * ADC over m-byte codes, and exact-reranks against the float
    * corpus. Results land in `outPath` with the batch id.
    *
    * Exactly-once per batch id via `outPath/serve_log` — a restarted
    * stream re-offering a served batch id is a no-op, so a crash
    * between the result append and the log write can duplicate one
    * batch's RESULT rows at most once (byte-identical rows; readers
    * that care dedupe on (batch_id, query_id, id), the ingest-loop
    * crash-window stance).
    *
    * Wire it:
    * {{{
    * queries.writeStream
    *   .foreachBatch(Similarity.ivfPqServeBatch(indexPath, corpus,
    *     "vec_id", "embedding", "query_id", "qvec", outPath, k = 10) _)
    *   .start()
    * }}}
    */
  def ivfPqServeBatch(path: String, vectors: DataFrame, idCol: String,
      vecCol: String, qIdCol: String, qVecCol: String, outPath: String,
      k: Int, nProbe: Int = 4, overfetch: Int = 4,
      predicate: Option[Column] = None,
      compactEvery: Option[Long] = None)
      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$outPath/serve_log"
    // watermark → compact → tail (round 18 — r17 verdict task 2: the
    // naive whole-log scan paid O(batches) listing metadata on every
    // trigger, growing forever; [[compactServeLog]] folds the tail on
    // the maintenance cadence and this probe then costs one pointer
    // read plus at most one single-file scan)
    val replayed = graft.sources.BatchLog.contains(spark, logPath, batchId)
    if (replayed) return
    // pin the batch: the probe collects its cell set AND joins it
    // twice — without the checkpoint each action re-runs the source
    val queries = batch.localCheckpoint()
    if (!queries.isEmpty) {
      // predicate (round 9): filtered streaming serving — the same
      // loop against an attr-carrying index pushes the predicate into
      // every trigger's pruned code scan (knnIvfPqBatchIndexedFiltered)
      val res = predicate match {
        case Some(p) => knnIvfPqBatchIndexedFiltered(spark, path,
          vectors, idCol, vecCol, queries, qIdCol, qVecCol, p,
          k, nProbe, overfetch)
        case None => knnIvfPqBatchIndexed(spark, path, vectors, idCol,
          vecCol, queries, qIdCol, qVecCol, k, nProbe, overfetch)
      }
      res.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$outPath/results")
    }
    graft.sources.TinyParquet.appendRows(spark, logPath,
      serveLogSchema("n_queries"),
      Seq(Seq[Any](batchId, queries.count())))
    // self-folding serve log (round 18 — the cowIngestBatch
    // maintainEvery idiom): a long-lived serving stream folds its own
    // tail without an external scheduler. Runs AFTER the log write,
    // content-neutral and crash-convergent, so replays and crashes
    // around it change nothing.
    compactEvery.foreach { n =>
      require(n >= 1, "ivfPqServeBatch: compactEvery must be >= 1")
      if (batchId % n == n - 1) compactServeLog(spark, outPath)
    }
  }

  /** Streaming ANN serving against a persisted GRAPH index
    * (round 17 — the [[ivfPqServeBatch]] twin for the hnsw family,
    * completing its serving symmetry with IVF-PQ): each micro-batch
    * of query vectors runs [[knnHnswBatch]] — per-query probed
    * cells, in-partition beam walks, bounded-heap top-k — and
    * results land in `outPath` with the batch id. Same exactly-once
    * contract via `outPath/serve_log` (a replayed batch id is a
    * no-op; a crash between the result append and the log write can
    * duplicate one batch's byte-identical rows at most once).
    *
    * Wire it:
    * {{{
    * queries.writeStream
    *   .foreachBatch(Similarity.hnswServeBatch(indexPath,
    *     "query_id", "qvec", outPath, k = 10) _)
    *   .start()
    * }}}
    */
  /** `useCodes = true` (round 19): serve each trigger through the
    * memory-bounded CODED walk ([[knnHnswBatchCoded]] — ADC beam
    * over the PQ sidecar, exact point-read rerank) instead of the
    * float walk. Requires [[addPqToHnswIndex]] to have run on the
    * index; the serving loop is where the sidecar pays — hot cells
    * replicate cheaply through the salt fan-out and the task heap
    * stays flat in the vector dimension across a long-lived stream.
    */
  def hnswServeBatch(path: String, qIdCol: String, qVecCol: String,
      outPath: String, k: Int, nProbe: Int = 4, ef: Int = 12,
      rounds: Int = 4, compactEvery: Option[Long] = None,
      predicate: Option[Column] = None, useCodes: Boolean = false)
      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(!useCodes || hnswHasPq(spark, path),
      s"hnswServeBatch: useCodes = true but $path has no PQ sidecar " +
        "— run addPqToHnswIndex first")
    val logPath = s"$outPath/serve_log"
    // the shared watermark → compact → tail probe (see ivfPqServeBatch)
    val replayed = graft.sources.BatchLog.contains(spark, logPath, batchId)
    if (replayed) return
    val queries = batch.localCheckpoint()
    if (!queries.isEmpty) {
      (if (useCodes)
        knnHnswBatchCoded(spark, path, queries, qIdCol, qVecCol, k,
          nProbe, ef, rounds, predicate)
      else
        knnHnswBatch(spark, path, queries, qIdCol, qVecCol, k, nProbe,
          ef, rounds, predicate))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$outPath/results")
    }
    graft.sources.TinyParquet.appendRows(spark, logPath,
      serveLogSchema("n_queries"),
      Seq(Seq[Any](batchId, queries.count())))
    // self-folding serve log — see ivfPqServeBatch
    compactEvery.foreach { n =>
      require(n >= 1, "hnswServeBatch: compactEvery must be >= 1")
      if (batchId % n == n - 1) compactServeLog(spark, outPath)
    }
  }

  // ——— Graph ANN: per-cell navigable-small-world (round 17 —
  // r16 next-task 7, the one ANN regime the suite lacked) ———————————
  //
  // The serving regime IVF-PQ is weakest in — high recall at low
  // per-query latency without a large nProbe — is what graph indexes
  // (HNSW/NSW) exist for: a query WALKS a neighbor graph reading
  // O(ef · m · rounds) vectors instead of scanning whole probed
  // cells. The distributed shape here composes the two families:
  // the corpus is cell-partitioned exactly like the IVF index
  // (argmax-dot centroids, the same probe ranking), and each cell
  // carries its own SINGLE-LAYER NSW graph, built INSIDE the cell —
  // so graph build never shuffles across cells, the walk runs
  // in-partition against bounded state (a cell is sized to executor
  // memory, corpus/nCells — the same contract every per-cell
  // operator in this file documents), and a 1000-executor cluster
  // walks thousands of probed cells concurrently.
  //
  // Everything is DETERMINISTIC and replayable (the s02/s03 oracle
  // stance):
  //  - adjacency: node u's neighbors = its top-`m` same-cell nodes
  //    by (cosine DESC, id ASC) — the brute kNN-graph, the
  //    strongest (and order-free) form of the NSW neighbor
  //    heuristic, built as one within-cell self-join the optimizer
  //    can see;
  //  - entry point: the cell's MINIMUM id (fixed, like HNSW's pinned
  //    entry node);
  //  - search: `rounds` beam-expansion steps — candidates = beam ∪
  //    neighbors(beam), keep the top-`ef` by (cosine DESC, id ASC) —
  //    then the final beams of all probed cells merge into the
  //    global top-k. Fixed rounds instead of walk-until-converged
  //    keeps the computation a pure function of the inputs (and
  //    SQL-replayable as chained CTEs); ef ≥ k and rounds ≈ graph
  //    diameter give the convergence a tunable budget measured by
  //    [[hnswRecall]].
  //
  // The in-memory walk mirrors the codegen'd cosine bit-for-bit
  // (sequential left-to-right accumulation, zero-norm → 0), so the
  // walked result is row-identical to the declarative replay — spec-
  // pinned, and the s22 oracle replays the whole chain in SQL.

  /** Exact mirror of [[VectorOps.cosine]] / the DotProduct codegen:
    * sequential accumulation, zero-norm guard. Double parity with
    * the kernel (and DuckDB's list_dot_product chain) is what makes
    * the in-memory walk oracle-checkable.
    */
  private def cosExact(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var dab = 0.0; var daa = 0.0; var dbb = 0.0
    while (i < a.length) {
      dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1
    }
    val d = math.sqrt(daa) * math.sqrt(dbb)
    if (d == 0) 0.0 else dab / d
  }

  /** Within-cell kNN-graph adjacency over an [[assignCells]] frame:
    * (cell, id, nbrs) with nbrs = top-`m` same-cell neighbors by
    * (cosine DESC, id ASC), sorted for a deterministic persisted
    * layout. One within-cell self-join — Σ|cell|² cosines, the
    * graph-build cost the cell partitioning bounds.
    */
  /** The within-cell kNN-graph EDGES of an [[assignCells]] frame:
    * (cell, src, dst, rk) with dst among src's top-`m` same-cell
    * neighbors by (cosine DESC, id ASC), rk its rank in that order —
    * the pre-grouping half of [[hnswAdjacency]], used directly by the
    * declarative walk. Because the ranking is the same at every m, a
    * smaller m's edge set is exactly `rk <= m` of a larger build —
    * what lets [[hnswTuningEval]] sweep m from ONE self-join.
    */
  private def hnswEdges(indexed: DataFrame, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val left = indexed.select(col("cell"), col("id"), col("vec"))
    val right = indexed.select(col("cell"),
      col("id").as("_g_nid"), col("vec").as("_g_nvec"))
    val w = Window.partitionBy("cell", "id")
      .orderBy(col("_g_cos").desc, col("_g_nid").asc)
    left.join(right, Seq("cell"))
      .where(col("id") =!= col("_g_nid"))
      .withColumn("_g_cos", VectorOps.cosine(col("vec"), col("_g_nvec")))
      .withColumn("_g_rn", row_number().over(w))
      .where(col("_g_rn") <= m)
      .select(col("cell"), col("id").as("src"), col("_g_nid").as("dst"),
        col("_g_rn").as("rk"))
  }

  private def hnswAdjacency(indexed: DataFrame, m: Int): DataFrame =
    hnswEdges(indexed, m)
      .groupBy(col("cell"), col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))

  /** The deterministic beam walk of ONE cell's graph (runs inside a
    * partition): entry = the cell's minimum LIVE id, `rounds`
    * expansions, beam capped at `ef`. Tombstoned nodes (`dead`) keep
    * ROUTING — they stay walkable wherever adjacency still references
    * them, the standard graph-index delete semantics — but are never
    * EMITTED, and crucially never seed the walk: a tombstoned min-id
    * node re-knit out of the adjacency ([[knitHnswCells]] builds from
    * live nodes only) would otherwise trap the beam at a dead,
    * edge-less entry and hide every live node in the cell until a
    * full rebuild (round 18 — r17 ADVICE). Returns the final live
    * beam with exact cosines; a fully-tombstoned cell returns empty.
    */
  /** `hidden` (round 18 — filtered graph probes): nodes failing the
    * caller's attribute predicate ROUTE and even SEED (they are live
    * graph structure — walking only the filtered subgraph would
    * disconnect it, the standard filtered-graph-ANN argument) but are
    * never emitted; size ef above k to keep emission headroom under
    * selective predicates (the documented filtered-walk contract).
    */
  /** Rank-indexed cell state for one walk task (round 19): ids
    * sorted ascending, every per-node fact addressed by the node's
    * RANK — adjacency as int offsets resolved once by binary search,
    * dead/hide as boolean arrays. The per-id HashMap form cost
    * ~120 B/node in boxed Long keys and entry objects on top of the
    * payload; this representation costs the adjacency ints alone.
    * Pure representation change: ordering tie-breaks still compare
    * the REAL ids, so walk results are byte-identical (every parity
    * spec and the s22/s24/s25 oracles pin it).
    */
  private final class CellState(
      val ids: Array[Long],
      val adj: Array[Array[Int]],
      val dead: Array[Boolean],
      val hide: Array[Boolean]) {
    def size: Int = ids.length
  }

  /** Sort rows by id and convert to rank space. `P` is the scoring
    * payload (float-walk vectors / coded-walk codes+norm), returned
    * aligned to the same ranks. A graph neighbor whose cells row is
    * absent is dropped (the map form THREW on it at score time — an
    * impossible state under the write ordering, now also a safe one).
    */
  private def buildCellState[P: scala.reflect.ClassTag](
      rows: Array[(Long, P, Option[Array[Long]], Boolean, Boolean)])
      : (CellState, Array[P]) = {
    val sorted = rows.sortBy(_._1)
    val ids = sorted.map(_._1)
    val payload = sorted.map(_._2)
    val adj = sorted.map { r =>
      r._3.map(_.flatMap { nid =>
        val i = java.util.Arrays.binarySearch(ids, nid)
        if (i >= 0) Some(i) else None
      }).getOrElse(Array.empty[Int])
    }
    (new CellState(ids, adj, sorted.map(_._4), sorted.map(_._5)), payload)
  }

  /** The beam walk in rank space: entry = the first (lowest-id)
    * LIVE rank, `rounds` expansions of cand = beam ∪ out-edges,
    * top-ef by (score DESC, id ASC), dead/hidden filtered from
    * EMISSION only. Scores memoized per call (per query).
    */
  private def walkCellIdx(st: CellState, scoreOf: Int => Double,
      ef: Int, rounds: Int): Seq[Int] = {
    val memo = new Array[Double](st.size)
    val has = new Array[Boolean](st.size)
    def sc(i: Int): Double = {
      if (!has(i)) { memo(i) = scoreOf(i); has(i) = true }
      memo(i)
    }
    val entry = st.ids.indices.find(i => !st.dead(i))
    if (entry.isEmpty) return Nil
    var beam = Vector(entry.get)
    var r = 0
    while (r < rounds) {
      val cand = (beam ++ beam.flatMap(i => st.adj(i))).distinct
      beam = cand.sortBy(i => (-sc(i), st.ids(i))).take(ef)
      r += 1
    }
    beam.filterNot(i => st.dead(i) || st.hide(i))
  }

  private def walkCell(qd: Array[Double], st: CellState,
      vecs: Array[Array[Double]], ef: Int,
      rounds: Int): Seq[(Long, Double)] = {
    val cos = new Array[Double](st.size)
    val has = new Array[Boolean](st.size)
    def sc(i: Int): Double = {
      if (!has(i)) { cos(i) = cosExact(vecs(i), qd); has(i) = true }
      cos(i)
    }
    walkCellIdx(st, sc, ef, rounds).map(i => (st.ids(i), sc(i)))
  }

  /** (cell, id, vec, nbrs, dead, hide) rows of a persisted graph
    * index's probed cells — liveness (tombstones) and the caller's
    * attribute predicate joined in, so seeding, routing and emission
    * all see one consistent view. `hide` = the predicate FAILS (null
    * = fail, SQL filter semantics), evaluated against the cells
    * tree's stored attribute columns inside the pruned scan.
    */
  private def hnswCellRows(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Seq[Int],
      predicate: Option[Column] = None): DataFrame = {
    val nodes = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(cells: _*))
      .select(col("cell"), col("id"),
        col("vec").cast("array<double>").as("vec"),
        predicate.map(p => !coalesce(p, lit(false)))
          .getOrElse(lit(false)).as("_hide"))
      .join(spark.read.parquet(s"$path/graph")
        .where(col("cell").isin(cells: _*))
        .select(col("cell"), col("id"), col("nbrs")),
        Seq("cell", "id"), "left")
    // broadcast stance of cellsMinusTombstones: takedowns are
    // human-scale; a corpus-scale delete is a rebuild
    ivfTombstones(spark, path) match {
      case Some(t) => nodes
        .join(broadcast(t.withColumn("_dead", lit(true))), Seq("id"), "left")
        .select(col("cell"), col("id"), col("vec"), col("nbrs"),
          coalesce(col("_dead"), lit(false)).as("_dead"), col("_hide"))
      case None => nodes.withColumn("_dead", lit(false))
    }
  }

  /** Shared walk stage: (cell, id, vec, nbrs, dead, hide) rows → the
    * union of every cell's final live+visible beam, as an
    * (id, cosine) frame. groupByKey by cell keeps each walk's state
    * bounded by one cell.
    */
  private def walkCells(cellRows: DataFrame,
      qd: Array[Double], ef: Int, rounds: Int): DataFrame = {
    val spark = cellRows.sparkSession
    import spark.implicits._
    cellRows
      .select(col("cell"), col("id"),
        col("vec").cast("array<double>").as("vec"), col("nbrs"),
        col("_dead"), col("_hide"))
      .as[(Int, Long, Seq[Double], Option[Seq[Long]], Boolean, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val (st, vecs) = buildCellState(it.map(r =>
          (r._2, r._3.toArray, r._4.map(_.toArray), r._5, r._6)).toArray)
        walkCell(qd, st, vecs, ef, rounds).iterator
      }
      .toDF("id", "cosine")
  }

  /** Graph ANN top-k, inline DECLARATIVE form (index built on the
    * fly over the PROBED cells only — adjacency is within-cell, so
    * it is identical to the slice of a full build): probe `nProbe`
    * cells by the IVF centroid ranking, then unroll the fixed
    * `rounds` beam expansions as plain joins + per-cell rank windows
    * — the exact relational shape the s22 oracle replays, and a plan
    * SqlGen prints (the zero-carve-outs roundtrip contract; the
    * typed in-memory walk lives in the SERVING paths below, pinned
    * row-identical to this form in HnswSpec). Same output contract
    * as [[knnIvf]]: (id, cosine), ties by id. The persisted form
    * ([[writeHnswIndex]] / [[knnHnswIndexed]]) is what serves at
    * 100 TB — this form exists for evals and the oracle gate.
    */
  /** `predicate`/`attrCols` (round 18 — the filtered graph probe,
    * s15's treatment for this family): the walk runs over the FULL
    * graph — filtered nodes still route and seed, because walking
    * only the predicate-passing subgraph would disconnect it (the
    * standard filtered-graph-ANN argument, and the opposite trade
    * from [[knnIvfFiltered]]'s exact pre-filter, which can afford to
    * drop rows because a flat scan has no connectivity to lose) —
    * and the predicate masks EMISSION: only passing nodes leave the
    * final beam. Consequence: top-k draws from the ≤ ef·nProbe
    * visible beam survivors, so size ef ABOVE k in proportion to the
    * predicate's selectivity (ef ≈ k/selectivity), or recall under
    * selective predicates starves — the documented filtered-walk
    * contract, measurable with [[hnswRecall]]'s machinery.
    */
  /** (cosine DESC, id ASC) — the walk's one total order, as an
    * array_sort comparator (ids are distinct, so it is total).
    * Shared by the packed inline walk and the packed tuning sweep.
    */
  private def byCosDescIdAsc(l: Column, r: Column): Column =
    when(l.getField("cos") > r.getField("cos"), -1)
      .when(l.getField("cos") < r.getField("cos"), 1)
      .when(l.getField("id") < r.getField("id"), -1)
      .when(l.getField("id") > r.getField("id"), 1)
      .otherwise(0)

  /** An empty array of the id column's own type, without naming it. */
  private def emptyLike(c: Column): Column = slice(array(c), 1, 0)

  /** Score ids against `qv` via the packed id→vec map and sort by the
    * walk order — the packed form of the join/window beam ranking.
    * The cosine call is the same [[VectorOps.cosine]] kernel the join
    * form applied row-wise, so every double is unchanged.
    */
  private def scoredOf(ids: Column, qv: Column): Column = array_sort(
    transform(ids, i => struct(
      VectorOps.cosine(element_at(col("_p_vecs"), i), qv).as("cos"),
      i.as("id"))),
    byCosDescIdAsc)

  /** Pack each cell's graph into one row: (id → vec) map, (src →
    * rk-sorted out-edge list) map, and the walk entry (min id). A
    * cell's whole graph rides one row, so a beam round is array
    * algebra, not an exchange. Left join: a 1-node cell has no edges;
    * lookups null-propagate into [[packedWalk]]'s coalesce.
    */
  private def packCellGraph(nodes: DataFrame, edges: DataFrame)
      : DataFrame = {
    val nodePack = nodes.groupBy("cell").agg(
      map_from_entries(collect_list(struct(col("id"), col("vec"))))
        .as("_p_vecs"),
      min("id").as("_p_entry"))
    val edgePack = edges
      .groupBy("cell", "src")
      .agg(transform(array_sort(collect_list(struct(col("rk"), col("dst")))),
        e => e.getField("dst")).as("_p_dsts"))
      .groupBy("cell")
      .agg(map_from_entries(collect_list(struct(col("src"), col("_p_dsts"))))
        .as("_p_adj"))
    nodePack.join(edgePack, Seq("cell"), "left")
  }

  /** One cell's whole multi-round beam walk as a single aggregate()
    * fold over the packed row: state = (beam, visited); per round,
    * cand = beam ∪ the rk≤m edge prefix of every beam node
    * (distinct), beam = ids of the top-ef scored candidates, visited
    * ∪= cand. Every cand id is a node of the cell, so the vec lookup
    * never misses. rounds = 0 returns the entry beam untouched
    * (sequence(1, 0) would count DOWN — two steps, not zero).
    */
  /** cand = beam ∪ the rk≤m out-edge prefix of every beam node,
    * distinct — the ONE candidate rule both packed folds share.
    */
  private def candOfBeam(beam: Column, m: Int): Column =
    array_distinct(concat(beam,
      flatten(transform(beam,
        i => coalesce(slice(element_at(col("_p_adj"), i), 1, m),
          emptyLike(i))))))

  private def packedWalk(qv: Column, m: Int, ef: Int,
      rounds: Int): Column = {
    def candOf(st: Column): Column = candOfBeam(st.getField("beam"), m)
    val init = struct(array(col("_p_entry")).as("beam"),
      emptyLike(col("_p_entry")).as("vis"))
    // rounds ≤ 0 returns the entry beam untouched: sequence(1, rounds)
    // counts DOWN for rounds < 0 (extra iterations, not zero), and the
    // pre-fold (1 to rounds) loop was a no-op there (r19 ADVICE)
    if (rounds <= 0) init
    else aggregate(
      sequence(lit(1), lit(rounds)),
      init,
      (st, _) => struct(
        transform(slice(scoredOf(candOf(st), qv), 1, ef),
          s => s.getField("id")).as("beam"),
        array_distinct(concat(st.getField("vis"), candOf(st)))
          .as("vis")))
  }

  /** The beam-only packed walk the INLINE probe consumes: identical
    * beam evolution to [[packedWalk]] — vis never feeds beam — with
    * the visited accumulator (a per-round distinct-union over a
    * monotonically growing set, plus a second candOf evaluation)
    * dropped, because only the tuning eval reads it (r19 ADVICE; r20
    * optimization).
    */
  private def packedBeam(qv: Column, m: Int, ef: Int,
      rounds: Int): Column = {
    val init = array(col("_p_entry"))
    if (rounds <= 0) init
    else aggregate(
      sequence(lit(1), lit(rounds)),
      init,
      (beam, _) => transform(
        slice(scoredOf(candOfBeam(beam, m), qv), 1, ef),
        s => s.getField("id")))
  }

  /** Cell-size bound (r19 ADVICE): [[packCellGraph]] folds each probed
    * cell into ONE row (id→vec map), so the inline walk is bounded by
    * single-row limits (~2 GB array cap / executor heap) for very
    * large cells — soft-bounded in practice by [[hnswEdges]]' per-cell
    * self-join, and acceptable because this form is the eval/oracle
    * path; the persisted form ([[knnHnswIndexed]]) serves at 100 TB.
    *
    * Cache release (r19 ADVICE): the probed cells persist in `scope`
    * (default [[Dedup.batchScope]]); callers invoking this repeatedly
    * without `Dedup.unpersistAll()` should pass their own scope and
    * release it once the result is consumed.
    */
  def knnHnsw(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 6, ef: Int = 12, rounds: Int = 4,
      strategy: CentroidStrategy = SeededCentroids,
      attrCols: Seq[String] = Nil,
      predicate: Option[Column] = None,
      scope: Dedup.CacheScope = Dedup.batchScope): DataFrame = {
    require(ef >= k, s"knnHnsw: ef ($ef) must be >= k ($k) — the final " +
      "beam is the candidate pool")
    require(predicate.isEmpty || attrCols.nonEmpty,
      "knnHnsw: a predicate needs the attribute columns it reads — " +
        "pass them via attrCols")
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    val indexed = assignCells(df, idCol, vecCol, cents,
      extraCols = attrCols)
    val qd = query.map(_.toDouble)
    val probeCells = cents.zipWithIndex
      .map { case (c, i) => (c.zip(qd).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val nodes = scope.persistTracked(indexed
      .where(col("cell").isin(probeCells.toIndexedSeq: _*)))
    val edges = hnswEdges(nodes, m)
    val q = typedlit(query.toSeq)
    // Round-19 shape (the hnswTuningEval stance, r18 verdict task 2
    // applied to the inline walk): the former per-round join/window
    // chain referenced `beam` TWICE per round (cand = beam ∪
    // beam⋈edges), doubling the shared subtree every round — 4 rounds
    // planned ~2^4 copies of the assignment scan and paid ~3 exchanges
    // per round in sequential stage latency. Each probed cell now
    // PACKS into one row (id→vec map, rank-sorted adjacency, min-id
    // entry) and the whole multi-round walk runs as ONE aggregate()
    // fold over ≤ nProbe rows — zero exchanges per round, linear plan.
    // Every intermediate set follows the same rules as the join form
    // (cand = beam ∪ out-edges, distinct; beam = top-ef by cosine
    // DESC id ASC) over the same typed inputs (array<float> node vecs
    // against the array<float> query literal — the identical
    // VectorOps.cosine kernel call), so every double, and therefore
    // the s22/s24 oracle hashes and the inline↔indexed parity specs,
    // are unchanged.
    val packed = packCellGraph(nodes, edges)
    val beamIds = packed.select(col("cell"),
      explode(packedBeam(q, m, ef, rounds)).as("id"))
    val merged = beamIds.join(nodes, Seq("cell", "id"))
    predicate.map(merged.where).getOrElse(merged)
      .select(col("id"), VectorOps.cosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Persist the graph index: the IVF `cells` layout (vectors +
    * optional attr columns, partitioned by cell) plus a `graph` tree
    * (per-cell adjacency, same partitioning) and the centroids.
    * Probes prune BOTH trees to the probed cells. Build cost:
    * one assignment pass + the within-cell self-join.
    */
  def writeHnswIndex(
      df: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int = 16, m: Int = 6,
      strategy: CentroidStrategy = SeededCentroids,
      attrCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = centroidVectors(df, idCol, vecCol, nCells, strategy)
    val assigned = assignCells(df, idCol, vecCol, cents,
      extraCols = attrCols).localCheckpoint()
    // The three DATA trees (cells, graph, centroids) all derive from
    // the pinned assignment and are independent of each other —
    // submit them as concurrent jobs so the later writes back-fill
    // the tail of the earlier ones (round 19 optimization; actions
    // are only sequential because driver code calls them
    // sequentially).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // read-only, so it may overlap the data writes even though the
    // hnswmeta WRITE below must not
    val nBuilt = Future { assigned.count() }
    val writes = Seq(
      Future {
        assigned.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$path/cells")
      },
      Future {
        hnswAdjacency(assigned, m).write.mode("overwrite")
          .partitionBy("cell").parquet(s"$path/graph")
      },
      Future {
        cents.zipWithIndex.toIndexedSeq
          .map { case (c, i) => (c.toSeq, i) }.toDF("cv", "cell")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$path/centroids")
      })
    // surface the FIRST failure, but only after every write finished
    // — a failed build must not leave another thread still writing
    writes.foreach(f => Await.ready(f, Duration.Inf))
    writes.foreach(f => Await.result(f, Duration.Inf))
    // hnswmeta lands LAST, sequentially: it is the marker IndexHealth
    // uses to classify a path as a graph index, so writing it only
    // after every data tree succeeded keeps it the de-facto commit
    // marker — a failed build can never leave a partial tree that
    // probes/health checks would treat as a complete index (r19
    // ADVICE). n_built (round 18): the corpus size this build's
    // centroids and entries were sized FOR — what IndexHealth's
    // append-drift trigger compares the live count against (appends
    // deliberately never update it; a rebuild re-records it).
    // driver-direct 1-row write (r20 — TinyParquet): the Spark job a
    // repartition(1) write paid here was pure fixed cost per build
    graft.sources.TinyParquet.write(spark, s"$path/hnswmeta",
      """message spark_schema {
        |  required int32 m;
        |  required int32 n_cells;
        |  required int64 n_built;
        |}""".stripMargin,
      Seq(Seq[Any](m, nCells, Await.result(nBuilt, Duration.Inf))))
  }

  /** Probe a persisted graph index: partition-pruned reads of the
    * probed cells' vectors AND adjacency, the in-partition beam walk,
    * global top-k. Tombstones ([[deleteFromIvfIndex]] — the shared
    * `tombstones` layout) are honored the graph way: a deleted node
    * may still ROUTE (its edges exist until the next rebuild — the
    * standard graph-index delete semantics) but can never be
    * RETURNED, and never seeds a walk (see [[walkCell]]); the
    * liveness flag rides the walk input itself so both rules see one
    * tombstone set.
    */
  def knnHnswIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Float], k: Int, nProbe: Int = 4,
      ef: Int = 12, rounds: Int = 4,
      predicate: Option[Column] = None): DataFrame = {
    require(ef >= k, s"knnHnswIndexed: ef ($ef) must be >= k ($k)")
    val qd = query.map(_.toDouble)
    val probeCells = readCentroids(spark, path).zipWithIndex
      .map { case (cv, cell) =>
        (cv.zip(qd).map { case (a, b) => a * b }.sum, cell)
      }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    walkCells(hnswCellRows(spark, path, probeCells.toIndexedSeq, predicate),
        qd, ef, rounds)
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Batch form over a persisted graph index: each query walks the
    * graphs of its OWN probed cells; one pruned read serves the whole
    * batch (cells union over the batch's probes), and the final
    * top-k per query runs through the bounded-heap aggregate.
    *
    * FULLY DISTRIBUTED (round 18 — r17 verdict task 1; the previous
    * form collected every query vector to the driver and shipped a
    * per-cell map in the task closure, O(|Q|·dim) driver heap):
    * per-query probed cells are computed IN the plan by the same
    * centroid-literal array expression [[knnIvfBatch]] uses, and the
    * query fan-out reaches each cell's walk through a typed COGROUP
    * on `cell` — node rows on one side, (qid, qvec) probes on the
    * other — so the only driver-side state is the centroid list
    * (bounded by nCells) and the probed-cell union that prunes the
    * two parquet scans (≤ nCells values). Driver memory is FLAT in
    * the batch size; a 100×-larger query batch only widens the probe
    * shuffle, never the driver. Per-cell walk state stays bounded by
    * one cell plus the queries probing it (a hot cell serializes its
    * queries in one task — the per-cell serving economics this family
    * documents).
    */
  /** Per-cell salt counts for the hot-cell fan-out:
    * ceil(queries/threshold), capped so a pathological single-cell
    * batch cannot replicate a cell past maxCellSalts copies.
    */
  private[graft] val maxCellSalts = 32
  private[graft] def saltsOf(counts: Map[Int, Long],
      perTask: Int): Map[Int, Int] =
    counts.map { case (c, n) =>
      c -> math.min(maxCellSalts.toLong,
        math.max(1L, (n + perTask - 1) / perTask)).toInt
    }

  /** `saltQueriesPerTask` (round 19 — r18 verdict task 3, hot-cell
    * fan-out): the cogroup keys walks BY CELL, so every query probing
    * a popular cell lands in ONE task and walks serially there — the
    * realistic serving batch (thousands of queries concentrated on a
    * few hot cells) was throughput-bound by one core per cell. Above
    * the threshold the cell's rows REPLICATE across ceil(q/threshold)
    * salt keys (capped at maxCellSalts) and each query hashes to one
    * salt — per-task state is unchanged (one cell copy + a slice of
    * the queries), wall-clock parallelizes, and results are
    * row-identical because every salt replica holds the FULL cell
    * (spec-pinned). The cost is shipping the cell S× through the
    * shuffle — exactly the trade the coded walk shrinks 16×.
    */
  def knnHnswBatch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int = 4, ef: Int = 12, rounds: Int = 4,
      predicate: Option[Column] = None,
      saltQueriesPerTask: Int = 64): DataFrame = {
    require(ef >= k, s"knnHnswBatch: ef ($ef) must be >= k ($k)")
    require(saltQueriesPerTask >= 1,
      "knnHnswBatch: saltQueriesPerTask must be >= 1")
    requireIntegralId(queries, qIdCol)
    import spark.implicits._
    val cents = readCentroids(spark, path)
    // (-score, cell) structs sort ascending = score desc, ties → lower
    // cell — the knnIvfBatch probe shape, identical ranking to the
    // single-probe driver-side math
    val scoreStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-VectorOps.dot(col("qv"), typedlit(c.toSeq))).as("neg"),
             lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val probes = queries
      .select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<double>").as("qv"))
      .select(col("qid"), col("qv"),
        explode(transform(slice(array_sort(scoreStructs), 1, nProbe),
          s => s.getField("cell"))).as("cell"))
      .localCheckpoint() // two consumers: the cell-union collect + the walk
    // bounded collect: ≤ nCells rows — the probed-cell union prunes
    // BOTH index trees AND sizes each cell's salt fan-out
    val cellCounts = probes.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val allCells = cellCounts.keys.toIndexedSeq.sorted
    val salts = saltsOf(cellCounts, saltQueriesPerTask)
    val saltLit = typedlit(salts)
    val walked = hnswCellRows(spark, path, allCells, predicate)
      .select(col("cell"),
        explode(sequence(lit(0),
          element_at(saltLit, col("cell")) - 1)).as("_salt"),
        col("id"), col("vec").cast("array<double>").as("vec"),
        col("nbrs"), col("_dead"), col("_hide"))
      .as[(Int, Int, Long, Seq[Double], Option[Seq[Long]], Boolean, Boolean)]
      .groupByKey(r => (r._1, r._2))
      .cogroup(probes.select(col("cell"),
          pmod(xxhash64(col("qid")), element_at(saltLit, col("cell")))
            .cast("int").as("_salt"),
          col("qid"), col("qv"))
        .as[(Int, Int, Long, Seq[Double])].groupByKey(r => (r._1, r._2))) {
        (_, nodeIt, qIt) =>
          val rows = nodeIt.map(r =>
            (r._3, r._4.toArray, r._5.map(_.toArray), r._6, r._7)).toArray
          if (rows.isEmpty) Iterator.empty
          else {
            val (st, vecs) = buildCellState(rows)
            qIt.flatMap { case (_, _, qid, qv) =>
              walkCell(qv.toArray, st, vecs, ef, rounds)
                .map { case (id, c) => (qid, id, c) }
            }
          }
      }
      .toDF("query_id", "id", "cosine")
    walked
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"),
        col("e.ord").as("cosine"))
  }

  /** Attach a PQ code sidecar to a persisted graph index (round 19 —
    * r18 verdict task 1, the family's last scale cliff): the serving
    * walks ([[walkCells]], [[knnHnswBatch]]'s cogroup) hold every
    * probed cell's FULL float64 vectors in one task heap, so task
    * memory grows linearly with cell size — dim·8 bytes per node.
    * This trains a PQ codebook over the stored vectors (the s11
    * machinery) and writes `path/pqcodes` (cell-partitioned m-byte
    * codes + norms) and `path/pq/codebook`; the CODED walks
    * ([[knnHnswIndexedCoded]] / [[knnHnswBatchCoded]]) then walk the
    * beam on ADC scores — m LUT lookups per candidate, pqM·4 bytes
    * of codes per node in the task heap instead of dim·8 of floats —
    * and exact-rerank ONLY the final beam against the float tree via
    * the bounded static-In point read ([[exactRerankIsin]]'s
    * stance). Per-task memory becomes FLAT in the vector dimension
    * and ~dim·8/(pqM·4)× smaller per node; recall at matched knobs
    * is pinned against the float walk (HnswSpec), not assumed.
    *
    * Lifecycle: [[appendToHnswIndex]] extends the sidecar with the
    * STORED codebook (appends stay probe-consistent);
    * [[rebuildHnswIndex]] retrains a fresh sidecar at the new path
    * when the old index carries one (drift absorption, the rebuild
    * stance); tombstones are honored by the walk itself (dead nodes
    * route, never emit, never seed).
    */
  def addPqToHnswIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, pqM: Int, nCodes: Int, opq: Boolean = false): Unit = {
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("cell"), col("id"), col("vec"))
    addPqToHnswIndex(spark, path,
      pqTrainCodebook(cells, "id", "vec", pqM, nCodes, opq = opq))
  }

  /** Overload taking a prebuilt codebook — what the oracle-gated
    * entry uses (pqSeededCodebook is SQL-replayable; the k-means
    * trainer is not) and what a fleet sharing one codebook across
    * many indexes would call.
    */
  def addPqToHnswIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, cb: PqCodebook): Unit = {
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("cell"), col("id"), col("vec"))
    writeHnswPqCodes(cells, cb, path, "overwrite")
    dumpCodebook(spark, cb, s"$path/pq")
  }

  /** Encode (cell, id, vec) rows with the index's codebook and land
    * them in the cell-partitioned sidecar — build + append legs
    * share the one encoder so codes never drift by path.
    */
  private def writeHnswPqCodes(cells: DataFrame, cb: PqCodebook,
      path: String, mode: String): Unit = {
    val enc = cb.rotation.map(rotateExpr(col("vec").cast("array<double>"), _))
      .getOrElse(col("vec"))
    cells.select(col("cell"), col("id").cast("long").as("id"),
        graft.functions.VectorOps.pqEncodeCodes(
          enc, cb.flat, cb.m, cb.nCodes).as("codes"),
        sqrt(VectorOps.dot(col("vec"), col("vec"))).as("norm"))
      .write.mode(mode).partitionBy("cell").parquet(s"$path/pqcodes")
  }

  /** Live cells-tree ids the PQ sidecar lacks — the append crash
    * signature for the CODED walk ([[appendToHnswIndex]] writes
    * cells, then pqcodes, then knits; a crash between the first two
    * leaves nodes the ADC beam can never score, exactly like an
    * unknitted node is walkable-but-unreachable). 0 for an index
    * without the sidecar. IndexHealth's needsCompact input; the
    * repair is [[encodeMissingHnswPqCodes]], bounded and in-place.
    */
  private[operators] def hnswPqUncoded(
      spark: org.apache.spark.sql.SparkSession, path: String): Long =
    if (!hnswHasPq(spark, path)) 0L
    else spark.read.parquet(s"$path/cells")
      .select(col("id").cast("long").as("id"))
      .join(spark.read.parquet(s"$path/pqcodes").select("id"),
        Seq("id"), "left_anti")
      .count()

  /** Encode every sidecar-missing node with the STORED codebook and
    * append — the bounded in-place repair for the coded-walk crash
    * window (the [[knitHnswCells]] twin). Idempotent; tombstoned
    * nodes encode too (sidecar parity is with the CELLS TREE — the
    * walk's dead-mask, not the sidecar, owns deletion semantics).
    * Returns the number of nodes encoded.
    */
  def encodeMissingHnswPqCodes(
      spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    if (!hnswHasPq(spark, path)) return 0L
    // sever the plan from the sidecar path before appending to it
    val missing = spark.read.parquet(s"$path/cells")
      .select(col("cell"), col("id"), col("vec"))
      .join(spark.read.parquet(s"$path/pqcodes")
          .select(col("id").cast("long").as("_p_have")),
        col("id").cast("long") === col("_p_have"), "left_anti")
      .localCheckpoint()
    val n = missing.count()
    if (n > 0)
      writeHnswPqCodes(missing, readPqCodebook(spark, s"$path/pq"),
        path, "append")
    n
  }

  /** Whether the graph index at `path` carries the PQ sidecar. */
  def hnswHasPq(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/pqcodes")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** [[walkCell]] on ADC scores: identical beam mechanics (min LIVE
    * id entry, cand = beam ∪ out-edges, top-ef by (score DESC, id
    * ASC), dead/hidden route-but-never-emit) with the cosine replaced
    * by the PQ approximation Σ lut(s·nCodes + code_s) / (qnorm·norm)
    * — the [[knnPqBatch]] kernel's exact arithmetic, accumulated in
    * the same left-to-right order. Returns the final live+visible
    * beam IDS only: exact cosines are the rerank's job, computed
    * against the float tree the walk never reads.
    */
  private def walkCellAdc(lut: Array[Double], nCodes: Int,
      qnorm: Double, st: CellState, codes: Array[Array[Int]],
      norms: Array[Double], ef: Int, rounds: Int): Seq[Long] = {
    def scoreOf(i: Int): Double = {
      val cs = codes(i)
      var s = 0d
      var j = 0
      while (j < cs.length) { s += lut(j * nCodes + cs(j)); j += 1 }
      val denom = qnorm * norms(i)
      if (denom == 0d) 0d else s / denom
    }
    walkCellIdx(st, scoreOf, ef, rounds).map(st.ids)
  }

  /** (cell, id, codes, norm, nbrs, dead, hide) rows of the probed
    * cells — the coded walk's input. The float `vec` column is NEVER
    * read: codes+norms come from the sidecar, adjacency from the
    * graph tree, and the predicate's hide flag is evaluated against
    * the cells tree's ATTRIBUTE columns only (column pruning keeps
    * the vector bytes out of that scan too).
    */
  private def hnswCodedCellRows(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Seq[Int],
      predicate: Option[Column]): DataFrame = {
    val codes = spark.read.parquet(s"$path/pqcodes")
      .where(col("cell").isin(cells: _*))
      .select(col("cell"), col("id"), col("codes"), col("norm"))
    val withHide = predicate match {
      case Some(p) => codes.join(
        spark.read.parquet(s"$path/cells")
          .where(col("cell").isin(cells: _*))
          .select(col("cell"), col("id"),
            (!coalesce(p, lit(false))).as("_hide")),
        Seq("cell", "id"), "left")
        // a coded row with no cells-tree twin cannot prove it passes
        .withColumn("_hide", coalesce(col("_hide"), lit(true)))
      case None => codes.withColumn("_hide", lit(false))
    }
    val withNbrs = withHide.join(
      spark.read.parquet(s"$path/graph")
        .where(col("cell").isin(cells: _*))
        .select(col("cell"), col("id"), col("nbrs")),
      Seq("cell", "id"), "left")
    ivfTombstones(spark, path) match {
      case Some(t) => withNbrs
        .join(broadcast(t.withColumn("_dead", lit(true))), Seq("id"), "left")
        .select(col("cell"), col("id"), col("codes"), col("norm"),
          col("nbrs"), coalesce(col("_dead"), lit(false)).as("_dead"),
          col("_hide"))
      case None => withNbrs.select(col("cell"), col("id"), col("codes"),
        col("norm"), col("nbrs"), lit(false).as("_dead"), col("_hide"))
    }
  }

  /** The per-query LUT + rotated-norm, driver-side, mirroring the
    * declarative [[knnPqBatch]] LUT expression entry-for-entry (same
    * slice offsets, same left-to-right accumulation).
    */
  private def adcLutOf(cb: PqCodebook,
      qd: Array[Double]): (Array[Double], Double) = {
    val qr = cb.rotation
      .map(r => r.map(row => dotSeq(row, qd, 0)))
      .getOrElse(qd)
    val lut = Array.tabulate(cb.m * cb.nCodes) { i =>
      val s = i / cb.nCodes
      val c = i % cb.nCodes
      dotSeq(qr, cb.codebooks(s)(c), s * cb.subDim)
    }
    (lut, math.sqrt(dotSeq(qr, qr, 0)))
  }

  /** Memory-bounded probe of a persisted graph index (round 19): the
    * beam walks the probed cells on PQ codes (the [[addPqToHnswIndex]]
    * sidecar), then ONLY the final beam's ≤ ef·nProbe ids point-read
    * the float tree through a static `In` filter for the exact
    * rerank. Task heap per probed cell: pqM·4-byte codes + an 8-byte
    * norm per node — flat in the vector dimension; the float column
    * is read for ≤ ef·nProbe rows total. Recall at matched knobs vs
    * the float walk is measured ([[hnswRecallIndexedCoded]]), not
    * assumed — codes approximate the ranking, so beams can diverge
    * where ADC transposes near-equal scores.
    */
  def knnHnswIndexedCoded(
      spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Float], k: Int, nProbe: Int = 4,
      ef: Int = 12, rounds: Int = 4,
      predicate: Option[Column] = None): DataFrame = {
    require(ef >= k, s"knnHnswIndexedCoded: ef ($ef) must be >= k ($k)")
    import spark.implicits._
    val cb = readPqCodebook(spark, s"$path/pq")
    val qd = query.map(_.toDouble)
    val (lut, qnorm) = adcLutOf(cb, qd)
    val probeCells = readCentroids(spark, path).zipWithIndex
      .map { case (cv, cell) =>
        (cv.zip(qd).map { case (a, b) => a * b }.sum, cell)
      }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    val beamIds = codedBeamIds(spark, path, cb, lut, qnorm,
      probeCells.toIndexedSeq, ef, rounds, predicate)
    exactRerankIsin(
      spark.read.parquet(s"$path/cells")
        .where(col("cell").isin(probeCells.toIndexedSeq: _*)),
      "id", "vec", beamIds, query, k)
  }

  /** The coded walk's final live+visible beam ids over the probed
    * cells — the bounded (≤ ef·nProbe) point-read set the exact
    * rerank consumes. Exposed in-package so an oracle-gated entry can
    * run the walk imperatively and keep its FINAL frame (the rerank
    * over the registered cells tree) SqlGen-printable.
    */
  private[graft] def codedBeamIds(
      spark: org.apache.spark.sql.SparkSession, path: String,
      cb: PqCodebook, lut: Array[Double], qnorm: Double,
      cells: Seq[Int], ef: Int, rounds: Int,
      predicate: Option[Column]): Array[Long] = {
    import spark.implicits._
    val nCodes = cb.nCodes
    hnswCodedCellRows(spark, path, cells, predicate)
      .select(col("cell"), col("id"), col("codes"), col("norm"),
        col("nbrs"), col("_dead"), col("_hide"))
      .as[(Int, Long, Seq[Int], Double, Option[Seq[Long]], Boolean, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val (st, payload) = buildCellState(it.map(r =>
          (r._2, (r._3.toArray, r._4), r._5.map(_.toArray), r._6, r._7))
          .toArray)
        walkCellAdc(lut, nCodes, qnorm, st, payload.map(_._1),
          payload.map(_._2), ef, rounds).iterator
      }
      .collect() // bounded: ≤ ef · nProbe ids — the s12 point-read set
  }

  /** Driver-side probe-cell ranking + LUT for one query against a
    * persisted coded index — the pieces [[knnHnswIndexedCoded]]
    * assembles, exposed for the oracle entry.
    */
  private[graft] def codedProbePlan(
      spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Float], nProbe: Int)
      : (PqCodebook, Array[Double], Double, Seq[Int]) = {
    val cb = readPqCodebook(spark, s"$path/pq")
    val qd = query.map(_.toDouble)
    val (lut, qnorm) = adcLutOf(cb, qd)
    val probeCells = readCentroids(spark, path).zipWithIndex
      .map { case (cv, cell) =>
        (cv.zip(qd).map { case (a, b) => a * b }.sum, cell)
      }
      .sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2)
    (cb, lut, qnorm, probeCells.toIndexedSeq)
  }

  /** Batch form of the coded walk — [[knnHnswBatch]]'s distributed
    * shape (per-query probes in the plan, typed cogroup on cell) with
    * the walk on ADC scores: each query ships its (m·nCodes)-double
    * LUT through the probe shuffle instead of nothing extra (the
    * float walk ships qv anyway), the cogrouped task holds codes not
    * vectors, and the final ≤ |Q|·ef·nProbe candidates exact-rerank
    * against the float tree — static-In point read when the
    * collected set fits [[maxRerankRows]] (the serving shape), join
    * rerank past it (no driver cliff at any batch size).
    */
  def knnHnswBatchCoded(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int = 4, ef: Int = 12, rounds: Int = 4,
      predicate: Option[Column] = None,
      saltQueriesPerTask: Int = 64): DataFrame = {
    require(ef >= k, s"knnHnswBatchCoded: ef ($ef) must be >= k ($k)")
    require(saltQueriesPerTask >= 1,
      "knnHnswBatchCoded: saltQueriesPerTask must be >= 1")
    requireIntegralId(queries, qIdCol)
    import spark.implicits._
    val cb = readPqCodebook(spark, s"$path/pq")
    val cents = readCentroids(spark, path)
    val scoreStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-VectorOps.dot(col("qv"), typedlit(c.toSeq))).as("neg"),
             lit(i).as("cell"))
    }.toIndexedSeq: _*)
    // OPQ: the LUT and its norm read the ROTATED query; centroid
    // ranking stays on the original (the ivfPqBatchIndexedImpl
    // contract)
    val lutExpr = array((for { s <- 0 until cb.m; c <- 0 until cb.nCodes }
      yield VectorOps.dot(
        slice(col("qvr"), lit(s * cb.subDim + 1), lit(cb.subDim)),
        typedlit(cb.codebooks(s)(c).toSeq))): _*)
    val probes = queries
      .select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).as("qvf"),
        col(qVecCol).cast("array<double>").as("qv"))
      .withColumn("qvr", cb.rotation
        .map(rotateExpr(col("qv"), _)).getOrElse(col("qv")))
      .select(col("qid"), col("qvf"),
        explode(transform(slice(array_sort(scoreStructs), 1, nProbe),
          s => s.getField("cell"))).as("cell"),
        lutExpr.as("lut"),
        sqrt(VectorOps.dot(col("qvr"), col("qvr"))).as("qnorm"))
      .localCheckpoint() // three consumers: cell union, walk, rerank
    // bounded collect sizes the hot-cell salt fan-out too (the
    // knnHnswBatch treatment — replicating CODES is 16× cheaper than
    // replicating floats, which is why salting composes best here)
    val cellCounts = probes.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val allCells = cellCounts.keys.toIndexedSeq.sorted
    val salts = saltsOf(cellCounts, saltQueriesPerTask)
    val saltLit = typedlit(salts)
    val nCodes = cb.nCodes
    val cand = hnswCodedCellRows(spark, path, allCells, predicate)
      .select(col("cell"),
        explode(sequence(lit(0),
          element_at(saltLit, col("cell")) - 1)).as("_salt"),
        col("id"), col("codes"), col("norm"),
        col("nbrs"), col("_dead"), col("_hide"))
      .as[(Int, Int, Long, Seq[Int], Double, Option[Seq[Long]], Boolean, Boolean)]
      .groupByKey(r => (r._1, r._2))
      .cogroup(probes.select(col("cell"),
          pmod(xxhash64(col("qid")), element_at(saltLit, col("cell")))
            .cast("int").as("_salt"),
          col("qid"), col("lut"), col("qnorm"))
        .as[(Int, Int, Long, Seq[Double], Double)]
        .groupByKey(r => (r._1, r._2))) {
        (_, nodeIt, qIt) =>
          val rows = nodeIt.map(r =>
            (r._3, (r._4.toArray, r._5), r._6.map(_.toArray), r._7, r._8))
            .toArray
          if (rows.isEmpty) Iterator.empty
          else {
            val (st, payload) = buildCellState(rows)
            val codes = payload.map(_._1)
            val norms = payload.map(_._2)
            qIt.flatMap { case (_, _, qid, lut, qnorm) =>
              walkCellAdc(lut.toArray, nCodes, qnorm, st, codes, norms,
                ef, rounds).map(id => (qid, id))
            }
          }
      }
      .toDF("query_id", "id").distinct()
    // exact rerank over the float tree (probed cells only): the
    // ivfPqBatchIndexedImpl point-read-or-join tail
    val vectors = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(allCells: _*))
      .select(col("id").cast("long").as("id"), col("vec"))
    val pointRead: Option[(Array[org.apache.spark.sql.Row], Array[Long])] = {
      val rows = cand.limit(maxRerankRows + 1).collect()
      if (rows.length > maxRerankRows) None
      else Some((rows, rows.map(_.getLong(1)).distinct.sorted))
    }
    val rerankBase = pointRead match {
      case Some((candRows, candIds)) =>
        val candDf = spark.createDataFrame(
          java.util.Arrays.asList(candRows: _*), cand.schema)
        vectors.where(col("id").isin(candIds.toIndexedSeq: _*))
          .join(broadcast(candDf), "id")
      case None => vectors.join(cand, "id")
    }
    rerankBase
      .join(probes.select(col("qid").as("query_id"), col("qvf")).distinct(),
        "query_id")
      .select(col("query_id"), col("id"),
        VectorOps.cosine(col("vec"), col("qvf")).as("cosine"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"),
        col("e.ord").as("cosine"))
  }

  /** [[hnswRecallIndexed]] for the coded walk — the eval that earns
    * the sidecar its serving role: recall at matched knobs vs the
    * brute truth, comparable row-for-row with the float walk's
    * report on the same queries.
    */
  def hnswRecallIndexedCoded(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4, ef: Int = 12, rounds: Int = 4): DataFrame = {
    val approx = knnHnswBatchCoded(spark, path, queries, qIdCol, qVecCol,
      k, nProbe, ef, rounds)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol, corpus, idCol,
      vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** The persisted graph index's build parameters (m, n_cells) —
    * bounded 1-row read.
    */
  private def hnswMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    // driver-direct read (r20 — TinyParquet): the spark.read job on
    // this 1-row file was pure fixed cost on every probe
    val g = graft.sources.TinyParquet.readGroups(spark, s"$path/hnswmeta").head
    (g.getInteger("m", 0), g.getInteger("n_cells", 0))
  }

  /** The corpus size the current build was sized for (None on a
    * pre-round-18 index without the column) — IndexHealth's
    * append-drift input.
    */
  private[operators] def hnswBuiltRows(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] = {
    val g = graft.sources.TinyParquet.readGroups(spark, s"$path/hnswmeta").head
    if (!g.getType.containsField("n_built")) None
    else Some(g.getLong("n_built", 0))
  }

  /** Incrementally append vectors to a persisted graph index
    * (round 17 — the graph family joins the IVF lifecycle): new rows
    * assign against the STORED centroids (same contract as
    * [[appendToIvfIndex]], including the attribute-schema fail-fast)
    * and append to their cell partitions, then the TOUCHED cells'
    * graphs re-knit ([[knitHnswCells]]) — adjacency is within-cell,
    * so only those cells' self-joins re-run; untouched cells' graph
    * files are never read or written. Centroids are deliberately NOT
    * updated (the IVF append contract); drift is [[cellStats]]' /
    * IndexHealth's to flag and [[rebuildHnswIndex]]'s to fix.
    *
    * Crash window: a failure between the cells append and the
    * re-knit leaves the new nodes PRESENT but EDGE-LESS — probes
    * stay correct on the old graph but cannot surface the new nodes
    * (except as a cell's min-id entry). IndexHealth's hnsw report
    * counts such unknitted nodes and flags needsCompact; the repair
    * is exactly [[knitHnswCells]] over the affected cells
    * (maintain runs it), after which probes see everything.
    */
  def appendToHnswIndex(
      df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = df.sparkSession
    val cents = readCentroids(spark, path)
    require(cents.nonEmpty, s"appendToHnswIndex: no centroids at $path")
    val stored = spark.read.parquet(s"$path/cells").schema
    val attrs = stored.fieldNames.toSeq.filterNot(Set("id", "vec", "cell"))
    val missing = attrs.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"appendToHnswIndex: index at $path stores attribute columns " +
        s"${attrs.mkString(", ")}; append frame is missing " +
        missing.mkString(", "))
    val assigned = assignCells(df, idCol, vecCol, cents,
      extraCols = attrs).localCheckpoint()
    assigned.write.mode("append").partitionBy("cell")
      .parquet(s"$path/cells")
    // PQ sidecar (round 19): appended nodes encode with the STORED
    // codebook — a coded walk after the append sees every node, or
    // the sidecar would silently hide new content from serving
    if (hnswHasPq(spark, path))
      writeHnswPqCodes(assigned.select("cell", "id", "vec"),
        readPqCodebook(spark, s"$path/pq"), path, "append")
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nCells
    knitHnswCells(spark, path, touched)
  }

  /** (Re)build the adjacency of the given cells from the CURRENT
    * cells tree — live nodes only (tombstoned ids neither gain edges
    * nor keep in-edges in re-knit cells), written with dynamic
    * partition overwrite so untouched cells' graph files are never
    * rewritten. Idempotent; the append path's second half and the
    * maintain loop's repair action.
    */
  def knitHnswCells(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Seq[Int]): Unit = {
    if (cells.isEmpty) return
    val (m, _) = hnswMeta(spark, path)
    val live = cellsMinusTombstones(
      spark.read.parquet(s"$path/cells")
        .where(col("cell").isin(cells: _*))
        .select("cell", "id", "vec"),
      ivfTombstones(spark, path))
    hnswAdjacency(live, m)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$path/graph")
  }

  /** Live node ids missing an adjacency row while their cell holds
    * other live nodes — the unknitted-append crash signature
    * (IndexHealth's hnsw needsCompact input). Single-node cells are
    * NOT unknitted: a one-node graph has no edges and the walk
    * reaches the node as the cell entry.
    */
  private[operators] def hnswUnknittedNodes(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val live = cellsMinusTombstones(
      spark.read.parquet(s"$path/cells").select("cell", "id"),
      ivfTombstones(spark, path))
    val knitted = spark.read.parquet(s"$path/graph").select("cell", "id")
    val cellSizes = live.groupBy("cell").agg(count(lit(1)).as("_n"))
    live.join(knitted, Seq("cell", "id"), "left_anti")
      .join(cellSizes, Seq("cell"))
      .where(col("_n") > 1)
      .select("cell", "id")
  }

  private[operators] def hnswUnknitted(
      spark: org.apache.spark.sql.SparkSession, path: String): Long =
    hnswUnknittedNodes(spark, path).count()

  /** The distinct cells holding unknitted nodes — the bounded
    * (≤ nCells) repair set [[knitHnswCells]] takes.
    */
  private[operators] def hnswUnknittedCells(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Int] =
    hnswUnknittedNodes(spark, path).select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Full rebuild of a graph index into a FRESH path (the
    * [[rebuildIvfIndex]] contract: probes against oldPath stay
    * correct throughout; the pointer swap is the caller's): fold
    * tombstones out, recompute centroids over the current corpus
    * (k-means by default — rebuilds exist to absorb drift), rebuild
    * every cell's graph under the stored (m, nCells).
    */
  def rebuildHnswIndex(
      spark: org.apache.spark.sql.SparkSession,
      oldPath: String, newPath: String,
      strategy: CentroidStrategy = KMeansCentroids()): Unit = {
    require(new org.apache.hadoop.fs.Path(oldPath) !=
        new org.apache.hadoop.fs.Path(newPath),
      "rebuildHnswIndex: newPath must differ from oldPath (overwrite " +
        "truncates the output before the read runs; swap pointers " +
        "after the rebuild lands)")
    // ingest-log carry FIRST, data after (the compactLshIndex ordering
    // contract, r18 ADVICE): a [[hnswIngestBatch]] stream resuming
    // against newPath after the pointer swap must find its replay
    // guard — IndexHealth's append-drift trigger auto-rebuilds
    // precisely while ingest streams are live, so a dropped log here
    // would re-append every Spark-replayed batch as duplicate rows. A
    // batch landing AFTER the carry is at worst data-without-log: the
    // resumed stream replays it as an idempotent re-append.
    graft.sources.BatchLog.copyTo(spark,
      s"$oldPath/ingest_log", s"$newPath/ingest_log")
    val (m, nCells) = hnswMeta(spark, oldPath)
    val stored = spark.read.parquet(s"$oldPath/cells")
    val attrs = stored.schema.fieldNames.toSeq
      .filterNot(Set("id", "vec", "cell"))
    val clean = cellsMinusTombstones(
      stored.select(Seq(col("id"), col("vec")) ++ attrs.map(col): _*),
      ivfTombstones(spark, oldPath))
    writeHnswIndex(clean, "id", "vec", newPath, nCells, m, strategy,
      attrCols = attrs)
    // PQ sidecar (round 19): retrain over the clean corpus at the
    // SAME code shape — an auto-rebuild (IndexHealth's append-drift
    // trigger) must not silently drop the coded serving path
    if (hnswHasPq(spark, oldPath)) {
      val cbOld = readPqCodebook(spark, s"$oldPath/pq")
      addPqToHnswIndex(spark, newPath, cbOld.m, cbOld.nCodes,
        opq = cbOld.rotation.isDefined)
    }
  }

  /** Recall@k of the graph walk against the exact brute top-k —
    * [[ivfRecall]]'s report for the graph family. This is the eval
    * that justifies the family: at MATCHED probe cost (same nProbe,
    * same cells read) the walk's recall should meet or beat the
    * flat probed-cell scan once ef/rounds cover the graph, and the
    * report is how those two knobs get sized before serving.
    */
  def hnswRecall(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      m: Int = 6, ef: Int = 12, rounds: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    // ride the BATCH probe (round 19 — r18 verdict task 4; the old
    // form collected the queries and unioned one inline knnHnsw plan
    // PER query — a 500-query eval built a 500-arm union of unrolled
    // join chains that took minutes to plan): build the index once
    // (same build inputs — SeededCentroids, the knnHnsw default, so
    // per-query results are the pinned inline≡indexed parity) into a
    // run-scoped temp dir and fan every query through the one
    // cogrouped walk hnswRecallIndexed already rides.
    val path = graft.TempRoots.forRun("graft-recall-hnsw")
    writeHnswIndex(corpus, idCol, vecCol, path, nCells, m)
    val approx = knnHnswBatch(spark, path, queries, qIdCol, qVecCol,
      k, nProbe, ef, rounds)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol, corpus, idCol,
      vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** Recall@k of a PERSISTED graph index's batch probe against the
    * exact brute top-k over the caller's full-precision vectors —
    * [[ivfPqRecallIndexed]]'s report for the graph family, and the
    * eval that measures ENTRY DRIFT after appends (round 18 — r17
    * verdict task 7): [[appendToHnswIndex]] can displace a cell's
    * walk entry when a new node takes the cell's minimum id, so
    * recall after a batch of appends is measured here, not assumed
    * from the fixture parity spec.
    */
  def hnswRecallIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4, ef: Int = 12, rounds: Int = 4): DataFrame = {
    val approx = knnHnswBatch(spark, path, queries, qIdCol, qVecCol,
      k, nProbe, ef, rounds)
    val exact = knnBruteBatch(queries, qIdCol, qVecCol, corpus, idCol,
      vecCol, k)
    recallReport(queries, qIdCol, approx, exact, k)
  }

  /** Recall/probe-cost curve of the graph walk over (m, ef, rounds)
    * configurations, from ONE build (round 18 — r17 verdict task 3:
    * d17's treatment for the graph family; before this, sizing the
    * three walk knobs was guesswork spot-checked by [[hnswRecall]]).
    *
    * One centroid pass, one cell assignment, ONE within-cell
    * self-join at max(m) — the ranked edge list's `rk <= m` prefix IS
    * the smaller build (the neighbor ranking is m-independent), so
    * the sweep pays the quadratic build cost once. Each (config,
    * query, probed cell) walk then runs in-partition and reports its
    * final beam plus the number of distinct nodes it SCORED — the
    * walk's true per-query read cost, the axis recall trades against.
    *
    * Output: one row per config — (m, ef, rounds, n_queries,
    * avg_recall, avg_visited) with avg_recall = Σ hits / (k·|Q|) and
    * avg_visited = Σ scored / |Q| (integer sums, one division each —
    * bit-stable cross-engine). The eval runs on a SAMPLE of queries
    * (collected, bounded — the recall-eval stance); everything is
    * deterministic, so the whole curve replays in SQL (the s23
    * oracle).
    */
  def hnswTuningEval(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      configs: Seq[(Int, Int, Int)] = Seq((2, 10, 2), (4, 12, 3), (6, 12, 4)),
      strategy: CentroidStrategy = SeededCentroids): DataFrame = {
    require(configs.nonEmpty, "hnswTuningEval: no configs to sweep")
    configs.foreach { case (m, ef, rounds) =>
      require(m >= 1 && rounds >= 1 && ef >= k,
        s"hnswTuningEval: config (m=$m, ef=$ef, rounds=$rounds) invalid " +
          s"— need m >= 1, rounds >= 1, ef >= k ($k)")
    }
    // fully DECLARATIVE — joins, aggregates, and higher-order
    // lambdas only (the knnHnsw inline stance): the whole sweep
    // SqlGen-prints (zero-carve-outs roundtrip) and replays as the
    // s23 oracle's CTE chains. No collect but the centroid literals,
    // no typed stages.
    //
    // Round-19 shape (r18 verdict task 2 — the former per-round
    // join/window chain was 9 SEQUENTIAL beam stages across the
    // configs, each a full exchange; at eval scale the sweep was
    // bound by stage-scheduling latency, data-independent, and its
    // wall time was the one gate-variance risk in the suite): each
    // probed cell's nodes and ranked edges PACK into one row of
    // map/struct-array columns, and a config's whole multi-round walk
    // runs as ONE aggregate() fold over that row — zero exchanges per
    // round; the per-config work collapses to a projection over ≤
    // |Q|·nProbe packed rows plus two tiny aggregations. Every
    // intermediate set is computed by the same rules as the join form
    // (cand = beam ∪ rk≤m out-edges, distinct; beam = top-ef by
    // cosine DESC id ASC; final = top-k across cells; visited =
    // distinct scored nodes), over the same typed inputs
    // (array<float> node vecs against the array<double> query), so
    // every double and therefore the s23 oracle hash is unchanged.
    val mMax = configs.map(_._1).max
    val cents = centroidVectors(corpus, idCol, vecCol, nCells, strategy)
    val indexed = assignCells(corpus, idCol, vecCol, cents)
    val qdf = Dedup.batchScope.persistTracked(
      queries.select(col(qIdCol).cast("long").as("query_id"),
        col(qVecCol).cast("array<double>").as("qv")))
    // per-query probed cells IN the plan (the knnIvfBatch shape)
    val scoreStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-VectorOps.dot(col("qv"), typedlit(c.toSeq))).as("neg"),
             lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val probes = Dedup.batchScope.persistTracked(
      qdf.select(col("query_id"),
        explode(transform(slice(array_sort(scoreStructs), 1, nProbe),
          s => s.getField("cell"))).as("cell")))
    val nodes = Dedup.batchScope.persistTracked(indexed
      .join(probes.select("cell").distinct(), Seq("cell"), "left_semi"))
    // edges ranked to max(m) from ONE self-join; config c walks the
    // length-m prefix of each node's rank-sorted out-edge list
    val edges = hnswEdges(nodes, mMax)
    // pack: one row per probed cell — (id → vec) map, (src →
    // rk-sorted out-edges) map, and the walk entry (min id); the
    // [[packCellGraph]] layout shared with the inline walk. A cell's
    // whole graph rides one row, so a beam round is array algebra,
    // not an exchange. Eval-bounded by design (the probed cells of a
    // SAMPLE of queries); serving keeps the in-partition walk.
    val packed = Dedup.batchScope.persistTracked(
      packCellGraph(nodes, edges))
    val qc = Dedup.batchScope.persistTracked(
      probes.join(qdf, Seq("query_id")).join(packed, Seq("cell")))
    val exactPack = Dedup.batchScope.persistTracked(
      knnBruteBatch(queries, qIdCol, qVecCol, corpus, idCol, vecCol, k)
        .select(col("query_id"), col("id"))
        .groupBy("query_id")
        .agg(collect_list(col("id")).as("_p_exact")))
    val nQexpr = qdf.agg(count(lit(1)).as("_t_nq"))
    val perConfig = configs.map { case (m, ef, rounds) =>
      // the whole multi-round walk as the shared [[packedWalk]] fold
      // (state = (beam, visited); cand = beam ∪ rk≤m edge prefix,
      // distinct; beam = top-ef scored candidates; visited ∪= cand)
      val walk = packedWalk(col("qv"), m, ef, rounds)
      // per (query, cell): the final beam re-scored for the
      // cross-cell merge, plus the cell's visited count (cells
      // partition the ids, so per-cell counts SUM to the per-query
      // distinct-union the join form counted)
      val perCell = qc.select(col("query_id"),
        scoredOf(walk.getField("beam"), col("qv")).as("_p_fin"),
        size(walk.getField("vis")).as("_p_nv"))
      val perQuery = perCell.groupBy("query_id").agg(
        flatten(collect_list(col("_p_fin"))).as("_p_allfin"),
        sum(col("_p_nv")).as("_p_vis"))
      // global top-k across the probed cells' beams — same (cosine
      // DESC, id ASC) order the window form ranked by; hits = |top-k
      // ∩ exact| (both sides distinct ids)
      val joined = perQuery.join(exactPack, Seq("query_id"))
        .select(
          size(array_intersect(
            transform(slice(array_sort(col("_p_allfin"), byCosDescIdAsc),
              1, k), s => s.getField("id")),
            col("_p_exact"))).as("_p_hits"),
          col("_p_vis"))
      val totals = joined.agg(sum(col("_p_hits")).as("_t_hits"),
        sum(col("_p_vis")).as("_t_vis"))
      totals.crossJoin(nQexpr)
        .select(lit(m).as("m"), lit(ef).as("ef"), lit(rounds).as("rounds"),
          col("_t_nq").cast("int").as("n_queries"),
          (coalesce(col("_t_hits"), lit(0L)).cast("double") /
            (lit(k) * col("_t_nq")).cast("double")).as("avg_recall"),
          (coalesce(col("_t_vis"), lit(0L)).cast("double") /
            col("_t_nq").cast("double")).as("avg_visited"))
    }
    perConfig.reduce(_ unionByName _)
  }

  /** Fold a serving loop's `serve_log` ([[ivfPqServeBatch]] /
    * [[hnswServeBatch]]) into one file + watermark — the maintenance
    * action that keeps a long-lived serving stream's replay probe a
    * pointer read (round 18 — r17 verdict task 2; the
    * corpus store's ingest-log fold, through the shared
    * [[graft.sources.BatchLog.compact]]). Content-neutral and
    * crash-convergent; run it on the index-maintenance cadence.
    * Returns the number of tail files folded.
    */
  def compactServeLog(spark: org.apache.spark.sql.SparkSession,
      outPath: String): Int =
    graft.sources.BatchLog.compact(spark, s"$outPath/serve_log")

  /** The ingest-loop twin of [[compactServeLog]]: fold an index's
    * `ingest_log` ([[ivfPqIngestBatch]]) tail.
    */
  def compactIngestReplayLog(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    graft.sources.BatchLog.compact(spark, s"$path/ingest_log")
}

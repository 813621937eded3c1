package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Unified health reporting across the four persisted index kinds
  * (round 13 — verdict task: "one report, uniform fields"). Each
  * index family grew its own monitor organically —
  * [[Similarity.cellStats]]/[[Similarity.needsRebuild]] for IVF,
  * [[Dedup.lshBucketStats]] for LSH banding, the BM25 commit
  * log — with different shapes, so a maintenance loop over a
  * catalog of indexes had to special-case every kind. This module
  * emits ONE row shape, with kind detected from the on-disk layout,
  * so "walk the catalog, compact what needsCompact, rebuild what
  * needsRebuild" is a ten-line loop.
  *
  * Everything here is metadata-scale: partition-load aggregates are
  * columnar scans of key columns (never text/vectors), file counts
  * are filesystem listings, and every collect is bounded by the
  * partition count (cells, term buckets, band buckets, files).
  *
  * Thresholds are policy, not physics — all exposed as parameters
  * with the documented defaults.
  */
object IndexHealth {

  /** One health row, uniform across index kinds.
    *
    *  - `kind`: "lsh" | "exact_ledger" | "bm25" | "ivf" (IVF-PQ
    *    reports as "ivf" — same cells layout, same maintenance) |
    *    "corpus_cow" (round 16 — the COW corpus store joins the SAME
    *    catalog loop: partitions = buckets, tombstones = pending
    *    delete markers, needsCompact = delta-chain pressure OR
    *    retention/orphans, fixed by [[graft.sources.CorpusStore
    *    .maintainCorpusCow]]; the richer store-specific row stays at
    *    [[graft.sources.CorpusStore.cowHealthReport]]).
    *  - `totalRows` / `nPartitions` / `maxPartition` / `skew` /
    *    `emptyPartitions`: occupancy of the index's pruning unit
    *    (band buckets, ledger files, term buckets, cells). `skew` is
    *    max/mean — the worst-case probe-latency multiplier.
    *  - `dataFiles`: physical fragment count over the trees the
    *    committed version reads (what append streams grow and
    *    compaction restores).
    *  - `generations`: committed append generations (BM25's record;
    *    1 for the single-tree kinds).
    *  - `tombstones`: pending takedown rows awaiting physical
    *    removal (round-13 delete lifecycle).
    *  - `needsCompact`: fragments/duplicates/generations/tombstones
    *    say a rewrite would help; the fix is the index's compaction
    *    (or rebuild for IVF, whose rebuild IS its compaction).
    *  - `needsRebuild`: the index's GEOMETRY has degraded (IVF cell
    *    skew/emptiness, LSH bucket saturation) — compaction alone
    *    won't fix it.
    */
  final case class Health(
      kind: String,
      totalRows: Long,
      nPartitions: Long,
      maxPartition: Long,
      skew: Double,
      emptyPartitions: Long,
      dataFiles: Long,
      generations: Int,
      tombstones: Long,
      needsCompact: Boolean,
      needsRebuild: Boolean,
      /** One-file-per-batch replay-log tail since the last fold
        * (round 18 — the ingest loops' `ingest_log` through the
        * shared [[graft.sources.BatchLog]]); [[maintain]] folds it on
        * the same cadence as everything else it repairs.
        */
      replayLogTail: Int = 0)

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Recursive .parquet data-file count under a tree (0 if absent). */
  private def dataFileCount(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return 0L
    val it = f.listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  // one tombstone-count helper serves both the health report and the
  // takedown guard — the two must never disagree (round-14 review fix:
  // this was a duplicate body of Dedup.pendingTombstoneCount)
  private def tombstoneCount(spark: SparkSession, path: String): Long =
    Dedup.pendingTombstoneCount(spark, path)

  /** The index's replay-log tail size (0 for kinds/paths without an
    * ingest loop) — what [[maintain]]'s log fold resets.
    */
  private def replayTail(spark: SparkSession, path: String): Int =
    graft.sources.BatchLog.tailFiles(spark, s"$path/ingest_log").size

  /** Detect the index kind from the layout and dispatch. Fails fast
    * on a path that matches no known layout.
    */
  def report(spark: SparkSession, path: String): Health =
    // the corpus store FIRST, asked of CorpusStore, the one module that
    // knows its layout, then the BM25 index, asked of Retrieval.
    // hnswmeta BEFORE centroids: a graph index carries the IVF cells
    // layout PLUS a graph tree — the ivf branch would mis-detect it
    // and maintain would then rebuild it graph-less (round 17)
    if (graft.sources.CorpusStore.isCow(spark, path))
      reportCorpusCow(spark, path)
    else if (Retrieval.isBm25Index(spark, path)) reportBm25(spark, path)
    else if (exists(spark, s"$path/hnswmeta")) reportHnsw(spark, path)
    else if (exists(spark, s"$path/centroids")) reportIvf(spark, path)
    else if (exists(spark, s"$path/buckets") &&
             exists(spark, s"$path/meta")) reportLsh(spark, path)
    else if (exists(spark, s"$path/hashes")) reportExactLedger(spark, path)
    else throw new IllegalArgumentException(
      s"IndexHealth.report: no known index layout at $path")

  /** COW corpus store mapped into the uniform row (round 16): the
    * catalog loop treats the corpus like any other store. Partition
    * unit = buckets (live occupancy from the CURRENT manifest —
    * metadata-scale, the cowHealthReport numbers re-shaped);
    * `tombstones` = pending delete markers awaiting compaction;
    * `generations` = retained versions; `needsCompact` = delta-chain
    * pressure OR retention/orphan pressure (both fixed by ONE
    * [[graft.sources.CorpusStore.maintainCorpusCow]] pass, so the
    * uniform row needs no second flag); `needsRebuild` never (the
    * store has no geometry to degrade — rebucketing is a capacity
    * decision the caller owns, like LSH banding).
    */
  def reportCorpusCow(spark: SparkSession, path: String,
      maxGenerations: Int = 16,
      compactAfterDeltas: Int = 8): Health = {
    val h = graft.sources.CorpusStore.cowHealthReport(spark, path,
      maxGenerations, compactAfterDeltas)
    Health(
      kind = "corpus_cow",
      totalRows = h.totalRows,
      nPartitions = h.populatedBuckets.toLong,
      maxPartition = h.maxBucket,
      skew = h.skew,
      emptyPartitions = (h.numBuckets - h.populatedBuckets).toLong,
      dataFiles = graft.sources.CorpusStore.committedTrees(spark, path)
        .map(dataFileCount(spark, _)).sum,
      generations = h.generations,
      tombstones = h.tombstonedRows,
      needsCompact = h.needsCompaction || h.needsVacuum,
      needsRebuild = false,
      replayLogTail = h.ingestLogTail)
  }

  /** LSH dedup index: partition unit = (band, bucket). needsRebuild
    * when `saturatedRowFrac` (rows in buckets past the probe-time
    * cap, whose candidate pairs flood control will DROP) exceeds
    * `maxSaturatedFrac` — [[Dedup.lshBucketStats]]' documented
    * rebuild trigger. needsCompact on fragment growth, duplicate
    * rows (crash-replay leftovers), or pending tombstones.
    */
  def reportLsh(spark: SparkSession, path: String,
                capForStats: Int = 1000,
                maxDataFiles: Long = 64,
                maxDupFrac: Double = 0.10,
                maxSaturatedFrac: Double = 0.05): Health = {
    // occupancy/saturation on LIVE rows (tombstones filtered — the
    // round-13 review fix: dead rows' saturation would otherwise
    // trigger an expensive geometry rebuild that the compaction the
    // pending tombstones already request would eliminate); duplicate
    // detection stays PHYSICAL (crash-replay rows are a compaction
    // trigger regardless of takedown state)
    val lshTs = Dedup.lshTombstones(spark, path)
    val per = Dedup.minusTombstones(
        spark.read.parquet(s"$path/buckets")
          .select("id", "band", "bucket"), lshTs, "id")
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum("n"), lit(0L)).as("total"),
        count(lit(1)).as("nb"),
        coalesce(max("n"), lit(0L)).as("mx"),
        coalesce(sum(when(col("n") > capForStats, col("n"))
          .otherwise(0L)), lit(0L)).as("satRows")).head()
    val (bandTotal, nb, mx, satRows) =
      (per.getLong(0), per.getLong(1), per.getLong(2), per.getLong(3))
    val hashes = spark.read.parquet(s"$path/hashes")
    val r = Dedup.minusTombstones(hashes.select("id"), lshTs, "id")
      .agg(count(lit(1)).as("n"), count_distinct(col("id")).as("d"))
      .head()
    val (rows, distinctIds) = (r.getLong(0), r.getLong(1))
    val dupFrac =
      if (rows == 0) 0.0 else (rows - distinctIds).toDouble / rows
    val files = dataFileCount(spark, s"$path/buckets") +
      dataFileCount(spark, s"$path/hashes")
    val ts = tombstoneCount(spark, path)
    Health(
      kind = "lsh",
      totalRows = distinctIds,
      nPartitions = nb,
      maxPartition = mx,
      skew = if (nb > 0 && bandTotal > 0)
        mx / (bandTotal.toDouble / nb) else 0.0,
      emptyPartitions = 0L, // banding buckets are a sparse hash space
      dataFiles = files,
      generations = 1,
      tombstones = ts,
      needsCompact = files > maxDataFiles || dupFrac > maxDupFrac ||
        ts > 0,
      needsRebuild = bandTotal > 0 &&
        satRows.toDouble / bandTotal > maxSaturatedFrac,
      replayLogTail = replayTail(spark, path))
  }

  /** Exact-dedup ledger: partition unit = data file (the range-sorted
    * layout's pruning unit). No geometry to degrade → never
    * needsRebuild; needsCompact on fragments, cross-generation
    * duplicate hashes, or pending tombstones.
    */
  def reportExactLedger(spark: SparkSession, path: String,
                        maxDataFiles: Long = 64,
                        maxDupFrac: Double = 0.10): Health = {
    val led = spark.read.parquet(s"$path/hashes")
    val perFile = led.groupBy(input_file_name().as("_f"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum("n"), lit(0L)).as("rows"),
        count(lit(1)).as("files"),
        coalesce(max("n"), lit(0L)).as("mx")).head()
    val (rows, files, mx) =
      (perFile.getLong(0), perFile.getLong(1), perFile.getLong(2))
    val distinctHashes = led.select("content_hash").distinct().count()
    val dupFrac =
      if (rows == 0) 0.0 else (rows - distinctHashes).toDouble / rows
    val ts = tombstoneCount(spark, path)
    Health(
      kind = "exact_ledger",
      totalRows = distinctHashes,
      nPartitions = files,
      maxPartition = mx,
      skew = if (files > 0 && rows > 0)
        mx / (rows.toDouble / files) else 0.0,
      emptyPartitions = 0L,
      dataFiles = files,
      generations = 1,
      tombstones = ts,
      needsCompact = files > maxDataFiles || dupFrac > maxDupFrac ||
        ts > 0,
      needsRebuild = false,
      replayLogTail = replayTail(spark, path))
  }

  /** BM25 inverted index: partition unit = term bucket; generations
    * from the committed record. needsCompact when append
    * generations pile up (a probe reads its term buckets across all
    * of them) or tombstones await folding.
    */
  def reportBm25(spark: SparkSession, path: String,
                 maxGenerations: Int = 4,
                 maxDataFiles: Long = 256): Health = {
    val (gen, rec) = Retrieval.committed(spark, path)
    val numBuckets = rec.numBuckets
    val counts = Retrieval.committedPostings(spark, path, rec)
      .groupBy("tbucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perBucket = (0 until numBuckets).map(b => counts.getOrElse(b, 0L))
    val rows = perBucket.sum
    val mean = rows.toDouble / numBuckets
    val files = Retrieval.postingsTrees(path, rec)
      .map(dataFileCount(spark, _)).sum
    val ts = tombstoneCount(spark, path)
    val gens = gen - rec.base + 1
    Health(
      kind = "bm25",
      totalRows = rows,
      nPartitions = numBuckets.toLong,
      maxPartition = if (perBucket.isEmpty) 0L else perBucket.max,
      skew = if (mean > 0) perBucket.max / mean else 0.0,
      emptyPartitions = perBucket.count(_ == 0L).toLong,
      dataFiles = files,
      generations = gens,
      tombstones = ts,
      needsCompact = gens > maxGenerations || files > maxDataFiles ||
        ts > 0,
      needsRebuild = false,
      replayLogTail = replayTail(spark, path))
  }

  /** IVF / IVF-PQ index: partition unit = cell;
    * [[Similarity.cellStats]] + [[Similarity.needsRebuild]] verbatim
    * (skew > maxSkew or over half the cells empty = the corpus has
    * drifted off the build centroids). The rebuild IS this index's
    * compaction, so pending tombstones set needsCompact — and the
    * rebuild folds them.
    */
  def reportIvf(spark: SparkSession, path: String,
                maxSkew: Double = 4.0,
                maxEmptyFrac: Double = 0.5,
                maxDataFiles: Long = 256): Health = {
    // live-row cell occupancy (tombstones filtered — the reportLsh
    // stance: dead rows must not steer the rebuild trigger)
    val nCells = spark.read.parquet(s"$path/centroids").count().toInt
    require(nCells > 0, s"reportIvf: no centroids at $path")
    val counts = Similarity.cellsMinusTombstones(
        spark.read.parquet(s"$path/cells").select("id", "cell"),
        Similarity.ivfTombstones(spark, path))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perCell = (0 until nCells).map(c => counts.getOrElse(c, 0L))
    val total = perCell.sum
    val mean = total.toDouble / nCells
    val s = Similarity.IvfCellStats(
      nCells = nCells, totalRows = total,
      minCell = perCell.min, maxCell = perCell.max, meanCell = mean,
      skew = if (mean > 0) perCell.max / mean else 0.0,
      emptyCells = perCell.count(_ == 0L))
    val files = dataFileCount(spark, s"$path/cells")
    val ts = tombstoneCount(spark, path)
    Health(
      kind = "ivf",
      totalRows = s.totalRows,
      nPartitions = s.nCells.toLong,
      maxPartition = s.maxCell,
      skew = s.skew,
      emptyPartitions = s.emptyCells.toLong,
      dataFiles = files,
      generations = 1,
      tombstones = ts,
      needsCompact = ts > 0 || files > maxDataFiles,
      needsRebuild = Similarity.needsRebuild(s, maxSkew, maxEmptyFrac),
      replayLogTail = replayTail(spark, path))
  }

  /** Graph (HNSW/NSW) index — the SIXTH store kind (round 17): the
    * IVF cell occupancy numbers verbatim (same cells layout, same
    * live-row stance) plus the graph-specific compaction signal:
    * `needsCompact` also flips on UNKNITTED nodes — live vectors a
    * crashed append left edge-less ([[Similarity.hnswUnknitted]]);
    * probes stay correct but cannot surface those nodes, and the
    * repair is a bounded re-knit, not a rebuild. `needsRebuild` =
    * the IVF skew/empty-cell trigger (drift off the build
    * centroids), fixed by [[Similarity.rebuildHnswIndex]] — OR
    * (round 18) APPEND DRIFT: when more than `maxAppendedFrac` of
    * the live corpus arrived after the last (re)build, the stored
    * centroids and displaced min-id entries degrade the walk's
    * recall invisibly — hnswRecallIndexed MEASURED 0.50 vs 0.92
    * rebuilt on the adversarial append fixture — so the catalog loop
    * acts on the drift instead of a human reading the eval. The
    * founding size is the build's recorded `n_built`; a
    * pre-round-18 index without the column never trips this trigger
    * (conservative: unknown founding size is not evidence of drift).
    */
  def reportHnsw(spark: SparkSession, path: String,
                 maxSkew: Double = 4.0,
                 maxEmptyFrac: Double = 0.5,
                 maxDataFiles: Long = 256,
                 maxAppendedFrac: Double = 0.3): Health = {
    val ivf = reportIvf(spark, path, maxSkew, maxEmptyFrac, maxDataFiles)
    val unknitted = Similarity.hnswUnknitted(spark, path)
    val appendedFrac = Similarity.hnswBuiltRows(spark, path) match {
      case Some(nBuilt) if ivf.totalRows > 0 =>
        math.max(0L, ivf.totalRows - nBuilt).toDouble / ivf.totalRows
      case _ => 0.0
    }
    // round 19: the coded-walk sidecar has its own append crash
    // window (cells landed, codes didn't — nodes the ADC beam can
    // never score); parity with the cells tree is a compaction
    // signal with a bounded in-place repair, the unknitted stance
    val uncoded = Similarity.hnswPqUncoded(spark, path)
    ivf.copy(
      kind = "hnsw",
      dataFiles = ivf.dataFiles + dataFileCount(spark, s"$path/graph"),
      needsCompact = ivf.needsCompact || unknitted > 0 || uncoded > 0,
      needsRebuild = ivf.needsRebuild || appendedFrac > maxAppendedFrac)
  }

  /** What one [[maintain]] pass did: the health row that triggered it,
    * the action taken ("none" | "compacted" | "rebuilt"), the path now
    * holding the maintained index (== the input path for in-place BM25
    * compaction and for no-op passes; `dstPath` otherwise — the caller
    * owns the pointer swap, every compaction's contract), and the
    * fresh health row at that path.
    */
  final case class MaintainResult(
      before: Health, action: String, activePath: String, after: Health)

  /** ONE maintenance pass over a persisted index of ANY kind — the
    * "walk the catalog, compact what needsCompact, rebuild what
    * needsRebuild" loop body this module exists for (round 14; the
    * per-kind pieces all predate it, and round 13's ledger-tombstone
    * bug showed composition is where the bugs live — the
    * MaintenanceLoopSpec pins this composition end to end on all four
    * kinds: ingest → takedown → flags flip → maintain → probes
    * row-identical, flags clear).
    *
    * Dispatch, per [[report]]'s kind detection:
    *  - `bm25`: [[Retrieval.compactBm25Index]] IN PLACE (its commit is
    *    an exclusively published record, so no fresh path is needed);
    *    `dstPath` is ignored.
    *  - `exact_ledger` / `lsh`: the kind's compaction into `dstPath`
    *    (fresh-tree stance — the source stays probe-able until the
    *    caller swaps pointers).
    *  - `ivf` (incl. IVF-PQ, same layout): needsCompact OR needsRebuild
    *    both route to the rebuild — the rebuild IS this kind's
    *    compaction. A plain IVF index rebuilds from its own stored
    *    vectors ([[Similarity.rebuildIvfIndex]], keeping the stored
    *    cell count, k-means retrain). An IVF-PQ index built with
    *    `storeVectors = true` is equally self-sufficient
    *    ([[Similarity.rebuildIvfPqIndexFromStored]] — centroids and
    *    codebook retrain from the stored full-precision vectors, a
    *    KMeans fit the storeVectors opt-in is consent for). A
    *    LOSSY-CODES IVF-PQ index cannot rebuild from itself, so it
    *    requires the caller's `ivfRebuild` leg (typically
    *    `Similarity.rebuildIvfPqIndex` closed over the current
    *    full-precision corpus); maintain fails fast rather than
    *    guessing.
    *
    * LSH `needsRebuild` (bucket saturation) is NOT auto-fixed: new
    * banding geometry is a build-parameter decision the caller owns.
    * When needsCompact is ALSO set the compaction runs (folding
    * tombstones/duplicates) and the returned `after.needsRebuild`
    * surfaces the remaining saturation; a needsRebuild-ONLY pass is
    * a no-op that surfaces the flag — compaction can't clear
    * saturation, so running it would make a periodic loop rewrite
    * the index every pass without converging.
    */
  def maintain(spark: SparkSession, path: String, dstPath: String,
               ivfRebuild: Option[(String, String) => Unit] = None)
      : MaintainResult = {
    val before = report(spark, path)
    val (action, active) = before.kind match {
      case "corpus_cow" =>
        // in-place (generations ARE the copy mechanism; dstPath
        // unused): one maintainCorpusCow pass compacts chain
        // pressure then vacuums retention/orphans — content of every
        // remaining generation bit-identical (its own spec contract)
        if (before.needsCompact) {
          val r = graft.sources.CorpusStore.maintainCorpusCow(spark, path)
          (if (r.actions.isEmpty) "none" else r.actions.mkString("+"), path)
        } else ("none", path)
      case "bm25" =>
        if (before.needsCompact) {
          Retrieval.compactBm25Index(spark, path); ("compacted", path)
        } else ("none", path)
      case "exact_ledger" =>
        if (before.needsCompact) {
          Dedup.compactExactLedger(spark, path, dstPath)
          ("compacted", dstPath)
        } else ("none", path)
      case "lsh" =>
        // compact ONLY on needsCompact: LSH needsRebuild is bucket
        // saturation, which folding tombstones/duplicates cannot
        // clear — routing it into the copy made a periodic maintain
        // loop rewrite the whole index every pass forever without
        // converging (round-14 review fix). A needsRebuild-only pass
        // is a no-op that surfaces the flag; new banding geometry is
        // a build-parameter decision the caller owns.
        if (before.needsCompact) {
          Dedup.compactLshIndex(spark, path, dstPath)
          ("compacted", dstPath)
        } else ("none", path)
      case "hnsw" =>
        // rebuild absorbs drift AND folds tombstones (both reshape
        // the cells tree, which re-knits every graph anyway); a
        // tombstone-free unknitted state — the append crash window —
        // repairs with a bounded in-place re-knit of exactly the
        // affected cells, never a rebuild
        if (before.needsRebuild || before.tombstones > 0) {
          Similarity.rebuildHnswIndex(spark, path, dstPath)
          ("rebuilt", dstPath)
        } else if (before.needsCompact) {
          val cells = Similarity.hnswUnknittedCells(spark, path)
          // sidecar repair first (round 19): encode-missing is
          // independent of the knit and both are bounded in-place
          // fixes for the same append crash window
          val recoded = Similarity.encodeMissingHnswPqCodes(spark, path)
          if (cells.nonEmpty) {
            Similarity.knitHnswCells(spark, path, cells)
            (if (recoded > 0) "knitted+recoded" else "knitted", path)
          } else if (recoded > 0) ("recoded", path)
          else {
            // needsCompact without tombstones, unknitted or uncoded
            // nodes = file fragmentation — the rebuild is the
            // compaction
            Similarity.rebuildHnswIndex(spark, path, dstPath)
            ("rebuilt", dstPath)
          }
        } else ("none", path)
      case "ivf" =>
        if (before.needsCompact || before.needsRebuild) {
          val fields = spark.read.parquet(s"$path/cells")
            .schema.fieldNames
          val isPq = fields.contains("codes")
          val hasVec = fields.contains("vec")
          val leg: (String, String) => Unit = ivfRebuild.getOrElse {
            if (isPq && hasVec)
              // a storeVectors IVF-PQ index is self-sufficient: the
              // stored full-precision vectors are the rebuild corpus
              // (round 15 — the last caller-leg requirement retired)
              (src, dst) =>
                Similarity.rebuildIvfPqIndexFromStored(spark, src, dst)
            else {
              require(!isPq,
                s"IndexHealth.maintain: the IVF-PQ index at $path " +
                  "stores only lossy codes — its rebuild needs the " +
                  "current full-precision corpus; build it with " +
                  "storeVectors = true for self-sufficient " +
                  "maintenance, or pass ivfRebuild = (src, dst) => " +
                  "Similarity.rebuildIvfPqIndex(corpus, ..., src, dst, ...)")
              (src, dst) =>
                Similarity.rebuildIvfIndex(spark, src, dst,
                  nCells = spark.read.parquet(s"$src/centroids")
                    .count().toInt)
            }
          }
          leg(path, dstPath); ("rebuilt", dstPath)
        } else ("none", path)
    }
    // fold the ACTIVE path's replay log on the same cadence (round 18
    // — the corpus store's maintainCorpusCow already folds its own):
    // content-neutral and crash-convergent, so it composes with any
    // action above; fold only when compact+tail exceed one file (the
    // maintained-log invariant), so a quiet index stays a no-op
    val finalAction =
      if (before.kind != "corpus_cow" && {
        val lp = s"$active/ingest_log"
        graft.sources.BatchLog.tailFiles(spark, lp).size +
          (if (graft.sources.BatchLog.hasCompact(spark, lp)) 1 else 0) > 1
      }) {
        graft.sources.BatchLog.compact(spark, s"$active/ingest_log")
        if (action == "none") "log_folded" else action + "+log_folded"
      } else action
    MaintainResult(before, finalAction, active, report(spark, active))
  }
}

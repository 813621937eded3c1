package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic batch-id replay log with a compactable tail (round 18 —
  * r17 verdict task 2, generalizing the round-17 ingest-log fold out
  * of [[CorpusStore]]): every streaming foreachBatch loop in this
  * engine guards replays with a one-row-per-batch parquet log, which
  * grows one FILE per batch — an O(batches) listing + footer cost on
  * EVERY trigger, forever; a 100k-batch serving stream lists 100k
  * tiny files per micro-batch. This module gives any such log the
  * corpus store's cure:
  *
  *  - [[contains]] — the replay probe — consults, in order: the
  *    WATERMARK (max contiguous-from-0 batch id as of the last fold,
  *    one raw pointer read; Spark's micro-batch ids are contiguous
  *    from 0 per checkpoint, so a restart's replayed id almost always
  *    resolves here), then the single COMPACT file (batch_id min/max
  *    + predicate pushdown), then the since-fold TAIL (bounded by the
  *    maintenance cadence, never the stream's lifetime);
  *  - [[compact]] — fold the previous compact file plus every tail
  *    file into ONE sorted parquet under an atomic [[GenPointer]]
  *    swap, record the watermark, delete the folded tail.
  *
  * The log's SCHEMA is the caller's — any columns plus a `batch_id`
  * castable to long. Crash-safe by the store's commit ordering —
  * (1) materialize in a generation-private dir no reader resolves,
  * (2) one atomic pointer rename publishes, (3) the
  * watermark commits (conservative: computed from exactly the folded
  * ids), (4) superseded generations and the snapshotted tail delete —
  * with the fold's writer token verified immediately before the
  * swap. Idempotent and convergent from any crash state: a failure
  * before (2) leaves the old state fully readable; after (2), only
  * harmless duplicates the existence probe never notices and the
  * next fold dedups.
  *
  * Round-18 hardening (r17 ADVICE): [[contains]] re-resolves its
  * sources and retries when a CONCURRENT fold deletes a tail or
  * compact file mid-scan; the fold fails loudly on an unrenamable
  * part file; cleanup retires EVERY superseded generation below the
  * committed one, so a crash between swap and cleanup can never
  * orphan a directory forever (the old direct-predecessor-only sweep
  * could).
  */
private[graft] object BatchLog {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** The committed compact-log parquet file for `logPath`, whether or
    * not it exists yet: `<logPath>_compact/gen=<k>/LOG.parquet` with
    * the generation resolved from the sibling [[GenPointer]] — the
    * one commit primitive, so the fold swaps atomically.
    */
  private def compactFile(spark: SparkSession, logPath: String): String = {
    val root = s"${logPath}_compact"
    if (!GenPointer.exists(spark, root)) s"$root/gen=-1/LOG.parquet"
    else s"$root/gen=${GenPointer.read(spark, root)._1}/LOG.parquet"
  }

  /** The max-contiguous-from-0 batch id as of the last fold, if one
    * was recorded — a raw pointer read.
    */
  def watermark(spark: SparkSession, logPath: String): Option[Long] = {
    val wm = s"${logPath}_compact/watermark"
    if (GenPointer.exists(spark, wm))
      Some(GenPointer.read(spark, wm)._1.toLong)
    else None
  }

  /** The tail's physical parquet files (what grows one file per
    * logged batch between folds) — filesystem listing only.
    */
  def tailFiles(spark: SparkSession, logPath: String): Seq[String] = {
    val f = fs(spark, logPath)
    val p = new org.apache.hadoop.fs.Path(logPath)
    if (!f.exists(p)) Nil
    else f.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_")
        && !n.startsWith(".")).toSeq
  }

  /** Whether a committed compact file exists for `logPath` — the
    * health-report input ("compact + tail file count ≤ 1" is the
    * maintained-log invariant).
    */
  def hasCompact(spark: SparkSession, logPath: String): Boolean =
    exists(spark, compactFile(spark, logPath))

  /** Every logged row — the previous compact file plus the tail — or
    * None for a log never written. The carry-over read for
    * rebuild-to-fresh-path flows (compactLshIndex,
    * compactEngagementLedger): a naive directory copy of `logPath`
    * would silently drop the COMPACTED history, un-guarding every
    * folded batch id at the new path.
    */
  def readAll(spark: SparkSession, logPath: String): Option[DataFrame] = {
    val compact = compactFile(spark, logPath)
    val srcs = (if (exists(spark, compact)) Seq(compact) else Nil) ++
      (if (tailFiles(spark, logPath).nonEmpty) Seq(logPath) else Nil)
    if (srcs.isEmpty) None else Some(spark.read.parquet(srcs: _*))
  }

  /** Carry the full logged history — previous compact file plus tail
    * — to a log at a FRESH path, as one tail file the destination
    * folds on its normal cadence. The rebuild-to-new-path carry
    * (compactLshIndex, rebuildHnswIndex, rebuildIvfPqIndex): a naive
    * directory copy would drop the compacted history, and SKIPPING
    * the carry un-guards every logged batch id at the new path — a
    * stream replay after the pointer swap would re-append rows the
    * old path already holds. No-op for a log never written.
    */
  def copyTo(spark: SparkSession, srcLogPath: String,
      dstLogPath: String): Unit =
    readAll(spark, srcLogPath).foreach(
      _.repartition(1).write.mode("overwrite").parquet(dstLogPath))

  /** Whether `batchId` was logged: watermark → compact file → tail.
    * A missing-file failure mid-scan means a concurrent fold retired
    * a snapshotted file between resolution and the action — the fold
    * preserves every logged id, so re-resolving and retrying reads
    * the post-fold truth instead of failing the trigger (r17 ADVICE);
    * any other failure propagates (a corrupt log must never silently
    * downgrade exactly-once to replay-everything). Missing-file has
    * two shapes (r18 ADVICE): FileNotFoundException somewhere in the
    * cause chain (file deleted mid-read), and AnalysisException
    * PATH_NOT_FOUND with no FNF cause (the resolved gen=<k> path
    * deleted between resolution and spark.read's analysis).
    */
  def contains(spark: SparkSession, logPath: String,
      batchId: Long): Boolean = {
    // Driver-direct probe (r20 — TinyParquet): the fallback scan was
    // a spark.read + filter + count — listing, plan, one-task job —
    // per trigger on metadata-scale files. The probe only needs
    // `batch_id`, read here through the example Group API with an
    // early exit on the first hit; a file whose batch_id is not a
    // plain int32/int64 falls back to the Spark scan rather than
    // guessing.
    def fileHas(p: org.apache.hadoop.fs.Path): Boolean =
      TinyParquet.readGroupsFile(spark, p).exists { g =>
        val t = g.getType
        if (!t.containsField("batch_id")) false
        else {
          val idx = t.getFieldIndex("batch_id")
          val ft = t.getType(idx)
          if (!ft.isPrimitive || g.getFieldRepetitionCount(idx) == 0) false
          else ft.asPrimitiveType().getPrimitiveTypeName match {
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
                .INT64 => g.getLong(idx, 0) == batchId
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
                .INT32 => g.getInteger(idx, 0).toLong == batchId
            case _ => throw new BatchIdShapeFallback
          }
        }
      }
    def attempt(): Boolean = {
      if (watermark(spark, logPath).exists(batchId <= _)) return true
      val compact = compactFile(spark, logPath)
      val compactSrc =
        if (exists(spark, compact))
          Seq(new org.apache.hadoop.fs.Path(compact))
        else Nil
      val tailSrc = tailFiles(spark, logPath)
        .map(n => new org.apache.hadoop.fs.Path(s"$logPath/$n"))
      try (compactSrc ++ tailSrc).exists(fileHas)
      catch {
        case _: BatchIdShapeFallback =>
          val sources =
            (if (compactSrc.nonEmpty) Seq(compact) else Nil) ++
              (if (tailSrc.nonEmpty) Seq(logPath) else Nil)
          sources.nonEmpty &&
            spark.read.parquet(sources: _*)
              .where(col("batch_id") === batchId).limit(1).count() > 0
      }
    }
    try attempt()
    catch {
      case e: Throwable if isMissingFile(e) => attempt()
    }
  }

  /** Control-flow marker: a log file whose batch_id shape the direct
    * probe doesn't recognize — re-probe through the Spark reader.
    */
  private final class BatchIdShapeFallback
      extends RuntimeException(null, null, false, false)

  private[graft] def isMissingFile(t: Throwable): Boolean = t match {
    case a: org.apache.spark.sql.AnalysisException
        if a.getCondition == "PATH_NOT_FOUND" ||
          Option(a.getMessage).exists(_.contains("PATH_NOT_FOUND")) =>
      true
    case _ => rootIsFileNotFound(t)
  }

  private def rootIsFileNotFound(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      c = c.getCause
    }
    false
  }

  /** Fold the whole logged history — previous compact file plus every
    * tail file — into ONE sorted parquet file, record the watermark,
    * and retire every superseded generation and the folded tail.
    * Returns the number of tail files folded.
    */
  def compact(spark: SparkSession, logPath: String): Int = {
    import spark.implicits._
    val tail = tailFiles(spark, logPath)
    val root = s"${logPath}_compact"
    val prev =
      if (GenPointer.exists(spark, root))
        Some(GenPointer.read(spark, root)._1)
      else None
    val prevFile = prev.map(g => s"$root/gen=$g/LOG.parquet")
      .filter(exists(spark, _))
    if (tail.isEmpty && prevFile.isDefined) return 0
    val srcs = prevFile.toSeq ++ tail.map(n => s"$logPath/$n")
    if (srcs.isEmpty) return 0
    val all = spark.read.parquet(srcs: _*)
      .withColumn("batch_id", col("batch_id").cast("long"))
      .dropDuplicates("batch_id")
    val gen = prev.map(_ + 1).getOrElse(0)
    all.repartition(1).sortWithinPartitions("batch_id")
      .write.mode("overwrite").parquet(s"$root/gen=$gen")
    // the dir-level overwrite writes part-*.parquet; give the reader
    // ONE stable name so the committed file is addressable without a
    // listing
    val f = fs(spark, root)
    val genDir = new org.apache.hadoop.fs.Path(s"$root/gen=$gen")
    val part = f.listStatus(genDir).map(_.getPath)
      .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      .getOrElse(throw new IllegalStateException(
        s"BatchLog.compact: fold wrote no parquet file under $genDir"))
    val dst = new org.apache.hadoop.fs.Path(s"$root/gen=$gen/LOG.parquet")
    if (!f.rename(part, dst))
      throw new IllegalStateException(
        s"BatchLog.compact: could not rename $part to $dst — refusing " +
          "to publish a fold whose committed name would not resolve")
    val stamp = CorpusStore.stampWriterToken(spark, s"$root/gen=$gen")
    // watermark: the longest 0..W prefix with every id logged — one
    // window over the (metadata-scale) id column
    val w = org.apache.spark.sql.expressions.Window.orderBy("batch_id")
    val wm = spark.read.parquet(s"$root/gen=$gen/LOG.parquet")
      .select("batch_id")
      .withColumn("_rn", row_number().over(w))
      .where(col("batch_id") === col("_rn").cast("long") - 1L)
      .agg(max("batch_id")).as[Option[Long]].head()
    CorpusStore.verifyWriterTokens(spark, Seq(stamp))
    GenPointer.commit(spark, root, gen)
    // the pointer carries an Int; a stream past 2^31 micro-batches
    // (68 years at 1/s) keeps a stale-but-conservative watermark
    wm.filter(_ <= Int.MaxValue.toLong)
      .foreach(v => GenPointer.commit(spark, s"$root/watermark", v.toInt))
    // retire EVERY superseded generation (not just the direct
    // predecessor — a crash between swap and cleanup must not orphan
    // a dir forever, r17 ADVICE) and the folded tail; failures past
    // the pointer swap leave only harmless duplicates
    genDirsBelow(spark, root, gen).foreach { p =>
      if (f.exists(p)) f.delete(p, true)
    }
    val lf = fs(spark, logPath)
    tail.foreach { n =>
      val p = new org.apache.hadoop.fs.Path(s"$logPath/$n")
      if (lf.exists(p)) lf.delete(p, false)
      val crc = new org.apache.hadoop.fs.Path(s"$logPath/.$n.crc")
      if (lf.exists(crc)) lf.delete(crc, false)
    }
    tail.size
  }

  /** Every `gen=<k>` directory under `root` with k < `below` —
    * the superseded-generation sweep set.
    */
  private def genDirsBelow(spark: SparkSession, root: String,
      below: Int): Seq[org.apache.hadoop.fs.Path] = {
    val f = fs(spark, root)
    val r = new org.apache.hadoop.fs.Path(root)
    if (!f.exists(r)) Nil
    else f.listStatus(r).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("gen=") &&
          scala.util.Try(n.stripPrefix("gen=").toInt).toOption
            .exists(_ < below)
      }.toSeq
  }
}

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
  *    carried in the fold's record; Spark's micro-batch ids are
  *    contiguous from 0 per checkpoint, so a restart's replayed id
  *    almost always resolves here), then the single COMPACT file
  *    (batch_id min/max + predicate pushdown), then the since-fold
  *    TAIL (bounded by the maintenance cadence, never the stream's
  *    lifetime);
  *  - [[compact]] — fold the previous compact file plus every tail
  *    file into ONE sorted parquet, publish it as the next entry of
  *    the fold log `<log>_compact/folds/` ([[GenLog]]), delete the
  *    folded tail.
  *
  * The log's SCHEMA is the caller's — any columns plus a `batch_id`
  * castable to long. Crash-safe by the store's commit ordering —
  * (1) materialize in a writer-private directory no record names,
  * (2) publish the fold record (the file and its watermark) with the
  * one exclusive publish, (3) prune the superseded records and delete
  * their files and the snapshotted tail. A failure before (2) leaves
  * the old state fully readable; after (2), only harmless duplicates
  * the existence probe never notices and the next fold dedups.
  *
  * Concurrent folds fail safe by construction: two folds that read
  * the same record race to publish the next one, and the loser fails
  * with a conflict, having published nothing and deleted no tail file.
  *
  * [[contains]] re-resolves its sources and retries when a CONCURRENT
  * fold deletes a tail or compact file mid-scan (r17 ADVICE); cleanup
  * retires EVERY superseded generation below the committed one, so a
  * crash between publish and cleanup can never orphan a directory
  * forever.
  */
private[graft] object BatchLog {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One fold's record: its parquet file, relative to `<log>_compact`,
    * and the max-contiguous-from-0 batch id it holds (-1 for none).
    */
  private[sources] final case class Fold(file: String, watermark: Long)

  private def foldLog(logPath: String): String = s"${logPath}_compact/folds"

  /** The newest fold's generation and record, if the log was folded. */
  private def newestFold(spark: SparkSession,
      logPath: String): Option[(Long, Fold)] =
    GenLog.latest(spark, foldLog(logPath)).map { case (k, bytes) =>
      k -> GenLog.json.readValue(bytes, classOf[Fold])
    }

  private def foldFile(logPath: String, fold: Fold): String =
    s"${logPath}_compact/${fold.file}"

  /** The max-contiguous-from-0 batch id as of the last fold, if one
    * was recorded — one listing and one record read.
    */
  def watermark(spark: SparkSession, logPath: String): Option[Long] =
    newestFold(spark, logPath).map(_._2.watermark).filter(_ >= 0L)

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
    GenLog.bounds(spark, foldLog(logPath)).isDefined

  /** Every logged row — the previous compact file plus the tail — or
    * None for a log never written. The carry-over read for
    * rebuild-to-fresh-path flows (compactLshIndex,
    * compactEngagementLedger): a naive directory copy of `logPath`
    * would silently drop the COMPACTED history, un-guarding every
    * folded batch id at the new path.
    */
  def readAll(spark: SparkSession, logPath: String): Option[DataFrame] = {
    val srcs = newestFold(spark, logPath).map(f => foldFile(logPath, f._2))
      .toSeq ++ (if (tailFiles(spark, logPath).nonEmpty) Seq(logPath) else Nil)
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
      val fold = newestFold(spark, logPath).map(_._2)
      if (fold.exists(batchId <= _.watermark)) return true
      val compact = fold.map(foldFile(logPath, _)).toSeq
      val tailSrc = tailFiles(spark, logPath)
        .map(n => new org.apache.hadoop.fs.Path(s"$logPath/$n"))
      try (compact.map(new org.apache.hadoop.fs.Path(_)) ++ tailSrc)
        .exists(fileHas)
      catch {
        case _: BatchIdShapeFallback =>
          val sources =
            compact ++ (if (tailSrc.nonEmpty) Seq(logPath) else Nil)
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
    * tail file — into ONE sorted parquet file in a writer-private
    * directory, and publish its record (the file and its watermark) as
    * the fold log's next entry. When another fold published that entry
    * first, this fails with a conflict, having published nothing and
    * deleted no tail file. Otherwise, while this fold is still the
    * newest, it retires every superseded generation and the folded
    * tail. Returns the number of tail files folded and retired.
    */
  def compact(spark: SparkSession, logPath: String): Int = {
    import spark.implicits._
    val tail = tailFiles(spark, logPath)
    if (tail.isEmpty) return 0
    val root = s"${logPath}_compact"
    val prev = newestFold(spark, logPath)
    val gen = prev.map(_._1 + 1).getOrElse(0L)
    val dir = s"gen=$gen/${java.util.UUID.randomUUID()}"
    def conflict(cause: Throwable) = new IllegalStateException(
      s"BatchLog: fold conflict at $logPath — generation $gen was " +
        "published by another fold first; nothing of this fold was " +
        "published and no tail file was deleted. Re-run the fold.", cause)
    // a fold that lost to a concurrent one can find its inputs already
    // retired by the winner's cleanup
    try spark.read.parquet(
        prev.map(p => foldFile(logPath, p._2)).toSeq ++
          tail.map(n => s"$logPath/$n"): _*)
      .withColumn("batch_id", col("batch_id").cast("long"))
      .dropDuplicates("batch_id")
      .repartition(1).sortWithinPartitions("batch_id")
      .write.parquet(s"$root/$dir")
    catch { case e: Throwable if isMissingFile(e) => throw conflict(e) }
    val f = fs(spark, root)
    val file = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/$dir"))
      .map(_.getPath.getName)
      .find(n => n.endsWith(".parquet") && !n.startsWith("."))
      .getOrElse(throw new IllegalStateException(
        s"BatchLog.compact: fold wrote no parquet file under $root/$dir"))
    // watermark: the longest 0..W prefix with every id logged — one
    // window over the (metadata-scale) id column
    val w = org.apache.spark.sql.expressions.Window.orderBy("batch_id")
    val wm = spark.read.parquet(s"$root/$dir/$file")
      .select("batch_id")
      .withColumn("_rn", row_number().over(w))
      .where(col("batch_id") === col("_rn").cast("long") - 1L)
      .agg(max("batch_id")).as[Option[Long]].head()
    val record = GenLog.json.writeValueAsBytes(
      Fold(s"$dir/$file", wm.getOrElse(-1L)))
    if (!GenLog.publish(spark, foldLog(logPath), gen, record)) {
      f.delete(new org.apache.hadoop.fs.Path(s"$root/$dir"), true)
      throw conflict(null)
    }
    // a newer fold already read this one (or this one landed below the
    // newest, at a number a prune had freed): the newest owns cleanup
    if (!GenLog.bounds(spark, foldLog(logPath)).exists(_._1 == gen)) return 0
    // retire EVERY superseded generation (not just the direct
    // predecessor — a crash between publish and cleanup must not
    // orphan a dir forever, r17 ADVICE) and the folded tail; failures
    // past the publish leave only harmless duplicates
    GenLog.prune(spark, foldLog(logPath), gen)
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
      below: Long): Seq[org.apache.hadoop.fs.Path] = {
    val f = fs(spark, root)
    val r = new org.apache.hadoop.fs.Path(root)
    if (!f.exists(r)) Nil
    else f.listStatus(r).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("gen=") &&
          n.stripPrefix("gen=").toLongOption.exists(_ < below)
      }.toSeq
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.sources.{BatchLog, CorpusStore}

/** Round 17 — the r16 verdict's top task plus missing item 3:
  *
  *  - the streaming replay guard's `ingest_log` stops growing one
  *    fully-scanned file per micro-batch forever: [[BatchLog.compact]]
  *    folds the whole history into ONE sorted
  *    file under the module's atomic-pointer swap, a max-contiguous
  *    batch-id WATERMARK makes the common replay check a pointer
  *    read, and [[CorpusStore.maintainCorpusCow]] runs the fold on
  *    its normal cadence — with the guard refusing every logged id
  *    across any interleaving of folds, crashes and appends;
  *  - vacuum floors retention at the slowest REGISTERED follower
  *    instead of vacuuming its unread range out from under it, and
  *    `unregisterFollower` completes the lifecycle;
  *  - the micro-batch change paths' broadcast hints are bounded: a
  *    bulk backfill past [[CorpusStore.maxBroadcastIds]] plans a
  *    shuffle join (AQE may still broadcast at runtime) instead of
  *    an unconditional driver-side materialization.
  */
class CowIngestLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val nBuckets = 8

  private def corpus = (1 to 40)
    .map(i => (i.toLong, s"document number $i body"))
    .toDF("doc_id", "text")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(_._1).toSeq

  test("ingest log: N batches grow N tail files; one maintenance pass folds to one file; the replay guard refuses every logged id across the fold") {
    val path = tmp("graft-cil")
    val logPath = s"$path/ingest_log"
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    (0 to 5).foreach { i =>
      CorpusStore.cowIngestBatch(path)(
        Seq((100L + i, s"streamed $i")).toDF("doc_id", "text"), i.toLong)
    }
    // the tail disease the fold cures: one file per batch
    assert(BatchLog.tailFiles(spark, logPath).size == 6)
    val h = CorpusStore.cowHealthReport(spark, path)
    assert(h.ingestLogTail == 6 && h.needsLogCompaction, h.toString)

    val genBefore = CorpusStore.currentGen(spark, path)._1
    val r = CorpusStore.maintainCorpusCow(spark, path)
    assert(r.actions.contains("log_compacted"), r.toString)
    assert(r.after.ingestLogTail == 0 && !r.after.needsLogCompaction,
      r.after.toString)
    // ≤ 1 log file total: tail empty, history in the single compact
    assert(BatchLog.tailFiles(spark, logPath).isEmpty)
    // the guard still refuses EVERY logged id — pointer-read fast
    // path (contiguous 0..5 ⇒ watermark 5) and replay no-ops
    assert(BatchLog.watermark(spark, logPath).contains(5L))
    val genAfterFold = CorpusStore.currentGen(spark, path)._1
    assert(genAfterFold >= genBefore)
    (0 to 5).foreach { i =>
      assert(BatchLog.contains(spark, logPath, i.toLong),
        s"batch $i lost by the fold")
      CorpusStore.cowIngestBatch(path)(
        Seq((100L + i, s"replayed $i")).toDF("doc_id", "text"), i.toLong)
    }
    assert(CorpusStore.currentGen(spark, path)._1 == genAfterFold,
      "replays after the fold must not commit")
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path))
      .count(_._1 >= 100L) == 6)
    // life goes on: a genuinely new batch admits and logs to the tail
    CorpusStore.cowIngestBatch(path)(
      Seq((200L, "post-fold doc")).toDF("doc_id", "text"), 6L)
    assert(BatchLog.contains(spark, logPath, 6L))
    assert(BatchLog.tailFiles(spark, logPath).size == 1)
    // a second fold absorbs it and advances the watermark
    BatchLog.compact(spark, logPath)
    assert(BatchLog.watermark(spark, logPath).contains(6L))
    assert(BatchLog.tailFiles(spark, logPath).isEmpty)
  }

  test("ingest log watermark is the max-contiguous prefix: gapped ids resolve by scan, absent ids stay admissible") {
    val path = tmp("graft-cilg")
    val logPath = s"$path/ingest_log"
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    Seq(0L, 1L, 5L).foreach { i =>
      CorpusStore.cowIngestBatch(path)(
        Seq((100L + i, s"streamed $i")).toDF("doc_id", "text"), i)
    }
    BatchLog.compact(spark, logPath)
    // 0,1 contiguous; 5 is past the gap
    assert(BatchLog.watermark(spark, logPath).contains(1L))
    assert(BatchLog.contains(spark, logPath, 1L))
    assert(BatchLog.contains(spark, logPath, 5L),
      "above-watermark logged ids must resolve from the compact file")
    assert(!BatchLog.contains(spark, logPath, 3L),
      "an unlogged id must stay admissible")
    // the gap fills later: the next fold advances the watermark past it
    Seq(2L, 3L, 4L).foreach { i =>
      CorpusStore.cowIngestBatch(path)(
        Seq((100L + i, s"streamed $i")).toDF("doc_id", "text"), i)
    }
    BatchLog.compact(spark, logPath)
    assert(BatchLog.watermark(spark, logPath).contains(5L))
  }

  test("ingest log fold is crash-convergent: an uncommitted fold dir is invisible; leftover tail duplicates dedup on the next fold") {
    val path = tmp("graft-cilc")
    val logPath = s"$path/ingest_log"
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    (0 to 3).foreach { i =>
      CorpusStore.cowIngestBatch(path)(
        Seq((100L + i, s"streamed $i")).toDF("doc_id", "text"), i.toLong)
    }
    // crash BEFORE the swap: a half-written fold dir exists but no
    // pointer — the guard keeps reading the committed state (tail)
    val orphan = new java.io.File(s"${logPath}_compact/gen=0")
    orphan.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${logPath}_compact/gen=0/garbage"),
      "not parquet".getBytes)
    (0 to 3).foreach(i =>
      assert(BatchLog.contains(spark, logPath, i.toLong)))
    assert(!BatchLog.contains(spark, logPath, 9L))
    // the retried fold overwrites the orphan and commits
    BatchLog.compact(spark, logPath)
    (0 to 3).foreach(i =>
      assert(BatchLog.contains(spark, logPath, i.toLong)))
    assert(BatchLog.watermark(spark, logPath).contains(3L))

    // crash AFTER the swap, mid tail-delete: a folded tail file
    // survives as a duplicate — harmless to the guard, dedup'd by
    // the next fold
    CorpusStore.cowIngestBatch(path)(
      Seq((110L, "late doc")).toDF("doc_id", "text"), 4L)
    val tail = BatchLog.tailFiles(spark, logPath)
    assert(tail.size == 1)
    val dup = s"$logPath/dup-${tail.head}"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$logPath/${tail.head}"),
      java.nio.file.Paths.get(dup))
    BatchLog.compact(spark, logPath)
    assert(BatchLog.tailFiles(spark, logPath).isEmpty)
    assert(BatchLog.contains(spark, logPath, 4L))
    // exactly one row per batch id survived the duplicate
    val log = spark.read.parquet(
      s"${logPath}_compact/gen=" +
        graft.sources.GenPointer.read(spark, s"${logPath}_compact")._1 +
        "/LOG.parquet")
    assert(log.groupBy("batch_id").count().where(col("count") > 1)
      .count() == 0, "fold must dedup replay-window duplicates")
  }

  test("vacuum floors retention at the slowest registered follower, reports it, and releases after advance/unregister") {
    val path = tmp("graft-cilf")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets) // gen 0
    // follower bootstraps and acks gen 0
    assert(CorpusStore.followCorpus(spark, path, "idx")(_ => ())
      .contains((-1, 0)))
    (1 to 3).foreach(v => CorpusStore.upsertIntoCorpusCow(
      Seq((5L, s"five v$v")).toDF("doc_id", "text"), path)) // gens 1-3
    assert(CorpusStore.listCorpusFollowers(spark, path) ==
      Seq("idx" -> 0))

    // policy wants base 3; the follower still needs (0, 3] — floor 1
    val r1 = CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 1)
    assert(r1 == CorpusStore.VacuumReport(3, 1, Some("idx" -> 0)), r1)
    assert(CorpusStore.currentGen(spark, path) == ((3, 1)))
    // the follower's range is intact: it reads (0, 3] and advances
    var got = Set.empty[Long]
    assert(CorpusStore.followCorpus(spark, path, "idx") { df =>
      got = df.select("doc_id").as[Long].collect().toSet
    }.contains((0, 3)))
    assert(got.contains(5L))
    // now current: the next pass reclaims to policy, no floor
    val r2 = CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 1)
    assert(r2 == CorpusStore.VacuumReport(3, 3, None), r2)
    assert(CorpusStore.currentGen(spark, path) == ((3, 3)))

    // the maintenance loop surfaces the constraint in its actions:
    // "lag" bootstraps at gen 3 and then stalls while "idx" keeps up
    assert(CorpusStore.followCorpus(spark, path, "lag")(_ => ())
      .contains((-1, 3)))
    (4 to 6).foreach(v => CorpusStore.upsertIntoCorpusCow(
      Seq((5L, s"five v$v")).toDF("doc_id", "text"), path)) // gens 4-6
    assert(CorpusStore.followCorpus(spark, path, "idx")(_ => ())
      .contains((3, 6)))
    val m = CorpusStore.maintainCorpusCow(spark, path, maxGenerations = 1)
    assert(m.actions.exists(_.contains("floored at follower 'lag'")),
      m.toString)
    assert(CorpusStore.currentGen(spark, path) == ((6, 4)))
    // retiring the dead follower releases the floor
    assert(CorpusStore.unregisterFollower(spark, path, "lag"))
    assert(!CorpusStore.unregisterFollower(spark, path, "lag"))
    val r3 = CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 1)
    assert(r3 == CorpusStore.VacuumReport(6, 6, None), r3)
    assert(CorpusStore.listCorpusFollowers(spark, path) ==
      Seq("idx" -> 6))
  }

  test("bulk change sets past maxBroadcastIds keep correctness on the unhinted join plan") {
    val path = tmp("graft-cilb")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    val saved = CorpusStore.maxBroadcastIds
    try {
      CorpusStore.maxBroadcastIds = 1L // force the bulk path
      CorpusStore.appendDeltaToCorpusCow(
        Seq((5L, "five bulk"), (41L, "fortyone bulk"))
          .toDF("doc_id", "text"), path)
      CorpusStore.appendTombstonesToCorpusCow(
        Seq(7L, 8L).toDF("doc_id"), path)
      CorpusStore.deleteFromCorpusCow(Seq(9L).toDF("doc_id"), path)
      val want = (1 to 40).filterNot(Set(7, 8, 9))
        .map(i => (i.toLong,
          if (i == 5) "five bulk" else s"document number $i body")) :+
        ((41L, "fortyone bulk"))
      assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
        want.sortBy(_._1))
      // live counts stayed exact through the unhinted replacement probe
      val h = CorpusStore.cowHealthReport(spark, path)
      assert(h.totalRows == want.size.toLong, h.toString)
    } finally CorpusStore.maxBroadcastIds = saved
  }
}

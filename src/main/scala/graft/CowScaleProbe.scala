package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{BatchLog, CorpusStore}

/** CorpusStore takedown and ingest cost probe (round 15 — backs the
  * §4 numbers for the copy-on-write claim with measurements, the
  * takedown-crossover/k-means-probe convention): replicate the
  * documents table to several corpus sizes, then time a k-doc
  * takedown (k = SPARK_GRAFT_COW_TAKEDOWN, default 10 — the §4 run)
  * through `deleteFromCorpusCow`, which rewrites only the buckets the
  * k ids hash into, reporting wall time and the BYTES the new
  * generation wrote next to the founding generation's bytes (du over
  * each generation's data tree — the metric that scales to 100 TB,
  * where wall time is cluster-dependent but write volume is not).
  * The founding bytes are what a full snapshot writes; the takedown's
  * bytes grow with corpus/numBuckets (the touched-bucket size), i.e.
  * ~min(k, N)/N of the corpus per replication step.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=16 \
  *   sbt "runMain graft.CowScaleProbe 1 4 16"
  */
object CowScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val reps: Seq[Int] =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 4, 16)
    val numBuckets = sys.env.get("SPARK_GRAFT_COW_BUCKETS")
      .map(_.toInt).getOrElse(64)
    // takedown size: the granularity trade is k vs numBuckets — at
    // k ≳ numBuckets a random-id takedown touches nearly every bucket
    // (COW degenerates to a full rewrite by design), at k ≪ numBuckets
    // it writes ~k/numBuckets of the corpus
    val k = sys.env.get("SPARK_GRAFT_COW_TAKEDOWN")
      .map(_.toInt).getOrElse(10)
    // comma-separated section filter for local iteration (the full
    // probe is tens of minutes; a re-measure usually wants one
    // curve): takedown, ingest, tombstone, log. Unset = all.
    val sections = sys.env.get("SPARK_GRAFT_COW_SECTIONS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("takedown", "ingest", "tombstone", "log"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def du(dir: String): Long = {
      val root = new java.io.File(dir)
      if (!root.exists) 0L
      else {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(root)
      }
    }
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    if (sections("takedown")) {
    println("rep,n_docs,init_sec,takedown_sec,gen_bytes,corpus_bytes")
    reps.foreach { rep =>
      // replicate with disjoint ids: content replicates, ids stay
      // unique
      val corpus = (0 until rep).map(i =>
          docs.select((col("doc_id") + lit(i.toLong * 10000000L))
            .as("doc_id"), col("text")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val n = corpus.count()
      val doomed = corpus.select("doc_id")
        .orderBy(xxhash64(col("doc_id")), col("doc_id")).limit(k)
        .localCheckpoint()

      val cowDir = java.nio.file.Files
        .createTempDirectory(s"graft-cowprobe-$rep").toString
      val (_, cowInit) = time {
        CorpusStore.writeCorpusCow(corpus, cowDir, "doc_id", numBuckets)
      }
      val (_, cowDel) = time {
        CorpusStore.deleteFromCorpusCow(doomed, cowDir)
      }
      val cowGenBytes = du(s"$cowDir/parts/gen=1")
      val cowCorpusBytes = du(s"$cowDir/parts/gen=0")
      println(s"$rep,$n,$cowInit,$cowDel,$cowGenBytes,$cowCorpusBytes")
    }
    }

    // ——— Streaming-ingest write amplification (round 16 — verdict
    // task 1's measurement): B small batches through (a) bucket-
    // rewrite upserts (upsertIntoCorpusCow) vs (b) delta
    // generations + one final compaction. The verdict's bar: the
    // delta path writes O(Σ batch) bytes where the rewrite path
    // writes O(touched buckets) per batch — the gap is the corpus/
    // numBuckets multiplier, so it WIDENS with corpus size.
    val batches = sys.env.get("SPARK_GRAFT_COW_BATCHES")
      .map(_.toInt).getOrElse(8)
    val batchRows = sys.env.get("SPARK_GRAFT_COW_BATCH_ROWS")
      .map(_.toInt).getOrElse(20)
    if (sections("ingest")) {
    println("rep,n_docs,mode,ingest_sec,ingest_bytes,compact_sec," +
      "compact_bytes,read_before_sec,read_after_sec")
    reps.foreach { rep =>
      val corpus = (0 until rep).map(i =>
          docs.select((col("doc_id") + lit(i.toLong * 10000000L))
            .as("doc_id"), col("text")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val n = corpus.count()
      def mkBatch(b: Int) = corpus
        .orderBy(xxhash64(col("doc_id") + lit(b)), col("doc_id"))
        .limit(batchRows)
        .select((col("doc_id") + lit(900000000L)).as("doc_id"),
          col("text"))
        .localCheckpoint()
      val batchDfs = (0 until batches).map(mkBatch)

      Seq(false, true).foreach { deltaLeg =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-ingprobe-$rep-$deltaLeg").toString
        CorpusStore.writeCorpusCow(corpus, dir, "doc_id", numBuckets)
        val (_, ingSec) = time {
          batchDfs.zipWithIndex.foreach { case (b, i) =>
            if (deltaLeg) CorpusStore.cowIngestBatch(dir)(b, i.toLong)
            else CorpusStore.upsertIntoCorpusCow(b, dir)
          }
        }
        val root = if (deltaLeg) "deltas" else "parts"
        val ingBytes = (1 to batches).map(g => du(s"$dir/$root/gen=$g")).sum
        // the delta layer's READ price: CURRENT with the batches'
        // delta chains pays the LWW merge window; compaction retires
        // it — both sides measured so the §4 trade is two-sided
        val (_, readBefore) = time {
          CorpusStore.readCorpusSnapshot(spark, dir).count()
        }
        val (cg, cSec) =
          if (deltaLeg) time(CorpusStore.compactCorpusCow(spark, dir))
          else (batches, 0.0)
        val cBytes = if (deltaLeg) du(s"$dir/parts/gen=$cg") else 0L
        val (_, readAfter) = time {
          CorpusStore.readCorpusSnapshot(spark, dir).count()
        }
        val mode = if (deltaLeg) "delta" else "rewrite"
        println(s"$rep,$n,$mode,$ingSec,$ingBytes,$cSec,$cBytes," +
          s"$readBefore,$readAfter")
      }
    }
    }

    // ——— Takedown write amplification (round 16 — tombstones): the
    // SAME k-id takedown through (a) the eager bucket rewrite
    // (deleteFromCorpusCow) vs (b) an id-only tombstone generation
    // (appendTombstonesToCorpusCow). Tombstone bytes are O(k ids) —
    // CONSTANT in the corpus size — where rewrite bytes are
    // O(k · corpus/numBuckets); at the 100 TB design point
    // (4096 × 24 GB buckets) that constant-vs-multi-TB gap is the
    // operation's reason to exist. The read price after the tombstone
    // (the LWW merge on the touched buckets) and the later compaction
    // cost are both measured so the trade is two-sided here too.
    if (sections("tombstone")) {
    println("rep,n_docs,mode,takedown_sec,takedown_bytes,read_sec," +
      "compact_sec,compact_bytes")
    reps.foreach { rep =>
      val corpus = (0 until rep).map(i =>
          docs.select((col("doc_id") + lit(i.toLong * 10000000L))
            .as("doc_id"), col("text")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val n = corpus.count()
      val doomed = corpus.select("doc_id")
        .orderBy(xxhash64(col("doc_id")), col("doc_id")).limit(k)
        .localCheckpoint()
      Seq(false, true).foreach { asTombstones =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-tombprobe-$rep-$asTombstones")
          .toString
        CorpusStore.writeCorpusCow(corpus, dir, "doc_id", numBuckets)
        val (_, delSec) = time {
          if (asTombstones)
            CorpusStore.appendTombstonesToCorpusCow(doomed, dir)
          else CorpusStore.deleteFromCorpusCow(doomed, dir)
        }
        val root = if (asTombstones) "deltas" else "parts"
        val delBytes = du(s"$dir/$root/gen=1")
        val (_, readSec) = time {
          CorpusStore.readCorpusSnapshot(spark, dir).count()
        }
        val (cSec, cBytes) =
          if (asTombstones) {
            val (cg, s) = time(CorpusStore.compactCorpusCow(spark, dir))
            (s, du(s"$dir/parts/gen=$cg"))
          } else (0.0, 0L)
        val mode = if (asTombstones) "tombstone" else "rewrite"
        println(s"$rep,$n,$mode,$delSec,$delBytes,$readSec,$cSec,$cBytes")
      }
    }
    }

    // ——— Ingest-log replay-guard cost (round 17 — verdict task 1):
    // the per-trigger `BatchLog.contains` probe BEFORE the fold (one
    // file per logged batch, all listed+footer-read) vs AFTER
    // `BatchLog.compact` (watermark read + single-file scan).
    // Round 18: the fold generalized into graft.sources.BatchLog and
    // the ANN serving loops' `serve_log` (Similarity.compactServeLog)
    // plus the index ingest loop's log ride the SAME module, so this
    // curve — the probe is a pure function of the LOG's file count,
    // not of what the rows mean — is their curve too.
    // Batch counts stand in for stream lifetime: the before-cost
    // grows with B forever, the after-cost is flat — the last
    // O(batches)-per-trigger curve in the streaming ingest path. The
    // tail is built by the log writer DIRECTLY (appendIngestLog —
    // exactly the file-per-batch shape cowIngestBatch leaves): the
    // guard's cost is a pure function of the LOG, not the corpus,
    // and driving full corpus commits here would only time the data
    // path the other sections already measure.
    if (sections("log")) {
    println("log_batches,tail_files_before,probe_logged_ms_before," +
      "probe_fresh_ms_before,fold_sec,tail_files_after," +
      "probe_logged_ms_after,probe_fresh_ms_after")
    val logSizes = sys.env.get("SPARK_GRAFT_COW_LOG_BATCHES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(16, 64, 256))
    logSizes.foreach { nb =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-logprobe-$nb").toString
      val logPath = s"$dir/ingest_log"
      (0 until nb).foreach(i =>
        CorpusStore.appendIngestLog(spark, logPath, i.toLong,
          Some(i + 1), 1L))
      def probeMs(id: Long): Double = {
        val t0 = System.nanoTime()
        BatchLog.contains(spark, logPath, id)
        (System.nanoTime() - t0) / 1e6
      }
      val tailBefore = BatchLog.tailFiles(spark, logPath).size
      val loggedBefore = probeMs(nb / 2L)
      val freshBefore = probeMs(nb + 100L)
      val (_, foldSec) = time(BatchLog.compact(spark, logPath))
      val tailAfter = BatchLog.tailFiles(spark, logPath).size
      val loggedAfter = probeMs(nb / 2L) // watermark read
      val freshAfter = probeMs(nb + 100L) // one-file scan
      println(f"$nb,$tailBefore,$loggedBefore%.1f,$freshBefore%.1f," +
        f"$foldSec%.2f,$tailAfter,$loggedAfter%.1f,$freshAfter%.1f")
    }
    }
    spark.stop()
  }
}

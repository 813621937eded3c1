package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.CorpusStore

/** Versioned corpus snapshots (round 14 — verdict task 7): the BM25
  * generation-pointer idiom applied to the corpus itself. Pins the
  * full lifecycle — write/commit, time-travel read, CONCURRENT-READER
  * safety across a swap (the verdict's named bar), the snapshotDiff
  * integration, vacuum's atomic-base-then-delete ordering, and the
  * invisibility of uncommitted (crashed-writer) generations.
  */
class CorpusStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def v0 = Seq(
    (1L, "alpha beta gamma"),
    (2L, "delta epsilon zeta"),
    (3L, "eta theta iota")).toDF("doc_id", "text")

  // v1: doc 2 changed, doc 3 removed, doc 4 added
  private def v1 = Seq(
    (1L, "alpha beta gamma"),
    (2L, "delta epsilon CHANGED"),
    (4L, "kappa lambda mu")).toDF("doc_id", "text")

  test("write → read round-trips; versions accumulate; list reads manifests only") {
    val path = tmp("graft-cs")
    assert(CorpusStore.writeCorpusCow(v0, path, "doc_id", 8) == 0)
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .orderBy("doc_id").collect().toSeq ==
      v0.orderBy("doc_id").collect().toSeq)
    assert(CorpusStore.writeCorpusCow(v1, path, "doc_id", 8) == 1)
    assert(CorpusStore.currentGen(spark, path) == ((1, 0)))
    // CURRENT reads v1; time travel reads v0 bit-identically
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .orderBy("doc_id").collect().toSeq ==
      v1.orderBy("doc_id").collect().toSeq)
    assert(CorpusStore.readCorpusSnapshotAt(spark, path, 0)
      .orderBy("doc_id").collect().toSeq ==
      v0.orderBy("doc_id").collect().toSeq)
    assert(CorpusStore.listCorpusSnapshots(spark, path)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 3L), (1, 3L)))
  }

  test("concurrent reader resolved before a swap keeps its version; fresh reads see the new one") {
    val path = tmp("graft-cs-swap")
    CorpusStore.writeCorpusCow(v0, path, "doc_id", 8)
    // resolve a reader against CURRENT (gen 0) BEFORE the swap — this
    // is the DataFrame a long-running job would be scanning
    val reader = CorpusStore.readCorpusSnapshot(spark, path)
    CorpusStore.writeCorpusCow(v1, path, "doc_id", 8)
    // the pre-swap reader still sees gen 0, bit-identically
    assert(reader.orderBy("doc_id").collect().toSeq ==
      v0.orderBy("doc_id").collect().toSeq)
    // a fresh resolve sees gen 1
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .orderBy("doc_id").collect().toSeq ==
      v1.orderBy("doc_id").collect().toSeq)
  }

  test("GenLog hammer: a polling reader never errors, misses or goes backwards while a writer publishes and prunes entries in a loop") {
    // a reader polling a log from its own thread (the streaming corpus
    // source's shape) while a writer publishes entry g and prunes every
    // entry below it: every read must succeed, return a whole entry
    // and never regress, including a read whose listed entry the
    // writer prunes before it is opened
    import graft.sources.GenLog
    val dir = s"${tmp("graft-genlog")}/log"
    def bytes(g: Long) =
      s"$g ${g / 2}".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(GenLog.publish(spark, dir, 0, bytes(0)))
    assert(!GenLog.publish(spark, dir, 0, bytes(1)),
      "an existing entry must not be published twice")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val writer = new Thread(() => {
      var g = 1L
      try while (!stop.get && g <= 400) {
        assert(GenLog.publish(spark, dir, g, bytes(g)))
        GenLog.prune(spark, dir, g)
        g += 1
      } catch { case t: Throwable => failure.set(t) }
      finally stop.set(true)
    })
    writer.start()
    var last = 0L
    var reads = 0
    try {
      while (!stop.get) {
        val (g, b) = GenLog.latest(spark, dir).getOrElse(
          fail(s"the log read as empty after entry $last"))
        assert(g >= last, s"log regressed: $last -> $g")
        assert(new String(b, java.nio.charset.StandardCharsets.UTF_8) ==
          s"$g ${g / 2}", s"torn read of entry $g")
        last = g
        reads += 1
      }
    } finally { stop.set(true); writer.join() }
    assert(failure.get == null, String.valueOf(failure.get))
    assert(last > 0 && reads > 50, s"hammer too weak: $reads reads")
    assert(GenLog.bounds(spark, dir) == Some((400L, 400L)))
    // a reader that listed entry 400 before the writer pruned it still
    // gets an answer: the newer entry
    assert(GenLog.publish(spark, dir, 401, bytes(401)))
    GenLog.prune(spark, dir, 401)
    assert(GenLog.latest(spark, dir).map(_._1) == Some(401L))
    assert(new java.io.File(dir).list().toSeq == Seq("401"),
      "publish or prune left a temp file or a pruned entry behind")
  }

  test("read-modify-write: next version derives from CURRENT without self-overwrite") {
    val path = tmp("graft-cs-rmw")
    CorpusStore.writeCorpusCow(v0, path, "doc_id", 8)
    val cur = CorpusStore.readCorpusSnapshot(spark, path)
    val gen = CorpusStore.writeCorpusCow(
      cur.where(col("doc_id") =!= 3L), path, "doc_id", 8)
    assert(gen == 1)
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the source version is untouched
    assert(CorpusStore.readCorpusSnapshotAt(spark, path, 0).count() == 3)
  }

  test("snapshotDelta matches Dedup.snapshotDiff and reports add/remove/change") {
    val path = tmp("graft-cs-delta")
    CorpusStore.writeCorpusCow(v0, path, "doc_id", 8)
    CorpusStore.writeCorpusCow(v1, path, "doc_id", 8)
    val delta = CorpusStore
      .snapshotDelta(spark, path, 0, 1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(delta == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
    val direct = Dedup.snapshotDiff(v0, v1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(delta == direct)
  }

  test("vacuum moves base atomically before deleting; below-base reads fail fast; idempotent") {
    val path = tmp("graft-cs-vac")
    CorpusStore.writeCorpusCow(v0, path, "doc_id", 8)
    CorpusStore.writeCorpusCow(v1, path, "doc_id", 8)
    CorpusStore.writeCorpusCow(
      v1.withColumn("text", upper(col("text"))), path, "doc_id", 8)
    CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 2)
    assert(CorpusStore.currentGen(spark, path) == ((2, 1)))
    // gen 0 data and manifest are gone; reads of it fail fast
    assert(!new java.io.File(s"$path/parts/gen=0").exists)
    val e = intercept[IllegalArgumentException] {
      CorpusStore.readCorpusSnapshotAt(spark, path, 0)
    }
    assert(e.getMessage.contains("not retained"))
    // retained gens still read; listing covers exactly base..gen
    assert(CorpusStore.readCorpusSnapshotAt(spark, path, 1).count() == 3)
    assert(CorpusStore.listCorpusSnapshots(spark, path)
      .select("gen").as[Int].collect().toSeq == Seq(1, 2))
    // re-running the vacuum (crash-retry) is a no-op
    CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 2)
    assert(CorpusStore.currentGen(spark, path) == ((2, 1)))
  }

  test("a crashed writer's orphan generation is invisible until its commit lands") {
    val path = tmp("graft-cs-crash")
    CorpusStore.writeCorpusCow(v0, path, "doc_id", 8)
    // simulate a writer that materialized gen 1 but died before
    // publishing its record: data exists, the newest record is still 0
    v1.write.mode("overwrite").parquet(s"$path/parts/gen=1/crashed")
    assert(CorpusStore.currentGen(spark, path) == ((0, 0)))
    assert(CorpusStore.readCorpusSnapshot(spark, path).count() == 3)
    val e = intercept[IllegalArgumentException] {
      CorpusStore.readCorpusSnapshotAt(spark, path, 1)
    }
    assert(e.getMessage.contains("not retained"))
    // the retried write lands beside the orphan and commits exactly once
    assert(CorpusStore.writeCorpusCow(v1, path, "doc_id", 8) == 1)
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .orderBy("doc_id").collect().toSeq ==
      v1.orderBy("doc_id").collect().toSeq)
  }

  // ——— Copy-on-write layout (round 15 — verdict task 1) ————————————

  private val cowBuckets = 8

  private def cowCorpus = (1 to 40)
    .map(i => (i.toLong, s"document number $i body"))
    .toDF("doc_id", "text")

  /** The store's own bucket function, replayed for assertions. */
  private def bucketsOf(ids: Seq[Long]): Set[Int] =
    ids.toDF("doc_id")
      .select(pmod(xxhash64(col("doc_id")), lit(cowBuckets.toLong))
        .cast("int"))
      .as[Int].collect().toSet

  /** The buckets on disk of the tree generation `gen` wrote, its
    * directory resolved from the newest record that references it.
    */
  private def bucketDirs(path: String, gen: Int): Set[Int] =
    CorpusStore.record(spark, path, CorpusStore.currentGen(spark, path)._1)
      .treeOf(gen) match {
      case None => Set.empty
      case Some(dir) =>
        new java.io.File(s"$path/$dir").listFiles.filter(_.isDirectory)
          .map(_.getName)
          .collect { case n if n.startsWith("_cs_bucket=") =>
            n.stripPrefix("_cs_bucket=").toInt
          }.toSet
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(_._1).toSeq

  test("cow: a small takedown rewrites ONLY its touched buckets; every retained generation reads bit-identically") {
    val path = tmp("graft-cs-cow")
    assert(CorpusStore.writeCorpusCow(cowCorpus, path, "doc_id",
      cowBuckets) == 0)
    assert(CorpusStore.isCow(spark, path))
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(cowCorpus))
    // gen 0 owns every populated bucket
    assert(bucketDirs(path, 0) == bucketsOf(1L to 40L))

    // THE COW case: a 2-id takedown must write only the buckets those
    // ids hash into — file-count asserted, the verdict's named pin
    val doomed = Seq(5L, 17L)
    val touched = bucketsOf(doomed)
    assert(CorpusStore.deleteFromCorpusCow(
      doomed.toDF("doc_id"), path) == 1)
    assert(bucketDirs(path, 1) == touched,
      s"takedown wrote ${bucketDirs(path, 1)}, touched only $touched")
    // new version lost exactly the doomed ids
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(cowCorpus.where(!col("doc_id").isin(doomed: _*))))
    // the PREVIOUS version still reads bit-identically (shared
    // untouched buckets + its own manifest)
    assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, 0)) ==
      rows(cowCorpus))
    // untouched buckets of gen 1 are SERVED FROM gen 0 (the manifest
    // is the sharing contract), and the manifest's per-bucket counts
    // sum to the version's rows (metadata-scale occupancy)
    val r1 = CorpusStore.record(spark, path, 1)
    val m1 = r1.manifest.map { case (b, st) => b -> st.entries.head.srcGen }
    assert(touched.forall(b => m1(b) == 1), m1.toString)
    assert((bucketsOf(1L to 40L) -- touched).forall(b => m1(b) == 0),
      m1.toString)
    assert(r1.manifest.values.flatMap(_.entries).map(_.nRows).sum == 38L)
    // meta rows track per-version counts without scanning
    assert(CorpusStore.listCorpusSnapshots(spark, path)
      .as[(Int, Long)].collect().toSeq == Seq((0, 40L), (1, 38L)))
  }

  test("cow: upsert replaces and inserts bucket-locally; snapshotDelta works across cow generations") {
    val path = tmp("graft-cs-cowup")
    CorpusStore.writeCorpusCow(cowCorpus, path, "doc_id", cowBuckets)
    CorpusStore.deleteFromCorpusCow(Seq(17L).toDF("doc_id"), path)
    val up = Seq((5L, "document five REWRITTEN"),
      (41L, "document forty one NEW")).toDF("doc_id", "text")
    assert(CorpusStore.upsertIntoCorpusCow(up, path) == 2)
    assert(bucketDirs(path, 2) == bucketsOf(Seq(5L, 41L)))
    val want = cowCorpus.where(!col("doc_id").isin(5L, 17L))
      .unionByName(up)
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) == rows(want))
    assert(CorpusStore.listCorpusSnapshots(spark, path)
      .as[(Int, Long)].collect().toSeq ==
      Seq((0, 40L), (1, 39L), (2, 40L)))
    // prior versions stay bit-identical after the upsert
    assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, 0)) ==
      rows(cowCorpus))
    // between-version review resolves through manifests transparently
    val delta = CorpusStore
      .snapshotDelta(spark, path, 0, 2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(delta(17L) == "removed" && delta(5L) == "changed" &&
      delta(41L) == "added" && delta(1L) == "unchanged", delta.toString)
    assert(delta.values.count(_ == "unchanged") == 38, delta.toString)
  }

  test("cow vacuum: refcounted — shared buckets of a vacuumed generation survive while any retained manifest references them") {
    val path = tmp("graft-cs-cowvac")
    CorpusStore.writeCorpusCow(cowCorpus, path, "doc_id", cowBuckets)
    val touched1 = bucketsOf(Seq(5L, 17L))
    CorpusStore.deleteFromCorpusCow(Seq(5L, 17L).toDF("doc_id"), path)
    val touched2 = bucketsOf(Seq(23L))
    CorpusStore.deleteFromCorpusCow(Seq(23L).toDF("doc_id"), path)
    val keep1 = rows(CorpusStore.readCorpusSnapshotAt(spark, path, 1))
    val keep2 = rows(CorpusStore.readCorpusSnapshotAt(spark, path, 2))

    CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 2)
    assert(CorpusStore.currentGen(spark, path) == ((2, 1)))
    // gen 0's record is gone and reads of it fail fast
    assert(!new java.io.File(s"$path/_log/0").exists)
    val e = intercept[IllegalArgumentException] {
      CorpusStore.readCorpusSnapshotAt(spark, path, 0)
    }
    assert(e.getMessage.contains("not retained"))
    // refcount: gen 0's buckets still referenced by the retained
    // manifests SURVIVE; only the ones every retained manifest has
    // remapped (touched1 — rewritten by gen 1) are deleted
    val all = bucketsOf(1L to 40L)
    assert(bucketDirs(path, 0) == all -- touched1,
      s"vacuum broke sharing: ${bucketDirs(path, 0)} vs ${all -- touched1}")
    // and both retained generations still read bit-identically
    assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, 1)) == keep1)
    assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, 2)) == keep2)
    // idempotent re-run (crash-retry)
    CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 2)
    assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, 2)) == keep2)
    assert(touched2.nonEmpty) // fixture sanity: gen 2 rewrote something
  }

  test("cow health report: metadata-scale occupancy, orphan detection, vacuum clears both flags") {
    val path = tmp("graft-cs-cowh")
    CorpusStore.writeCorpusCow(cowCorpus, path, "doc_id", cowBuckets)
    val h0 = CorpusStore.cowHealthReport(spark, path)
    assert(h0.current == 0 && h0.generations == 1 &&
      h0.totalRows == 40L &&
      h0.populatedBuckets == bucketsOf(1L to 40L).size &&
      h0.numBuckets == cowBuckets &&
      h0.orphanDirs == 0 && !h0.needsVacuum, h0.toString)
    CorpusStore.deleteFromCorpusCow(Seq(5L, 17L).toDF("doc_id"), path)
    val h1 = CorpusStore.cowHealthReport(spark, path)
    assert(h1.current == 1 && h1.totalRows == 38L, h1.toString)
    // retention pressure flips needsVacuum past maxGenerations
    assert(CorpusStore.cowHealthReport(spark, path,
      maxGenerations = 1).needsVacuum)
    // a crashed/abandoned writer's orphan tree (well past CURRENT+1)
    // is detected with its bytes — while the CURRENT+1 slot is NOT
    // flagged (it may be a writer mid-materialization)
    val orphan = new java.io.File(s"$path/parts/gen=9/crashed/_cs_bucket=0")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("part-0.parquet"),
      Array.fill(64)(7.toByte))
    val inflight = new java.io.File(s"$path/parts/gen=2/inflight/_cs_bucket=0")
    inflight.mkdirs()
    val h2 = CorpusStore.cowHealthReport(spark, path)
    assert(h2.orphanDirs == 1 && h2.orphanBytes == 64L &&
      h2.needsVacuum, h2.toString)
    // vacuum removes the above-CURRENT+1 orphan (and the below-base
    // remapped buckets), leaving the in-flight slot alone
    CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 1)
    val h3 = CorpusStore.cowHealthReport(spark, path)
    assert(h3.orphanDirs == 0 && h3.base == 1, h3.toString)
    assert(!new java.io.File(s"$path/parts/gen=9").exists)
    assert(inflight.exists, "vacuum must not touch the CURRENT+1 slot")
    // the store still reads correctly after the cleanup
    assert(CorpusStore.readCorpusSnapshot(spark, path).count() == 38)
  }

  test("cow upsert refuses intra-batch duplicated ids (no deterministic survivor)") {
    // round-15 review finding: a keyed store must not commit two rows
    // under one id — the anti-join removes the OLD copy but both
    // change rows would survive, and dropping one arbitrarily would
    // make the committed content partition-order-dependent
    val path = tmp("graft-cs-cowdup")
    CorpusStore.writeCorpusCow(cowCorpus, path, "doc_id", cowBuckets)
    val e = intercept[IllegalArgumentException] {
      CorpusStore.upsertIntoCorpusCow(
        Seq((41L, "first body"), (41L, "second body"))
          .toDF("doc_id", "text"), path)
    }
    assert(e.getMessage.contains("duplicated id"), e.getMessage)
    // nothing committed
    assert(CorpusStore.currentGen(spark, path) == ((0, 0)))
    assert(CorpusStore.readCorpusSnapshot(spark, path).count() == 40)
  }

  test("cow: a takedown that would empty the store is refused before any commit") {
    // round-15 review finding: an empty CURRENT generation would make
    // every subsequent read fail — a full-corpus takedown is a store
    // drop, not a delete
    val path = tmp("graft-cs-cowempty")
    CorpusStore.writeCorpusCow(cowCorpus, path, "doc_id", cowBuckets)
    val e = intercept[IllegalArgumentException] {
      CorpusStore.deleteFromCorpusCow(
        cowCorpus.select("doc_id"), path)
    }
    assert(e.getMessage.contains("EMPTY generation"), e.getMessage)
    // nothing committed: CURRENT still points at gen 0 and it reads
    assert(CorpusStore.currentGen(spark, path) == ((0, 0)))
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(cowCorpus))
  }

  test("cow ingest loop: exactly-once generations per batch id; replay is a no-op; crash-replay adds only a redundant identical version") {
    val path = tmp("graft-cs-cowing")
    CorpusStore.writeCorpusCow(cowCorpus, path, "doc_id", cowBuckets)
    val b1 = Seq((101L, "streamed doc one"), (102L, "streamed doc two"))
      .toDF("doc_id", "text")
    CorpusStore.cowIngestBatch(path)(b1, 0L)
    assert(CorpusStore.currentGen(spark, path)._1 == 1)
    // replaying the SAME batch id is a no-op — no new generation
    CorpusStore.cowIngestBatch(path)(b1, 0L)
    assert(CorpusStore.currentGen(spark, path)._1 == 1)
    // a new batch id commits the next generation
    val b2 = Seq((103L, "streamed doc three")).toDF("doc_id", "text")
    CorpusStore.cowIngestBatch(path)(b2, 1L)
    assert(CorpusStore.currentGen(spark, path)._1 == 2)
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(cowCorpus.unionByName(b1).unionByName(b2)))
    // crash-replay simulation: the generation committed but the log
    // write was lost — re-offering the batch under a FRESH batch id
    // (what an unlogged restart does) upserts again: one extra
    // generation, identical content, never wrong data
    CorpusStore.cowIngestBatch(path)(b2, 2L)
    assert(CorpusStore.currentGen(spark, path)._1 == 3)
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(CorpusStore.readCorpusSnapshotAt(spark, path, 2)))
    // empty micro-batches commit nothing
    CorpusStore.cowIngestBatch(path)(b2.limit(0), 3L)
    assert(CorpusStore.currentGen(spark, path)._1 == 3)
  }

  test("cow: layout guards — a non-store refuses the cow writers; bucketing is pinned at init") {
    val cow = tmp("graft-cs-cowg")
    CorpusStore.writeCorpusCow(cowCorpus, cow, "doc_id", cowBuckets)
    val plain = tmp("graft-cs-plaing")
    v0.write.mode("overwrite").parquet(plain)
    assert(intercept[IllegalArgumentException] {
      CorpusStore.upsertIntoCorpusCow(v0, plain)
    }.getMessage.contains("not a copy-on-write"))
    assert(intercept[IllegalArgumentException] {
      CorpusStore.deleteFromCorpusCow(v0.select("doc_id"), plain)
    }.getMessage.contains("not a copy-on-write"))
    // the bucketing is the sharing contract — a rewrite must match it
    assert(intercept[IllegalArgumentException] {
      CorpusStore.writeCorpusCow(cowCorpus, cow, "doc_id", cowBuckets + 1)
    }.getMessage.contains("buckets by"))
    // a matching FULL rewrite commits with every bucket re-owned
    assert(CorpusStore.writeCorpusCow(cowCorpus, cow, "doc_id",
      cowBuckets) == 1)
    assert(bucketDirs(cow, 1) == bucketsOf(1L to 40L))
    assert(rows(CorpusStore.readCorpusSnapshot(spark, cow)) ==
      rows(cowCorpus))
  }

  test("every public entry point refuses a BM25 index and a plain parquet directory with the one guard message, mutating neither") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.operators.Retrieval
    // a BM25 index past its first append carries commit records 0 and
    // 1: a vacuum that took it for a store would prune record 0 and
    // drop generation 0's postings from every later probe
    val bm25 = tmp("graft-cs-guard-bm25")
    Retrieval.writeBm25Index(v0, "doc_id", "text", bm25, numBuckets = 4)
    Retrieval.appendToBm25Index(
      Seq((9L, "omega psi chi")).toDF("doc_id", "text"), "doc_id", "text",
      bm25)
    val plain = tmp("graft-cs-guard-plain")
    v0.write.mode("overwrite").parquet(plain)
    def files(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString)
        .toSeq.sorted
      finally walk.close()
    }
    def bm25Log: Seq[(String, Seq[Byte])] = files(bm25)
      .filter(_.startsWith("commits/")).map(f => f ->
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(bm25, f))
          .toSeq)
    val bm25Records = bm25Log
    assert(bm25Records.map(_._1) == Seq("commits/0", "commits/1"))
    val before = Map(bm25 -> files(bm25), plain -> files(plain))
    val entryPoints: Seq[(String, String => Any)] = Seq(
      "currentGen" -> (p => CorpusStore.currentGen(spark, p)),
      "readCorpusSnapshot" -> (p => CorpusStore.readCorpusSnapshot(spark, p)),
      "readCorpusSnapshotAt" ->
        (p => CorpusStore.readCorpusSnapshotAt(spark, p, 0)),
      "listCorpusSnapshots" -> (p => CorpusStore.listCorpusSnapshots(spark, p)),
      "snapshotDelta" ->
        (p => CorpusStore.snapshotDelta(spark, p, 0, 1, "doc_id", "text")),
      "vacuumCorpusSnapshots" ->
        (p => CorpusStore.vacuumCorpusSnapshots(spark, p, keepLast = 1)),
      "writeCorpusCow" -> (p => CorpusStore.writeCorpusCow(v0, p, "doc_id", 8)),
      "upsertIntoCorpusCow" -> (p => CorpusStore.upsertIntoCorpusCow(v0, p)),
      "deleteFromCorpusCow" ->
        (p => CorpusStore.deleteFromCorpusCow(v0.select("doc_id"), p)),
      "appendDeltaToCorpusCow" ->
        (p => CorpusStore.appendDeltaToCorpusCow(v0, p)),
      "appendTombstonesToCorpusCow" ->
        (p => CorpusStore.appendTombstonesToCorpusCow(v0.select("doc_id"), p)),
      "compactCorpusCow" -> (p => CorpusStore.compactCorpusCow(spark, p)),
      "rebucketCorpusCow" -> (p => CorpusStore.rebucketCorpusCow(spark, p, 4)),
      "evolveCorpusCowSchema" -> (p => CorpusStore.evolveCorpusCowSchema(
        spark, p, StructType(Seq(StructField("lang", StringType))))),
      "dropCorpusCowColumns" ->
        (p => CorpusStore.dropCorpusCowColumns(spark, p, Seq("text"))),
      "renameCorpusCowColumn" ->
        (p => CorpusStore.renameCorpusCowColumn(spark, p, "text", "body")),
      "cowIngestBatch" -> (p => CorpusStore.cowIngestBatch(p)(v0, 0L)),
      "corpusChangesSince" ->
        (p => CorpusStore.corpusChangesSince(spark, p, -1, 0)),
      "followCorpus" -> (p => CorpusStore.followCorpus(spark, p, "c")(_ => ())),
      "listCorpusFollowers" -> (p => CorpusStore.listCorpusFollowers(spark, p)),
      "unregisterFollower" ->
        (p => CorpusStore.unregisterFollower(spark, p, "c")),
      "corpusSchema" -> (p => CorpusStore.corpusSchema(spark, p)),
      "readCorpusStream" -> (p => CorpusStore.readCorpusStream(spark, p)),
      "cowHealthReport" -> (p => CorpusStore.cowHealthReport(spark, p)),
      "maintainCorpusCow" -> (p => CorpusStore.maintainCorpusCow(spark, p)))
    for ((name, call) <- entryPoints; dir <- Seq(bm25, plain)) {
      val e = intercept[IllegalArgumentException](call(dir))
      assert(e.getMessage == s"requirement failed: CorpusStore: $dir is " +
        "not a copy-on-write store", s"$name on $dir: ${e.getMessage}")
    }
    assert(bm25Log == bm25Records)
    assert(Map(bm25 -> files(bm25), plain -> files(plain)) == before)
  }
}

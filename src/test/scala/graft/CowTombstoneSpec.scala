package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Takedown}
import graft.sources.CorpusStore

/** Tombstone (merge-on-read) deletes for the COW corpus store
  * (round 16 — the delete mirror of the delta-ingest fix): the named
  * bars, each pinned —
  *
  *  - a k-id takedown writes O(k ids) bytes: the generation's tree
  *    holds EXACTLY the doomed ids (id column only) and no `parts/`
  *    rewrite happens;
  *  - reads are identical to the equivalent eager delete, time travel
  *    included, and a LATER upsert resurrects a tombstoned id;
  *  - live-count bookkeeping stays exact across kill/resurrect/rekill
  *    chains (the round-16 review fix: present-in-some-tree is not
  *    live once tombstones exist);
  *  - only present-AND-live ids write markers — absent and
  *    already-dead ids are no-ops that commit nothing;
  *  - compaction folds tombstone chains away, drops buckets emptied
  *    by tombstones, and every retained generation reads
  *    bit-identically across it;
  *  - vacuum refcounts cover tombstone trees; after compaction +
  *    vacuum the tombstoned content's bytes are gone from disk;
  *  - the change feed never surfaces a deletion: a tombstone-only
  *    range emits zero rows;
  *  - the empty-store refusal holds: tombstoning the last live rows
  *    is refused before any commit;
  *  - [[Takedown.takedownEverywhere]] drives the corpus leg through
  *    tombstones on request with the same report and ordering.
  */
class CowTombstoneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val nBuckets = 8

  private def corpus = (1 to 40)
    .map(i => (i.toLong, s"document number $i body"))
    .toDF("doc_id", "text")

  private def bucketsOf(ids: Seq[Long], n: Int = nBuckets): Set[Int] =
    ids.toDF("doc_id")
      .select(pmod(xxhash64(col("doc_id")), lit(n.toLong)).cast("int"))
      .as[Int].collect().toSet

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(_._1).toSeq

  test("tombstones write O(k ids) bytes — id-only trees, no bucket rewrite — and reads equal the eager delete, time travel included") {
    val path = tmp("graft-tomb")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    assert(CorpusStore.appendTombstonesToCorpusCow(
      Seq(5L, 17L).toDF("doc_id"), path) == 1)
    // THE pin: the physical write is the id set itself — 2 id-only
    // rows under deltas/, and NO parts/ rewrite at all
    val tree = spark.read.parquet(s"$path/deltas/gen=1")
    assert(tree.count() == 2)
    assert(tree.drop("_cs_bucket").columns.toSeq == Seq("doc_id"))
    assert(!new java.io.File(s"$path/parts/gen=1").exists)
    // the read is the delete-equivalent row set; live counts exact
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(corpus.where(!col("doc_id").isin(5L, 17L))))
    assert(CorpusStore.listCorpusSnapshots(spark, path)
      .as[(Int, Long)].collect().toSeq == Seq((0, 40L), (1, 38L)))
    // time travel: gen 0 still has both rows
    assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, 0)) ==
      rows(corpus))
  }

  test("resurrection chain keeps live counts exact: kill, re-upsert, re-kill — and dead/absent ids are commit-free no-ops") {
    val path = tmp("graft-tombres")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    CorpusStore.appendTombstonesToCorpusCow(
      Seq(5L).toDF("doc_id"), path)                              // gen 1
    // a LATER delta upsert resurrects the id — and the live count
    // must RISE again (the review fix: id 5 is present in gen 0's
    // tree, but it is dead, so this is an insert, not a replace)
    CorpusStore.appendDeltaToCorpusCow(
      Seq((5L, "five reborn")).toDF("doc_id", "text"), path)     // gen 2
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path))
      .find(_._1 == 5L).map(_._2).contains("five reborn"))
    // re-kill the resurrected id: down again
    CorpusStore.appendTombstonesToCorpusCow(
      Seq(5L).toDF("doc_id"), path)                              // gen 3
    assert(CorpusStore.listCorpusSnapshots(spark, path)
      .as[(Int, Long)].collect().toSeq ==
      Seq((0, 40L), (1, 39L), (2, 40L), (3, 39L)))
    // already-dead and absent ids commit NOTHING (no redundant
    // generation, no marker bloat from bulk mostly-absent feeds)
    assert(CorpusStore.appendTombstonesToCorpusCow(
      Seq(5L, 999L).toDF("doc_id"), path) == 3)
    assert(CorpusStore.currentGen(spark, path) == ((3, 0)))
    // a mixed batch tombstones ONLY its live members
    assert(CorpusStore.appendTombstonesToCorpusCow(
      Seq(5L, 999L, 17L).toDF("doc_id"), path) == 4)
    assert(spark.read.parquet(s"$path/deltas/gen=4").count() == 1)
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(corpus.where(!col("doc_id").isin(5L, 17L))))
  }

  test("compaction folds tombstone chains, drops buckets emptied by tombstones, and retained generations read bit-identically") {
    val path = tmp("graft-tombc")
    // bucket the victim ids so ONE bucket empties completely: find
    // the bucket of id 1 and kill every id in it
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    val b1 = bucketsOf(Seq(1L)).head
    val sameBucket = (1L to 40L).filter(i => bucketsOf(Seq(i)).head == b1)
    CorpusStore.appendTombstonesToCorpusCow(
      sameBucket.toDF("doc_id"), path)                           // gen 1
    CorpusStore.appendTombstonesToCorpusCow(
      Seq(17L).toDF("doc_id"), path)                             // gen 2
    val before = (0 to 2).map(g =>
      g -> rows(CorpusStore.readCorpusSnapshotAt(spark, path, g))).toMap
    assert(CorpusStore.compactCorpusCow(spark, path) == 3)
    // the emptied bucket DROPPED from the manifest — the compacted
    // generation wrote no tree for it
    val dirs = new java.io.File(s"$path/parts/gen=3")
      .listFiles.filter(_.isDirectory).map(_.getName)
      .collect { case n if n.startsWith("_cs_bucket=") =>
        n.stripPrefix("_cs_bucket=").toInt
      }.toSet
    assert(!dirs.contains(b1), s"emptied bucket $b1 recompacted: $dirs")
    // bit-identical across the fold, all retained generations
    (0 to 2).foreach { g =>
      assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, g)) ==
        before(g), s"gen $g changed across compaction")
    }
    assert(rows(CorpusStore.readCorpusSnapshotAt(spark, path, 3)) ==
      before(2))
    // pressure cleared
    val h = CorpusStore.cowHealthReport(spark, path)
    assert(h.tombstoneEntries == 0 && h.tombstonedRows == 0 &&
      h.maxDeltaChain == 0, h.toString)
  }

  test("health surfaces tombstone pressure; occupancy counts only live buckets; vacuum erases folded tombstone bytes") {
    val path = tmp("graft-tombh")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    val b1 = bucketsOf(Seq(1L)).head
    val sameBucket = (1L to 40L).filter(i => bucketsOf(Seq(i)).head == b1)
    CorpusStore.appendTombstonesToCorpusCow(
      sameBucket.toDF("doc_id"), path)
    CorpusStore.appendTombstonesToCorpusCow(Seq(17L).toDF("doc_id"), path)
    val h = CorpusStore.cowHealthReport(spark, path)
    assert(h.tombstoneEntries == 2 &&
      h.tombstonedRows == sameBucket.size + 1, h.toString)
    assert(h.bucketsWithDeltas == 2 && h.maxDeltaChain == 1, h.toString)
    // the emptied bucket is not "populated"
    assert(h.populatedBuckets == bucketsOf(1L to 40L).size - 1,
      h.toString)
    assert(h.totalRows == 40L - sameBucket.size - 1, h.toString)
    // the chain threshold drives needsCompaction exactly like upsert
    // deltas
    assert(CorpusStore.cowHealthReport(spark, path,
      compactAfterDeltas = 1).needsCompaction)
    // compact + vacuum: the tombstoned content's BYTES leave disk —
    // the deferred-physical-erasure contract's back half
    CorpusStore.compactCorpusCow(spark, path)
    CorpusStore.vacuumCorpusSnapshots(spark, path, keepLast = 1)
    assert(!new java.io.File(s"$path/deltas/gen=1").exists)
    assert(!new java.io.File(s"$path/deltas/gen=2").exists)
    // gen 0's trees survive only where the compaction still
    // references them; the emptied bucket's ORIGINAL tree is
    // unreferenced and gone — no live version can read id 1's bytes
    assert(!new java.io.File(
      s"$path/parts/gen=0/_cs_bucket=$b1").exists)
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(corpus.where(!col("doc_id").isin(17L +: sameBucket: _*))))
  }

  test("change feed: a tombstone-only range emits zero rows; mixed ranges emit the upserts and never the deletions") {
    val path = tmp("graft-tombch")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    CorpusStore.appendTombstonesToCorpusCow(
      Seq(5L, 17L).toDF("doc_id"), path)                         // gen 1
    val only = CorpusStore.corpusChangesSince(spark, path, 0, 1)
    assert(only.count() == 0)
    assert(only.columns.toSeq == corpus.columns.toSeq)
    CorpusStore.appendDeltaToCorpusCow(
      Seq((41L, "fortyone"), (5L, "five reborn"))
        .toDF("doc_id", "text"), path)                           // gen 2
    // the mixed range emits the upserts (the resurrection included)
    // and neither deletion
    assert(rows(CorpusStore.corpusChangesSince(spark, path, 0, 2)) ==
      Seq((5L, "five reborn"), (41L, "fortyone")))
    // bootstrap excludes dead ids
    assert(!rows(CorpusStore.corpusChangesSince(spark, path, -1, 2))
      .exists(_._1 == 17L))
  }

  test("fail-fast: tombstoning the last live rows is refused; type-drifted change frames are refused before any commit") {
    val path = tmp("graft-tombf")
    val tiny = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    CorpusStore.writeCorpusCow(tiny, path, "doc_id", nBuckets)
    val e = intercept[IllegalArgumentException] {
      CorpusStore.appendTombstonesToCorpusCow(
        Seq(1L, 2L).toDF("doc_id"), path)
    }
    assert(e.getMessage.contains("EMPTY generation"), e.getMessage)
    assert(CorpusStore.currentGen(spark, path) == ((0, 0)))
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) == rows(tiny))
    // the round-16 review pin: same NAMES, drifted TYPE — an int id
    // xxhash64-buckets differently from the stored long, so a
    // name-set-only check would commit rows into the WRONG buckets;
    // the schema contract now covers types
    val e2 = intercept[IllegalArgumentException] {
      CorpusStore.appendDeltaToCorpusCow(
        Seq((9, "nine")).toDF("doc_id", "text"), path)
    }
    assert(e2.getMessage.contains("types drift"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      CorpusStore.upsertIntoCorpusCow(
        Seq((9, "nine")).toDF("doc_id", "text"), path)
    }
    assert(e3.getMessage.contains("types drift"), e3.getMessage)
    assert(CorpusStore.currentGen(spark, path) == ((0, 0)))
  }

  test("takedownEverywhere drives the corpus leg through tombstones on request: probe-invisible, corpus-gone, same report") {
    val path = tmp("graft-tombtd")
    val lsh = tmp("graft-tombtd-lsh")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    Dedup.writeLshIndex(corpus, "doc_id", "text", lsh)
    val report = Takedown.takedownEverywhere(spark,
      Seq(5L, 999L).toDF("doc_id"), "doc_id", "text",
      Takedown.TakedownTargets(corpusPath = Some(path),
        lshPath = Some(lsh)),
      corpusAsTombstones = true)
    assert(report.nRequested == 2 && report.nInCorpus == 1 &&
      report.corpusGen.contains(1), report.toString)
    // the corpus leg is a tombstone generation (no parts/ rewrite)
    assert(!new java.io.File(s"$path/parts/gen=1").exists)
    assert(new java.io.File(s"$path/deltas/gen=1").exists)
    assert(rows(CorpusStore.readCorpusSnapshot(spark, path)) ==
      rows(corpus.where(col("doc_id") =!= 5L)))
    // probe-invisible in the index
    val hits =
      try Dedup.dedupAgainstLshIndex(
        Seq((999001L, "document number 5 body")).toDF("doc_id", "text"),
        "doc_id", "text", lsh, threshold = 0.5).count()
      finally Dedup.unpersistAll()
    assert(hits == 0L, "tombstoned doc still serves from the LSH index")
  }

  test("living-corpus circle through tombstones: takedown, clean recrawl re-admits, same-id recrawl resurrects") {
    val store = tmp("graft-tombcirc")
    val ledger = tmp("graft-tombcirc-led")
    CorpusStore.writeCorpusCow(corpus, store, "doc_id", nBuckets)
    Dedup.writeExactLedger(corpus, "text", ledger)
    def ingest(rows: Seq[(Long, String)], id: Long): Unit = {
      graft.operators.Ingest.corpusIngestBatch(store, ledger)(
        rows.toDF("doc_id", "text"), id)
      Dedup.unpersistAll()
    }
    // tombstone takedown clears corpus AND ledger
    Takedown.takedownEverywhere(spark, Seq(5L).toDF("doc_id"),
      "doc_id", "text",
      Takedown.TakedownTargets(corpusPath = Some(store),
        ledgerPath = Some(ledger)),
      corpusAsTombstones = true)
    Dedup.unpersistAll()
    assert(!rows(CorpusStore.readCorpusSnapshot(spark, store))
      .exists(_._1 == 5L))
    // a clean recrawl of the SAME content re-admits under a fresh id
    // (the ledger entry went with the takedown)
    ingest(Seq((50L, "document number 5 body")), 0L)
    assert(rows(CorpusStore.readCorpusSnapshot(spark, store))
      .exists(_._1 == 50L), "taken-down content must re-admit")
    // and a recrawl under the ORIGINAL id resurrects it through the
    // tombstone (the newest delta shadows the dead marker)
    Takedown.takedownEverywhere(spark, Seq(50L).toDF("doc_id"),
      "doc_id", "text",
      Takedown.TakedownTargets(corpusPath = Some(store),
        ledgerPath = Some(ledger)),
      corpusAsTombstones = true)
    Dedup.unpersistAll()
    ingest(Seq((5L, "document number 5 body")), 1L)
    val finalRows = rows(CorpusStore.readCorpusSnapshot(spark, store))
    assert(finalRows.exists(_._1 == 5L), "same-id recrawl must resurrect")
    assert(!finalRows.exists(_._1 == 50L))
    // live counts stayed exact through the circle
    assert(CorpusStore.cowHealthReport(spark, store).totalRows ==
      finalRows.size.toLong)
  }

  test("plan pins: a tombstone-only change range scans no base trees; a tombstone-carrying CURRENT pays exactly the merge window") {
    val path = tmp("graft-tombplan")
    CorpusStore.writeCorpusCow(corpus, path, "doc_id", nBuckets)
    CorpusStore.appendTombstonesToCorpusCow(
      Seq(5L, 17L).toDF("doc_id"), path)
    // the feed's O(changes) contract extends to tombstone ranges:
    // resolving "what changed" must not re-read the corpus even when
    // the change is a deletion that emits nothing. `_cs_dead` is a
    // partition column of the read, not a literal, so the dead-marker
    // filter no longer constant-folds the scan away: the plan scans
    // the tombstone trees (k ids) and every file it scans must sit
    // under deltas/. The scans' own file lists are checked, not the
    // plan string, whose Location is truncated at
    // spark.sql.maxMetadataStringLength and can hide a base-tree path
    val feed = CorpusStore.corpusChangesSince(spark, path, 0, 1)
    val scanned = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}
      .collect(feed.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    assert(scanned.nonEmpty, "tombstone-only change range scans no trees")
    assert(scanned.forall(_.contains("/deltas/gen=1/")),
      s"tombstone-only change range reads outside its tombstone trees: " +
        scanned.filterNot(_.contains("/deltas/gen=1/")).mkString(", "))
    assert(feed.count() == 0)
    // CURRENT merges (window present) — untombstoned buckets keep a
    // plain scan leg alongside
    val cur = CorpusStore.readCorpusSnapshot(spark, path)
      .queryExecution.executedPlan.toString
    assert(cur.contains("Window"),
      "tombstone-carrying read lost its last-writer-wins merge")
    // the layout's payoff: an id point read pushes its predicate into
    // the parquet scans on BOTH paths — the plain leg directly, and
    // the merged leg THROUGH the LWW window (the id is the window's
    // partition key, so Catalyst pushes the filter below it) — where
    // the id-sorted row groups and the base trees' blooms prune.
    // A regression that re-keyed the window or filtered above it
    // would silently turn every point read into a bucket scan.
    val point = CorpusStore.readCorpusSnapshot(spark, path)
      .where(col("doc_id") === 23L)
      .queryExecution.executedPlan.toString
    val pushed = point.linesIterator
      .filter(_.contains("PushedFilters")).toSeq
    assert(pushed.nonEmpty && pushed.forall(_.contains("doc_id")),
      s"point read lost its scan pushdown:\n$point")
  }
}

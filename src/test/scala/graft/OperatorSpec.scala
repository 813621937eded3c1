package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product matches manual computation and HOF equivalent") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(VectorOps.dot($"a", $"b")).as[Double].collect()
    assert(got.toSeq == Seq(32.0, 0.0))
    // same answer as the interpreted zip_with + aggregate composition
    val hof = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)).as[Double].collect()
    assert(got.toSeq == hof.toSeq)
  }

  test("cosine is 1 for parallel vectors, 0 for zero vectors") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f))
    ).toDF("a", "b")
    val got = df.select(VectorOps.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(got(1) == 0.0)
  }

  test("dot_product survives whole-stage codegen (no fallback errors)") {
    val df = spark.range(1000).select(
      $"id",
      transform(sequence(lit(0), lit(63)), i => (i + $"id").cast("double")).as("v"))
    val out = df.select(VectorOps.dot($"v", $"v").as("d"))
      .agg(sum("d")).as[Double].head()
    assert(out > 0)
  }

  test("several dot_products in one generated function compile (freshName'd accumulator)") {
    // non-nullable children make nullSafeCodeGen emit the kernel at
    // method scope without braces — a shared local name would be a
    // duplicate declaration, Janino would fail, and the stage would
    // silently drop to the interpreted path. fallback=false turns that
    // silent regression into a test failure.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val a = typedlit(Seq(1.0f, 2.0f))
      val b = typedlit(Seq(3.0f, 4.0f))
      val row = spark.range(1).select(
        VectorOps.dot(a, a).as("aa"),
        VectorOps.dot(b, b).as("bb"),
        VectorOps.dot(a, b).as("ab"),
        VectorOps.cosine(a, b).as("cos")).head()
      assert(row.getDouble(0) == 5.0)
      assert(row.getDouble(1) == 25.0)
      assert(row.getDouble(2) == 11.0)
      assert(math.abs(row.getDouble(3) - 11.0 / math.sqrt(5.0 * 25.0)) < 1e-12)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}

class VectorOpsMismatchSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product and hyperplane_sigs fail fast on vector length mismatch") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    def rootMessages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val e1 = intercept[Throwable](
      df.select(graft.functions.VectorOps.dot($"a", $"b")).collect())
    assert(rootMessages(e1).exists(_.contains("length mismatch")),
      rootMessages(e1).mkString(" | "))
    val e2 = intercept[Throwable](
      df.select(graft.functions.VectorOps.hyperplaneSigs(
        $"a", bands = 2, bitsPerBand = 4, dim = 8, seed = 42L)).collect())
    assert(rootMessages(e2).exists(_.contains("!= dim")),
      rootMessages(e2).mkString(" | "))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents").cache()

  /** Brute-force ground truth pairs at a word-3-shingle threshold —
    * only feasible at test scale, which is the point of LSH.
    */
  private lazy val truePairs: Set[(Long, Long)] = {
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val sets = rows.map { case (i, t) => (i, sh(t)) }
    (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      jac = a.intersect(b).size.toDouble / a.union(b).size
      if jac >= 0.5
    } yield (i, j)).toSet
  }

  test("codegen minhash kernel equals the composed-builtin oracle") {
    val base = docs.select($"doc_id", Dedup.shingleHashes($"text", 3).as("sh"))
    val a = base.select($"doc_id",
      graft.functions.SketchOps.minhashSig($"sh", 32).as("sig"))
    val b = base.select($"doc_id", Dedup.minhashSignatureHof($"sh", 32).as("sig"))
    assertSameRows(a, b)
  }

  test("codegen simhash kernel equals the composed-builtin oracle") {
    val base = docs.select($"doc_id", Dedup.simhashFeatures($"text").as("f"))
    val a = base.select($"doc_id", graft.functions.SketchOps.simhash64($"f"))
    val b = base.select($"doc_id", Dedup.simhashFromFeaturesHof($"f"))
    assertSameRows(a, b)
  }

  test("exact dedup partitions the corpus") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.agg(sum("n_copies")).head().getLong(0) == docs.count())
  }

  test("minhash LSH finds exactly the planted near-duplicates") {
    val got = Dedup.minhashDuplicates(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truePairs.nonEmpty, "test data should contain planted dups")
    assert(got == truePairs,
      s"missed=${truePairs -- got} extra=${got -- truePairs}")
  }

  test("simhash finds the planted near-duplicates within hamming 10") {
    val got = Dedup.simhashDuplicates(docs, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((truePairs -- got).isEmpty,
      s"simhash missed planted pairs: ${truePairs -- got}")
  }

  test("simhash pigeonhole join returns no pair beyond the radius") {
    val got = Dedup.simhashDuplicates(docs, "doc_id", "text", maxHamming = 10)
      .select("hamming").as[Int].collect()
    assert(got.forall(_ <= 10))
  }

  test("radius-0 pigeonhole join matches exact sketches through a keyed join, not a cross join") {
    // 1L << 64 wraps to 1 in JVM shift semantics, so the single
    // 64-bit chunk's mask must be -1L — the wrapped mask made every
    // chunk value 0 (a constant join key, i.e. a silent cross join
    // whose output happened to survive the hamming filter); this
    // pins the round-14 fix on results AND plan shape
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact copy of 1
      (3L, "completely different words in this document here now"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashDuplicates(df, "doc_id", "text", maxHamming = 0)
    val pairs = got.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
    val phys = got.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"), phys)
  }

  test("char-ngram jaccard verify keeps only true near-dups") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
    val got = Dedup.charJaccardVerify(cands, docs, "doc_id", "text",
        n = 3, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == truePairs,
      s"missed=${truePairs -- got} extra=${got -- truePairs}")
  }

  test("crossSourceDupMatrix equals the brute-force source-pair rollup") {
    val rows = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String): Set[String] =
      if (t.length >= 3) t.sliding(3).toSet else Set(t)
    val want = (for {
      (i, ta, sa) <- rows; (j, tb, sb) <- rows if i < j
      ga = grams(ta); gb = grams(tb)
      jac = ga.intersect(gb).size.toDouble / ga.union(gb).size
      if jac >= 0.8
    } yield (Seq(sa, sb).min, Seq(sa, sb).max))
      .groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
      .toSet
    assert(want.nonEmpty, "corpus should contain near-dup source pairs")
    val got = Dedup.crossSourceDupMatrix(docs, "doc_id", "text", "source")
      .as[(String, String, Long)].collect().toSet
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
  }

  test("decontamination finds exactly the cross-split near-dup pairs") {
    val train = docs.where($"doc_id" % 10 =!= 0)
    val eval = docs.where($"doc_id" % 10 === 0)
    val got = Dedup.decontaminate(train, eval, "doc_id", "text")
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    val want = truePairs.flatMap { case (i, j) => Seq((i, j), (j, i)) }
      .filter { case (l, r) => l % 10 != 0 && r % 10 == 0 }
    assert(want.nonEmpty, "split should cut through some planted dup groups")
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
  }

  test("bucket-size cap drops saturated buckets but keeps selective collisions") {
    // cap = 1: every bucket with a collision is "saturated", so no
    // candidates survive — the guard provably gates the join
    val none = Dedup.minhashCandidates(docs, "doc_id", "text",
      maxBucketSize = 1).count()
    assert(none == 0L, s"cap=1 should kill all candidates, got $none")
    // a generous cap changes nothing: planted near-dup groups are tiny,
    // so their buckets are far below the cap
    val uncapped = Dedup.minhashDuplicates(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 8 is the cap the oracle-checked d02 query runs with (largest
    // observed bucket on the test corpora is 4) — pin that it is
    // lossless here so the driver-oracle comparison stays valid
    for (cap <- Seq(8, 64)) {
      val capped = Dedup.minhashDuplicates(docs, "doc_id", "text",
          maxBucketSize = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(capped == uncapped,
        s"cap=$cap altered results: ${capped.diff(uncapped)} ${uncapped.diff(capped)}")
    }
  }

  test("cross-corpus bucket cap drops boilerplate floods but keeps true pairs") {
    // a boilerplate doc repeated on BOTH sides makes one (band, bucket)
    // key produce |train|·|eval| signal-free pairs; the cap must kill
    // exactly those while the planted near-dup (selective buckets)
    // survives. Also: on the clean corpus the cap must change nothing.
    val boiler = "standard legal disclaimer header all rights reserved do not distribute this document"
    val planted = "the migration runbook covers spark shuffle tuning for large clusters in production"
    val plantedNear = planted + " today" // jaccard 11/12 — a near-dup
    val train = (
      (1 to 30).map(i => (i.toLong, boiler)) :+ (100L, planted)
    ).toDF("doc_id", "text")
    val eval = (
      (1 to 10).map(i => (1000L + i, boiler)) :+ (1100L, plantedNear)
    ).toDF("doc_id", "text")
    val uncapped = Dedup.decontaminate(train, eval, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 16, threshold = 0.5)
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 30 * 10 + 1, s"expected the flood, got ${uncapped.size}")
    val capped = Dedup.decontaminate(train, eval, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 16, threshold = 0.5,
        maxBucketSize = 8)
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 1100L)),
      s"cap should keep only the planted pair, got $capped")
    // lossless on the real corpus: largest per-side bucket is 4 there
    val trainReal = docs.where($"doc_id" % 10 =!= 0)
    val evalReal = docs.where($"doc_id" % 10 === 0)
    val a = Dedup.decontaminate(trainReal, evalReal, "doc_id", "text")
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    val b = Dedup.decontaminate(trainReal, evalReal, "doc_id", "text",
        maxBucketSize = 8)
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    assert(a == b, s"cap=8 altered real-corpus results: ${a.diff(b)} ${b.diff(a)}")
  }

  test("lshCandidateEval: recall 1.0 at the oracle banding; a starved banding loses recall") {
    val r = Dedup.lshCandidateEval(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 16, threshold = 0.5)
      .as[(Long, Long, Long, Double, Double)].head()
    val (nTrue, nCand, nHit, prec, rec) = r
    assert(nTrue == truePairs.size.toLong,
      s"truth side must equal the driver-computed pair set: $r")
    assert(rec == 1.0, s"separation holds on this corpus: $r")
    assert(nHit <= nCand && nHit <= nTrue, r.toString)
    assert(prec == nHit.toDouble / nCand, r.toString)
    // one band of all 128 hashes only collides near-exact docs — the
    // planted pairs are NEAR-dups, so recall must drop, which is
    // exactly the tuning signal this report exists to surface
    val starved = Dedup.lshCandidateEval(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 1, threshold = 0.5)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(starved._5 < 1.0, s"1-band banding should miss near-dups: $starved")
    Dedup.unpersistAll()
  }

  test("dupMatrixAgainstLshIndex equals the rollup of the in-memory probe pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshm").toString
    val corpus = docs.where($"doc_id" % 10 =!= 0)
    val batch = docs.where($"doc_id" % 10 === 0)
    Dedup.writeLshIndex(corpus, "doc_id", "text", dir)
    val got = Dedup.dupMatrixAgainstLshIndex(batch, "doc_id", "text",
        "source", dir, corpus.select("doc_id", "source"))
      .as[(String, String, Long)].collect().toSet
    // ground truth: the in-memory cross-corpus pairs joined to sources
    // driver-side and rolled up the same way
    val srcOf = docs.select("doc_id", "source").as[(Long, String)]
      .collect().toMap
    val want = Dedup.decontaminate(corpus, batch, "doc_id", "text")
      .select("id_left", "id_right").as[(Long, Long)].collect()
      .map { case (l, r) =>
        val (a, b) = (srcOf(l), srcOf(r))
        (Seq(a, b).min, Seq(a, b).max)
      }
      .groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
      .toSet
    assert(want.nonEmpty, "cross-split planted dups should span sources")
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
    // catalog-gap visibility (round 9): an indexed id missing from
    // the catalog surfaces under the 'unknown' sentinel instead of
    // silently leaving the matrix — pair mass is conserved
    val gappy = Dedup.dupMatrixAgainstLshIndex(batch, "doc_id", "text",
        "source", dir, corpus.select("doc_id", "source").limit(0))
      .as[(String, String, Long)].collect().toSet
    assert(gappy.forall(t => t._1 == "unknown" || t._2 == "unknown"),
      s"empty catalog must route every pair to the sentinel: $gappy")
    assert(gappy.toSeq.map(_._3).sum == want.toSeq.map(_._3).sum,
      "sentinel rollup must conserve the probe's pair count")
  }

  test("dupMatrixAgainstLshIndex over an append-grown index equals the one-shot build") {
    // NB: growth here is appendToLshIndex (plain append). The
    // lshIngestBatch loop would NOT reproduce a one-shot build — it
    // ADMITS (drops near-dups against the existing index before
    // appending), so an ingest-grown index deliberately holds fewer
    // docs; that admission behavior has its own spec.
    val grown = java.nio.file.Files.createTempDirectory("graft-lshg").toString
    val oneShot = java.nio.file.Files.createTempDirectory("graft-lsho").toString
    val corpus = docs.where($"doc_id" % 10 =!= 0)
    val probe = docs.where($"doc_id" % 10 === 0)
    val half = corpus.where($"doc_id" % 20 < 10)
    val rest = corpus.where($"doc_id" % 20 >= 10)
    Dedup.writeLshIndex(half, "doc_id", "text", grown)
    Dedup.appendToLshIndex(rest, "doc_id", "text", grown)
    Dedup.writeLshIndex(corpus, "doc_id", "text", oneShot)
    val srcs = corpus.select("doc_id", "source")
    val a = Dedup.dupMatrixAgainstLshIndex(probe, "doc_id", "text",
      "source", grown, srcs)
    val b = Dedup.dupMatrixAgainstLshIndex(probe, "doc_id", "text",
      "source", oneShot, srcs)
    assert(a.count() > 0, "probe should find cross-split dup pairs")
    assertSameRows(a, b)
  }

  test("standalone cross-corpus candidates agree with the fused decontaminate path") {
    val train = docs.where($"doc_id" % 10 =!= 0)
    val eval = docs.where($"doc_id" % 10 === 0)
    val cands = Dedup.minhashCandidatesAcross(train, eval, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cands.nonEmpty, "banding should collide on the planted dups")
    // the fused path runs the identical banding, so its verified pairs
    // must be exactly the candidates that survive the Jaccard threshold
    val verified = Dedup.decontaminate(train, eval, "doc_id", "text")
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(cands),
      s"verified pairs missing from candidates: ${verified -- cands}")
  }

  test("persisted lsh index: probe equals the in-memory decontaminate path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    val corpus = docs.where($"doc_id" % 10 =!= 0)
    val batch = docs.where($"doc_id" % 10 === 0)
    Dedup.writeLshIndex(corpus, "doc_id", "text", dir)
    val probe = Dedup.dedupAgainstLshIndex(batch, "doc_id", "text", dir)
    // identical banding parameters (read back from the stored meta)
    // and identical verify ⇒ the probe must reproduce decontaminate
    // over the same two corpora exactly, jaccard values included
    val mem = Dedup.decontaminate(corpus, batch, "doc_id", "text")
    assertSameRows(probe, mem)
    assert(probe.count() > 0, "planted cross-split dups should match")
    // round 9: the verify's indexed side point-reads the stored hash
    // sets — the batch-bounded candidate ids reach the hashes scan as
    // a pushed In filter (with the sorted/bloom layout that is
    // ≤ |candidate ids| row-group reads, never an index-sized scan)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("In(id")),
      s"candidate ids not pushed into the hashes scan:\n$plan")
    // round 11: the candidate join's other index-sized read — the
    // (band, bucket) scan — gets the same treatment: the batch's
    // bounded bucket set reaches the buckets scan as a pushed In
    // filter (with writeSortedBuckets' range-sorted bloom layout,
    // row-group-pruned instead of index-sized — the 100× probe's
    // measured linear term)
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("In(bucket")),
      s"batch buckets not pushed into the buckets scan:\n$plan")
    Dedup.unpersistAll()
  }

  test("lsh index append: probe catches dups against build AND appended docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-app").toString
    val first = docs.where($"doc_id" % 3 === 0)
    val second = docs.where($"doc_id" % 3 === 1)
    val batch = docs.where($"doc_id" % 3 === 2)
    Dedup.writeLshIndex(first, "doc_id", "text", dir)
    Dedup.appendToLshIndex(second, "doc_id", "text", dir)
    val probe = Dedup.dedupAgainstLshIndex(batch, "doc_id", "text", dir)
    val mem = Dedup.decontaminate(first.union(second), batch, "doc_id", "text")
    assertSameRows(probe, mem)
    // the probe must match docs from BOTH the original build and the
    // append — otherwise the append only grew one of the two trees
    val leftIds = probe.select("id_left").as[Long].collect().toSet
    assert(leftIds.exists(_ % 3 == 0) && leftIds.exists(_ % 3 == 1),
      s"probe matched only one index generation: $leftIds")
  }

  test("lsh index compaction: probe-identical, consolidates append fragments, collapses replay duplicates") {
    val src = java.nio.file.Files.createTempDirectory("graft-lsh-csrc").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-lsh-cdst").toString
    val first = docs.where($"doc_id" % 3 === 0)
    val second = docs.where($"doc_id" % 3 === 1)
    val batch = docs.where($"doc_id" % 3 === 2)
    Dedup.writeLshIndex(first, "doc_id", "text", src)
    Dedup.appendToLshIndex(second, "doc_id", "text", src)
    // crash-window replay: the same append lands twice — byte-identical
    // duplicate rows the probes tolerate but every scan pays for
    Dedup.appendToLshIndex(second, "doc_id", "text", src)
    val before = Dedup.dedupAgainstLshIndex(batch, "doc_id", "text", src)
      .localCheckpoint() // sever from src so later reads can't shift
    Dedup.unpersistAll()
    Dedup.compactLshIndex(spark, src, dst)
    // 1) probe-identical: same pairs, same jaccard values
    assertSameRows(Dedup.dedupAgainstLshIndex(batch, "doc_id", "text", dst),
      before)
    Dedup.unpersistAll()
    // 2) the duplicate hash rows are gone: one row per indexed id
    val nSrc = spark.read.parquet(s"$src/hashes").count()
    val nDst = spark.read.parquet(s"$dst/hashes").count()
    val nIds = spark.read.parquet(s"$src/hashes").select("id")
      .distinct().count()
    assert(nSrc > nIds, "test setup: replay should have duplicated rows")
    assert(nDst == nIds, s"compaction kept duplicates: $nDst != $nIds")
    // 3) append fragments consolidate: fewer data files in both trees
    def dataFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    assert(dataFiles(s"$dst/hashes") < dataFiles(s"$src/hashes"),
      "compaction did not consolidate the hashes tree")
    assert(dataFiles(s"$dst/buckets") < dataFiles(s"$src/buckets"),
      "compaction did not consolidate the buckets tree")
    // 4) meta carried: a probe of dst needs no parameters from src
    assert(spark.read.parquet(s"$dst/meta").head() ==
      spark.read.parquet(s"$src/meta").head())
  }

  test("lsh index takedown: deleted docs probe-invisible immediately, physically gone + tombstone-free after compaction, replay cannot resurrect") {
    val src = java.nio.file.Files.createTempDirectory("graft-lsh-td1").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-lsh-td2").toString
    // an 8-word family: d3 edits the LAST word of d2 (jaccard 5/7),
    // twin edits the FIRST (jaccard vs d2 = 5/7, vs d3 = 4/8 = 0.5 —
    // below the 0.6 probe threshold, so twin matches ONLY d2)
    val d1 = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val d2 = "red orange yellow green blue indigo violet ultraviolet"
    val d3 = "red orange yellow green blue indigo violet infrared"
    val twin = "crimson orange yellow green blue indigo violet ultraviolet"
    // 32 bands of 4 hashes: collision probability ≈ 1 at jaccard
    // 0.714, so the 0.6-threshold verify decides matches, not banding
    // luck (the verify filters the 0.5-jaccard twin/d3 pair out)
    Dedup.writeLshIndex(
      Seq((1L, d1), (3L, d3)).toDF("doc_id", "text"), "doc_id", "text", src,
      numHashes = 128, bands = 32)
    // d2 arrives through the streaming loop (logged batch 0; ingest
    // threshold 0.8 admits it past its 0.714 twin d3)
    Dedup.lshIngestBatch("doc_id", "text", src, threshold = 0.8)(
      Seq((2L, d2)).toDF("doc_id", "text"), 0L)
    Dedup.unpersistAll()
    val probe = Seq((90L, twin)).toDF("doc_id", "text")
    def probeIds(p: String) =
      Dedup.dedupAgainstLshIndex(probe, "doc_id", "text", p, threshold = 0.6)
        .select("id_left").as[Long].collect().toSet
    def selfPairs(p: String) =
      Dedup.selfDedupFromLshIndex(spark, p, threshold = 0.6)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(probeIds(src) == Set(2L), "setup: twin should match doc 2")
    assert(selfPairs(src) == Set((2L, 3L)), "setup: (2,3) are near-dups")
    Dedup.unpersistAll()
    // takedown: doc 2 leaves every probe path immediately
    Dedup.deleteFromLshIndex(Seq(2L).toDF("doc_id"), "doc_id", src)
    assert(probeIds(src).isEmpty, "deleted doc still probe-visible")
    assert(selfPairs(src).isEmpty, "deleted doc still in self-dedup")
    Dedup.unpersistAll()
    // compaction folds: physically absent, tombstones not carried,
    // probes identical to the live (tombstone-filtered) source
    Dedup.compactLshIndex(spark, src, dst)
    val dstIds = spark.read.parquet(s"$dst/hashes")
      .select("id").distinct().as[Long].collect().toSet
    assert(dstIds == Set(1L, 3L), s"compacted tree kept deleted rows: $dstIds")
    assert(!new java.io.File(s"$dst/tombstones").exists(),
      "compaction carried tombstones to the clean tree")
    assert(probeIds(dst).isEmpty && selfPairs(dst).isEmpty)
    Dedup.unpersistAll()
    // replay safety: the ingest log carried batch 0, so a resumed
    // stream re-offering it is a no-op — the deleted doc stays gone
    Dedup.lshIngestBatch("doc_id", "text", dst, threshold = 0.8)(
      Seq((2L, d2)).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(s"$dst/hashes")
      .select("id").distinct().as[Long].collect().toSet == Set(1L, 3L),
      "replayed batch resurrected a deleted doc")
    Dedup.unpersistAll()
    // scale guard: the tombstone anti-join must not strip the probe's
    // scan pushdowns — the bucket-set and candidate-id In filters
    // still reach the scans THROUGH the left-anti join (Catalyst
    // pushes left-side-only predicates below it); losing either would
    // turn every probe of a tombstoned index into an index-sized read
    val planned = Dedup.dedupAgainstLshIndex(
      probe, "doc_id", "text", src, threshold = 0.6)
    val plan = planned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // (a 1-doc probe's per-band sets are singletons, so Catalyst
    // prints EqualTo where a bigger batch would print In — either
    // form is the pushdown)
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
        (l.contains("In(bucket") || l.contains("EqualTo(bucket"))),
      s"bucket pushdown lost under tombstone anti-join:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
        (l.contains("In(id") || l.contains("EqualTo(id"))),
      s"candidate-id pushdown lost under tombstone anti-join:\n$plan")
    Dedup.unpersistAll()
  }

  test("lsh buckets layout: a small batch's bucket set accepts a fraction of many row groups by range stats") {
    import scala.jdk.CollectionConverters._
    // the quantified form of the In(bucket) pushdown claim, the
    // ledger measurement's twin: on the (band, bucket) range-sorted
    // layout a SMALL batch's bucket set straddles few row groups.
    // (Large batches saturate — ~|batch| buckets per band vs ~row
    // groups per band — which is why the §4 text scopes file-level
    // pruning to small batches; this pins the small-batch regime.)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-rg").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    val old = Option(hconf.get("parquet.block.size"))
    hconf.set("parquet.block.size", "131072")
    try {
      val corpus = spark.range(60000L).select($"id".as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit(s"w$j"), ($"id" * 31 + j) % 9973)): _*).as("text"))
      Dedup.writeLshIndex(corpus, "doc_id", "text", dir)
    } finally old match {
      case Some(v) => hconf.set("parquet.block.size", v)
      case None => hconf.unset("parquet.block.size")
    }
    Dedup.unpersistAll()
    // a 2-doc batch: ≤ 2 buckets per band in each band-local In set
    val batch = spark.range(2).select(($"id" + 900000L).as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit(s"w$j"), ($"id" * 31 + j) % 9973)): _*).as("text"))
    Dedup.dedupAgainstLshIndex(batch, "doc_id", "text", dir).count()
    Dedup.unpersistAll()
    // the pushed per-band bucket sets, re-derived for the stats walk
    // (the build defaults: 128 hashes, 16 bands, 3-shingles). Sets
    // are band-LOCAL — exactly what each per-band scan pushes; a
    // global union would leak every band's values into every band's
    // files and prune nothing (the shape the probe deliberately
    // avoids).
    val byBand: Map[Int, Set[Long]] = batch.select(
        posexplode(graft.functions.SketchOps.minhashBandBuckets(
          graft.functions.SketchOps.minhashSig(
            Dedup.shingleHashes(col("text"), 3), 128), 16))
        .as(Seq("band", "bucket")))
      .as[(Int, Long)].collect().groupBy(_._1)
      .map { case (b, rs) => b -> rs.map(_._2).toSet }
    var total = 0; var accepted = 0
    def walk(f: java.io.File, bandBuckets: Set[Long]): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk(_, bandBuckets))
      else if (f.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            spark.sessionState.newHadoopConf()))
        try reader.getFooter.getBlocks.asScala.foreach { rg =>
          total += 1
          val st = rg.getColumns.asScala
            .map(c => c.getPath.toDotString -> c).toMap
            .apply("bucket").getStatistics
          val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
          val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
          if (bandBuckets.exists(b => b >= mn && b <= mx)) accepted += 1
        } finally reader.close()
      }
    new java.io.File(s"$dir/buckets").listFiles()
      .filter(_.getName.startsWith("band=")).foreach { bandDir =>
        val band = bandDir.getName.stripPrefix("band=").toInt
        walk(bandDir, byBand.getOrElse(band, Set.empty))
      }
    info(s"buckets: $total row groups; 2-doc batch accepts $accepted " +
      s"with band-local sets")
    assert(total >= 40,
      s"buckets tree did not produce enough row groups: $total")
    assert(accepted * 3 <= total,
      s"small batch accepted $accepted/$total row groups — not pruning")
  }

  test("lsh index self-dedup equals minhashDuplicates without re-hashing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-self").toString
    Dedup.writeLshIndex(docs, "doc_id", "text", dir)
    // same banding parameters, same verify — the stored index must
    // reproduce the in-memory end-to-end dedup exactly
    val got = Dedup.selfDedupFromLshIndex(spark, dir)
    val mem = Dedup.minhashDuplicates(docs, "doc_id", "text")
    assertSameRows(got, mem)
  }

  test("lshBucketStats: healthy index near zero, boilerplate flood trips it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-stat").toString
    Dedup.writeLshIndex(docs, "doc_id", "text", dir)
    val healthy = Dedup.lshBucketStats(spark, dir, capForStats = 8)
    assert(healthy.totalRows > 0 && healthy.nBuckets > 0)
    assert(healthy.saturatedRowFrac < 0.05,
      s"word-soup corpus should not saturate: $healthy")
    // boilerplate flood: 200 byte-identical docs pool in ONE bucket
    // per band — saturation must become clearly visible
    val flood = (1 to 200).map(i => (10000L + i, "same boilerplate text " +
      "repeated across every mirror page of the crawl")).toDF("doc_id", "text")
    Dedup.appendToLshIndex(flood, "doc_id", "text", dir)
    val after = Dedup.lshBucketStats(spark, dir, capForStats = 8)
    assert(after.maxBucket >= 200, s"flood bucket missing: $after")
    assert(after.saturatedDocRows > healthy.saturatedDocRows &&
      after.saturatedRowFrac > 0.05,
      s"flood not visible in saturation: $after")
  }

  test("ngram overlap score: contained docs score 1, disjoint 0, partial exact") {
    val train = Seq(
      (1L, "a b c d e f"),      // every 3-shingle in bench doc 10
      (2L, "x y z w q r"),      // disjoint
      (3L, "a b c z1 z2 z3"))   // shares exactly {a b c} of its 4
      .toDF("doc_id", "text")
    val bench = Seq((10L, "a b c d e f")).toDF("doc_id", "text")
    val got = Dedup.ngramOverlapScore(train, bench, "doc_id", "text")
      .select("id", "n_shingles", "n_contaminated", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, c, f) => id -> ((n, c, f)) }.toMap
    assert(got(1L) == ((4L, 4L, 1.0)))
    assert(got(2L) == ((4L, 0L, 0.0)))
    assert(got(3L) == ((4L, 1L, 0.25)))
    // the benchmark side must reach the join as a broadcast — the
    // premise (eval sets are small) is the scale contract
    val plan = Dedup.ngramOverlapScore(train, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench side not broadcast:\n$plan")
  }

  test("duplicateClusters resolves chains and separate components") {
    // chain 1-2-3-4-5 (diameter 4 → several propagation rounds),
    // pair {10,11}, triangle {20,21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(got(_) == 1L), s"chain not collapsed: $got")
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))
    assert(got.size == 10)
  }

  test("duplicateClusters matches brute-force components on the corpus") {
    val pairs = Dedup.minhashDuplicates(docs, "doc_id", "text",
      shingleK = 3, numHashes = 128, bands = 16, threshold = 0.5)
    val got = Dedup.duplicateClusters(pairs.select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    // brute-force union-find over truePairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    truePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = truePairs.flatMap(p => Seq(p._1, p._2))
      .map(id => id -> find(id)).toMap
    assert(got == want, s"missed=${want.toSet -- got.toSet} extra=${got.toSet -- want.toSet}")
  }

  test("token_window_hashes: positional, duplicates kept, empty below k") {
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b"),          // fewer than k=3 words → NO windows
      (3L, ""),
      (4L, "p q p q p q")   // repeated window hashes kept in place
    ).toDF("id", "text")
    val got = df.select($"id", graft.functions.TextKernelOps
        .tokenWindowHashes($"text", 3).as("wh"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L).length == 3 && got(2L).isEmpty && got(3L).isEmpty)
    // window i = the FNV chain tokenShingleHashes folds for a k-word
    // text, so each positional hash equals the single-shingle hash of
    // its window text
    val words = "a b c d e".split(" ")
    val single = words.sliding(3).map { w =>
      Seq((w.mkString(" "))).toDF("t")
        .select(Dedup.shingleHashes($"t", 3)).as[Seq[Long]].head().head
    }.toSeq
    assert(got(1L) == single)
    // "p q p q p q": windows at 0, 2 identical ("p q p"), 1, 3
    // identical ("q p q") — positional form keeps all four
    assert(got(4L).length == 4 && got(4L)(0) == got(4L)(2) &&
      got(4L)(1) == got(4L)(3) && got(4L)(0) != got(4L)(1))
  }

  test("duplicatedWindowSpans: cross-doc shared run merges to one span per doc") {
    val df = Seq(
      (1L, "a b c d e f g"),
      (2L, "x y a b c d z")
    ).toDF("id", "text")
    val spans = Dedup.duplicatedWindowSpans(df, "id", "text", k = 3)
      .as[(Long, Int, Int)].collect().toSet
    // shared 4-token run "a b c d" → windows "a b c"+"b c d" in both
    // docs; overlapping windows merge: doc1 [0,4), doc2 [2,6)
    assert(spans == Set((1L, 0, 4), (2L, 2, 6)))
  }

  test("duplicatedWindowSpans: within-doc repetition counts occurrences") {
    val df = Seq((1L, "p q r s p q r s"), (2L, "t u v w")).toDF("id", "text")
    val spans = Dedup.duplicatedWindowSpans(df, "id", "text", k = 4)
      .as[(Long, Int, Int)].collect().toSet
    // "p q r s" occurs at 0 and 4 in ONE doc — occurrence counting
    // (not distinct-doc counting) flags it; the touching spans [0,4)
    // and [4,8) merge. doc 2 shares nothing.
    assert(spans == Set((1L, 0, 8)))
  }

  test("removeDuplicatedWindows: removal, pass-through and full-cover edges") {
    val df = Seq(
      (1L, "a b c d e f g"),     // [0,4) removed → "e f g"
      (2L, "x y a b c d z"),     // [2,6) removed → "x y z"
      (3L, "m n"),               // sub-k: untouched, zero spans
      (4L, ""),                  // empty: zero tokens, clean ""
      (5L, "a b c d"),           // exactly the shared run → fully covered
      (6L, "a b c d")            // its twin
    ).toDF("id", "text")
    val got = Dedup.removeDuplicatedWindows(df, "id", "text", k = 3)
      .select("id", "clean_text", "n_tokens", "n_spans", "n_cov_tokens")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "e f g", 7L, 1L, 4L)))
    assert(got(2L) == ((2L, "x y z", 7L, 1L, 4L)))
    assert(got(3L) == ((3L, "m n", 2L, 0L, 0L)))
    assert(got(4L) == ((4L, "", 0L, 0L, 0L)))
    assert(got(5L) == ((5L, "", 4L, 1L, 4L)))
    assert(got(6L) == ((6L, "", 4L, 1L, 4L)))
  }

  test("removeDuplicatedWindows: disjoint docs pass through unchanged") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")
    ).toDF("id", "text")
    val got = Dedup.removeDuplicatedWindows(df, "id", "text", k = 3)
      .select("id", "clean_text", "n_spans")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("alpha beta gamma delta epsilon", 0L)))
    assert(got(2L) == (("one two three four five six", 0L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings").cache()
  private lazy val qv: Array[Float] =
    emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray

  test("brute-force knn: query vector ranks itself first with cosine 1") {
    val top = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 10).collect()
    assert(top.length == 10)
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val cosines = top.map(_.getDouble(1))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  test("quantized knn: self-match first, high overlap with brute top-k") {
    val quant = Similarity.knnQuantized(emb, "vec_id", "embedding", qv, 10)
      .collect()
    assert(quant.length == 10)
    // the query quantizes to its own codes → exact self-match
    assert(quant.head.getLong(0) == 0L)
    assert(math.abs(quant.head.getDouble(1) - 1.0) < 1e-12)
    // int8 error is small: quantized top-10 overlaps brute top-10
    val bruteIds = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0)).toSet
    val overlap = quant.map(_.getLong(0)).count(bruteIds.contains)
    assert(overlap >= 7, s"quantized/brute top-10 overlap only $overlap")
    // zero vectors neither crash nor rank above real matches
    val withZero = emb.limit(50).union(
      Seq((99999L, Array.fill(64)(0f), 0)).toDF("vec_id", "embedding", "label"))
    val z = Similarity.knnQuantized(withZero, "vec_id", "embedding", qv, 50)
      .collect()
    assert(z.find(_.getLong(0) == 99999L).get.getDouble(1) == 0.0)
  }

  test("quantized rerank recovers exact top-k once overfetch covers the error band") {
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // generous overfetch ⇒ the exact top-k must be inside the coarse
    // candidate set and the re-rank returns it with EXACT cosines
    val wide = Similarity.knnQuantizedRerank(emb, "vec_id", "embedding",
        qv, k = 10, overfetch = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wide == brute, s"wide rerank diverged from brute:\n$wide\n$brute")
    // default overfetch: near-exact (quantization inversions only at
    // the cut), and cosines of returned rows are the exact ones
    val narrow = Similarity.knnQuantizedRerank(emb, "vec_id", "embedding",
        qv, k = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bruteMap = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    narrow.foreach { case (id, c) =>
      val exact = bruteMap.get(id)
      assert(exact.isDefined,
        s"rerank returned id $id outside the brute top-200")
      assert(math.abs(exact.get - c) < 1e-12,
        s"rerank returned non-exact cosine for $id")
    }
    val overlap = narrow.map(_._1).count(brute.map(_._1).toSet)
    assert(overlap >= 9, s"default-overfetch top-10 overlap only $overlap")
  }

  test("kmeansEuclidean recovers separable clusters with plain-L2 means") {
    // three tight clusters around distinct means; spherical k-means
    // would collapse the scale axis (all three normalize similarly)
    val rnd = new scala.util.Random(1)
    def cluster(cx: Double, cy: Double) =
      Array.fill(30)(Array(cx + rnd.nextGaussian() * 0.1,
                           cy + rnd.nextGaussian() * 0.1))
    val sample = cluster(0, 0) ++ cluster(10, 0) ++ cluster(10, 30)
    val cents = Similarity.kmeansEuclidean(sample, 3, iters = 20, seed = 5)
      .sortBy(c => (c(1), c(0))) // y separates {0,0,30}, then x {0,10}
    assert(cents.length == 3)
    val expect = Seq((0d, 0d), (10d, 0d), (10d, 30d))
    cents.zip(expect).foreach { case (c, (x, y)) =>
      assert(math.abs(c(0) - x) < 1 && math.abs(c(1) - y) < 1,
        s"centroid ${c.toSeq} far from ($x,$y)")
    }
  }

  test("pqEncode: codes are partition-independent; norms exact; bad dims fail fast") {
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    assert(cb.m == 4 && cb.nCodes == 16 && cb.subDim == 16)
    def enc(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(df, "vec_id", "embedding", cb)
        .as[(Long, Seq[Int], Double)].collect().sortBy(_._1).toSeq
    val a = enc(emb.coalesce(1))
    val b = enc(emb.repartition(7))
    assert(a == b)
    assert(a.forall(_._2.forall(c => c >= 0 && c < 16)))
    // the 16 codebook-source vectors encode to their own codes in
    // every subspace (distance 0 beats everything, ties → lowest)
    a.take(16).zipWithIndex.foreach { case ((id, codes, _), i) =>
      assert(codes.forall(_ <= i), s"seed vector $id got codes $codes")
    }
    intercept[Exception] {
      Similarity.pqEncode(
        Seq((1L, Array.fill(63)(1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cb).collect()
    }
  }

  test("pq rerank: exact cosines, high recall at trained codebook, exact at wide overfetch") {
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cbT = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 8, nCodes = 16, sampleSize = 500, iters = 10, seed = 42)
    // wide overfetch ⇒ PQ candidates cover the exact top-k ⇒ the
    // rerank IS the brute result
    val wide = Similarity.knnPq(emb, "vec_id", "embedding", qv,
        k = 10, cb = cbT, overfetch = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wide == brute, s"wide pq diverged:\n$wide\n$brute")
    // moderate overfetch: recall stays high and cosines stay exact.
    // The synthetic embeddings are near-uniform random — the WORST
    // case for PQ (no cluster structure for the codebooks to exploit;
    // measured recall@10 is 5/10 at overfetch 4, 8/10 at 8) — so the
    // pin is at overfetch 8; real embedding corpora cluster and do
    // better at lower overfetch.
    val narrow = Similarity.knnPq(emb, "vec_id", "embedding", qv,
        k = 10, cb = cbT, overfetch = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bruteAll = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    narrow.foreach { case (id, c) =>
      assert(math.abs(bruteAll(id) - c) < 1e-12,
        s"pq rerank returned non-exact cosine for $id")
    }
    val overlap = narrow.map(_._1).count(brute.map(_._1).toSet)
    assert(overlap >= 7, s"pq top-10 recall only $overlap/10")
  }

  test("persisted pq index: probe equals in-memory knnPq; codebook roundtrips") {
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    Similarity.writePqIndex(emb, "vec_id", "embedding", dir, cb)
    val back = Similarity.readPqCodebook(spark, dir)
    assert(back.m == cb.m && back.nCodes == cb.nCodes &&
      back.subDim == cb.subDim)
    assert(back.codebooks.flatten.flatten.toSeq ==
      cb.codebooks.flatten.flatten.toSeq)
    val mem = Similarity.knnPq(emb, "vec_id", "embedding", qv,
      k = 10, cb = cb, overfetch = 4).collect().map(_.toString).toSeq
    val idx = Similarity.knnPqIndexed(spark, dir, emb, "vec_id",
      "embedding", qv, k = 10, overfetch = 4)
      .collect().map(_.toString).toSeq
    assert(idx == mem, s"indexed probe diverged:\n$idx\n$mem")
  }

  test("knnIvfPq at nProbe=nCells equals knnPq (pruning off = pure PQ)") {
    // with every cell probed the candidate set is exactly the
    // whole-corpus PQ coarse ranking, so the composed path must
    // reproduce knnPq row for row — the parity contract that pins the
    // composition adds pruning and nothing else
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    val pq = Similarity.knnPq(emb, "vec_id", "embedding", qv,
      k = 10, cb = cb, overfetch = 4)
    val ivfpq = Similarity.knnIvfPq(emb, "vec_id", "embedding", qv,
      k = 10, cb = cb, nCells = 8, nProbe = 8, overfetch = 4)
    assertSameRows(ivfpq, pq)
  }

  test("persisted ivfpq index: probe equals in-memory, prunes cells, stores no vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8)
    val probe = Similarity.knnIvfPqIndexed(spark, dir, emb, "vec_id",
      "embedding", qv, k = 10, nProbe = 3, overfetch = 4)
    val mem = Similarity.knnIvfPq(emb, "vec_id", "embedding", qv,
      k = 10, cb = cb, nCells = 8, nProbe = 3, overfetch = 4)
    assertSameRows(probe, mem)
    // the cells hold (id, codes, norm) ONLY — the 16-32× compression
    // claim is false if float vectors leak into the index files
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.columns.sorted.toSeq == Seq("cell", "codes", "id", "norm"),
      s"unexpected index columns: ${cells.columns.toSeq}")
    // the probe must reach the scan as a partition filter (the s03
    // pruning) — over the CODES files (the s10 compression): both
    // savings in the coarse frame the probe executes
    val coarse = Similarity.ivfPqCoarseCandidates(spark, dir, qv,
      k = 10, nProbe = 3, overfetch = 4, predicate = None)
    val plan = coarse.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("cell")), s"no partition filter on cell:\n$plan")
    // round 9: the exact rerank pushes the collected candidate ids
    // into the vectors scan as a static In filter — point reads
    // against a stats/bloom-prunable layout, never a full float scan
    val vdir = java.nio.file.Files.createTempDirectory("graft-ivfpq-v").toString
    emb.write.mode("overwrite").parquet(vdir)
    val fileProbe = Similarity.knnIvfPqIndexed(spark, dir,
      spark.read.parquet(vdir), "vec_id", "embedding", qv, k = 10,
      nProbe = 3, overfetch = 4)
    val rplan = fileProbe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(rplan.linesIterator.find(_.contains("PushedFilters"))
      .exists(_.contains("In(vec_id")),
      s"candidate ids not pushed into the rerank scan:\n$rplan")
    assertSameRows(fileProbe, mem)
  }

  test("ivfpq append: probe equals a one-shot build; cellStats reads it unchanged") {
    val dir1 = java.nio.file.Files.createTempDirectory("graft-ivfpq-a").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-b").toString
    val cut = emb.agg(org.apache.spark.sql.functions.expr(
      "percentile(vec_id, 0.5)")).head().getDouble(0)
    val first = emb.where($"vec_id" < cut)
    val second = emb.where($"vec_id" >= cut)
    // seeded centroids (8 lowest ids) and seeded codebook (16 lowest)
    // both live inside `first`, so the appended index and a one-shot
    // union build share the exact geometry
    val cb = Similarity.pqSeededCodebook(first, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", dir1, cb,
      nCells = 8)
    Similarity.appendToIvfPqIndex(second, "vec_id", "embedding", dir1)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir2, cb,
      nCells = 8)
    val a = Similarity.knnIvfPqIndexed(spark, dir1, emb, "vec_id",
      "embedding", qv, k = 10, nProbe = 3)
    val b = Similarity.knnIvfPqIndexed(spark, dir2, emb, "vec_id",
      "embedding", qv, k = 10, nProbe = 3)
    assertSameRows(a, b)
    // the IVF maintenance contract carries over: cellStats/needsRebuild
    // read only centroids + per-cell counts, both present here
    val stats = Similarity.cellStats(spark, dir1)
    assert(stats.totalRows == emb.count() && stats.nCells == 8)
  }

  test("ivf takedown: deleted vectors probe-invisible on every probe path; rebuild removes physically and drops tombstones") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-ivf-tda").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ivf-tdb").toString
    val dirC = java.nio.file.Files.createTempDirectory("graft-ivf-tdc").toString
    val cut = 400L
    val first = emb.where($"vec_id" < cut)
    val second = emb.where($"vec_id" >= cut)
    // seeded centroids live in `first`, so A (never held `second`) and
    // B (held-then-deleted) share exact geometry — probe parity is
    // then the takedown contract "as if never appended", score-exact
    Similarity.writeIvfIndex(first, "vec_id", "embedding", dirA, nCells = 8)
    Similarity.writeIvfIndex(first, "vec_id", "embedding", dirB, nCells = 8)
    Similarity.appendToIvfIndex(second, "vec_id", "embedding", dirB)
    // pre-delete sanity: the appended vectors ARE probe-visible
    val qv2 = second.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0).toArray
    assert(Similarity.knnIvfIndexed(spark, dirB, qv2, k = 3, nProbe = 8)
      .collect().exists(_.getLong(0) >= cut),
      "setup: appended vectors should be probe-visible before delete")
    Similarity.deleteFromIvfIndex(
      second.select("vec_id"), "vec_id", dirB)
    // single probe, filtered probe, batch probe: all identical to the
    // never-held index (deleted vectors can't crowd out k slots)
    assertSameRows(
      Similarity.knnIvfIndexed(spark, dirA, qv2, k = 10, nProbe = 3),
      Similarity.knnIvfIndexed(spark, dirB, qv2, k = 10, nProbe = 3))
    assertSameRows(
      Similarity.knnIvfIndexedFiltered(spark, dirA, $"id" % 2 === 0,
        qv2, k = 10, nProbe = 3),
      Similarity.knnIvfIndexedFiltered(spark, dirB, $"id" % 2 === 0,
        qv2, k = 10, nProbe = 3))
    val qbatch = emb.orderBy("vec_id").limit(3)
      .select("vec_id", "embedding")
    assertSameRows(
      Similarity.knnIvfBatchIndexed(spark, dirA, qbatch,
        "vec_id", "embedding", k = 10, nProbe = 3),
      Similarity.knnIvfBatchIndexed(spark, dirB, qbatch,
        "vec_id", "embedding", k = 10, nProbe = 3))
    // scale guard: the tombstone anti-join must not strip the cell
    // partition pruning — nProbe/nCells file reads is the index's
    // entire economics, and the In(cell) filter must reach the scan
    // through the left-anti join
    val planned = Similarity.knnIvfIndexed(spark, dirB, qv2, k = 10,
      nProbe = 3)
    val tplan = planned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(tplan.linesIterator.find(_.contains("PartitionFilters"))
      .exists(_.contains("cell")),
      s"cell pruning lost under tombstone anti-join:\n$tplan")
    // rebuild folds: physically absent, tombstones not carried, and
    // (seeded off the surviving rows = `first`) probe-identical to A
    Similarity.rebuildIvfIndex(spark, dirB, dirC, nCells = 8,
      strategy = Similarity.SeededCentroids)
    assert(spark.read.parquet(s"$dirC/cells")
      .where($"id" >= cut).count() == 0,
      "rebuild kept deleted vectors")
    assert(!new java.io.File(s"$dirC/tombstones").exists(),
      "rebuild carried tombstones to the clean tree")
    assertSameRows(
      Similarity.knnIvfIndexed(spark, dirA, qv2, k = 10, nProbe = 3),
      Similarity.knnIvfIndexed(spark, dirC, qv2, k = 10, nProbe = 3))
  }

  test("ivfpq takedown: deleted vectors probe-invisible (single, filtered, batch) — exact parity with a never-held index") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-pq-tda").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-pq-tdb").toString
    val cut = 400L
    val first = emb.where($"vec_id" < cut)
    val second = emb.where($"vec_id" >= cut)
    // seeded centroids AND codebook from `first`: identical geometry
    val cb = Similarity.pqSeededCodebook(first, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", dirA, cb,
      nCells = 8)
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", dirB, cb,
      nCells = 8)
    Similarity.appendToIvfPqIndex(second, "vec_id", "embedding", dirB)
    val qv2 = second.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0).toArray
    assert(Similarity.knnIvfPqIndexed(spark, dirB, emb, "vec_id",
        "embedding", qv2, k = 3, nProbe = 8)
      .collect().exists(_.getLong(0) >= cut),
      "setup: appended vectors should be probe-visible before delete")
    Similarity.deleteFromIvfIndex(
      second.select("vec_id"), "vec_id", dirB)
    // rerank corpus is the FULL emb on both sides: candidates must
    // exclude deleted ids upstream, or B would resurface them here
    assertSameRows(
      Similarity.knnIvfPqIndexed(spark, dirA, emb, "vec_id", "embedding",
        qv2, k = 10, nProbe = 3),
      Similarity.knnIvfPqIndexed(spark, dirB, emb, "vec_id", "embedding",
        qv2, k = 10, nProbe = 3))
    assertSameRows(
      Similarity.knnIvfPqIndexedFiltered(spark, dirA, emb, "vec_id",
        "embedding", $"id" % 2 === 0, qv2, k = 10, nProbe = 3),
      Similarity.knnIvfPqIndexedFiltered(spark, dirB, emb, "vec_id",
        "embedding", $"id" % 2 === 0, qv2, k = 10, nProbe = 3))
    val qbatch = emb.orderBy("vec_id").limit(3)
      .select("vec_id", "embedding")
    assertSameRows(
      Similarity.knnIvfPqBatchIndexed(spark, dirA, emb, "vec_id",
        "embedding", qbatch, "vec_id", "embedding", k = 10, nProbe = 3),
      Similarity.knnIvfPqBatchIndexed(spark, dirB, emb, "vec_id",
        "embedding", qbatch, "vec_id", "embedding", k = 10, nProbe = 3))
  }

  test("plain pq index takedown: deleted vectors leave the coarse candidates — parity with a never-held index") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-ppq-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ppq-b").toString
    val cut = 400L
    val first = emb.where($"vec_id" < cut)
    val second = emb.where($"vec_id" >= cut)
    val cb = Similarity.pqSeededCodebook(first, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writePqIndex(first, "vec_id", "embedding", dirA, cb)
    Similarity.writePqIndex(emb, "vec_id", "embedding", dirB, cb)
    val qv2 = second.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0).toArray
    assert(Similarity.knnPqIndexed(spark, dirB, emb, "vec_id",
        "embedding", qv2, k = 3)
      .collect().exists(_.getLong(0) >= cut),
      "setup: indexed vectors should be probe-visible before delete")
    Similarity.deleteFromIvfIndex(second.select("vec_id"), "vec_id", dirB)
    assertSameRows(
      Similarity.knnPqIndexed(spark, dirA, emb, "vec_id", "embedding",
        qv2, k = 10),
      Similarity.knnPqIndexed(spark, dirB, emb, "vec_id", "embedding",
        qv2, k = 10))
  }

  test("ivfpq batch probe equals the per-query indexed probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-bt").toString
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8)
    val queries = emb.orderBy("vec_id").limit(3)
    val batch = Similarity.knnIvfPqBatchIndexed(spark, dir, emb,
        "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    queries.collect().foreach { row =>
      val qid = row.getLong(0)
      val q1 = row.getSeq[Float](1).toArray
      val single = Similarity.knnIvfPqIndexed(spark, dir, emb, "vec_id",
          "embedding", q1, k = 10, nProbe = 3)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid).toSeq.sortBy(t => (-t._3, t._2)) ==
        single.sortBy(t => (-t._3, t._2)),
        s"batch diverged for query $qid")
    }
  }

  test("knnIvfPqFiltered: nProbe=nCells equals knnPq over the pre-filtered corpus; wide overfetch equals exact filtered kNN") {
    val pred = $"label" % 2 === 0
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    // pruning off: the candidate set is exactly the filtered corpus's
    // PQ coarse ranking — the composition adds pruning and nothing else
    val full = Similarity.knnIvfPqFiltered(emb, "vec_id", "embedding",
      pred, qv, k = 10, cb = cb, nCells = 8, nProbe = 8, overfetch = 4)
    val pq = Similarity.knnPq(emb.where(pred), "vec_id", "embedding",
      qv, k = 10, cb = cb, overfetch = 4)
    assertSameRows(full, pq)
    // pruning off AND overfetch covering the corpus: the s15 parity —
    // exact filtered kNN (knnIvfFiltered at nProbe=nCells)
    val of = (emb.count() / 10 + 1).toInt
    val wide = Similarity.knnIvfPqFiltered(emb, "vec_id", "embedding",
      pred, qv, k = 10, cb = cb, nCells = 8, nProbe = 8, overfetch = of)
    val exact = Similarity.knnIvfFiltered(emb, "vec_id", "embedding",
      pred, qv, k = 10, nCells = 8, nProbe = 8)
    assertSameRows(wide, exact)
    // partial probe: results never violate the predicate
    val part = Similarity.knnIvfPqFiltered(emb, "vec_id", "embedding",
        pred, qv, k = 10, cb = cb, nCells = 8, nProbe = 2, overfetch = 4)
      .select("id").as[Long].collect().toSet
    val legal = emb.where(pred).select($"vec_id".cast("long"))
      .as[Long].collect().toSet
    assert(part.subsetOf(legal), "filtered IVF-PQ leaked a filtered-out id")
  }

  test("attr-carrying ivfpq index: filtered probe equals in-memory, pushes BOTH prunes under compression, survives append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-f").toString
    val cut = emb.agg(org.apache.spark.sql.functions.expr(
      "percentile(vec_id, 0.5)")).head().getDouble(0)
    val first = emb.where($"vec_id" < cut)
    val second = emb.where($"vec_id" >= cut)
    // seeded centroids/codebook live inside `first` (lowest ids), so
    // the appended index and the in-memory full-corpus form share
    // exact geometry — the ivf-attr spec's trick under compression
    val cb = Similarity.pqSeededCodebook(first, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", dir, cb,
      nCells = 8, attrCols = Seq("label"))
    Similarity.appendToIvfPqIndex(second, "vec_id", "embedding", dir)
    val pred = $"label" % 2 === 0
    val probe = Similarity.knnIvfPqIndexedFiltered(spark, dir, emb,
      "vec_id", "embedding", pred, qv, k = 10, nProbe = 3, overfetch = 4)
    val mem = Similarity.knnIvfPqFiltered(emb, "vec_id", "embedding",
      pred, qv, k = 10, cb = cb, nCells = 8, nProbe = 3, overfetch = 4)
    assertSameRows(probe, mem)
    // the index still stores no float vectors — attrs ride beside the
    // m-byte codes, they don't reinflate the layout
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.columns.sorted.toSeq ==
      Seq("cell", "codes", "id", "label", "norm"),
      s"unexpected index columns: ${cells.columns.toSeq}")
    // THREE prunes in one scan: cell partition filter, pushed attr
    // predicate, and the scan target is codes (not vectors) — pinned
    // on the coarse frame the probe executes
    val coarse = Similarity.ivfPqCoarseCandidates(spark, dir, qv,
      k = 10, nProbe = 3, overfetch = 4, predicate = Some(pred))
    val plan = coarse.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.linesIterator.find(_.contains("PartitionFilters"))
      .exists(_.contains("cell")), s"no partition filter on cell:\n$plan")
    assert(plan.linesIterator.find(_.contains("PushedFilters"))
      .exists(_.contains("label")), s"label predicate not pushed:\n$plan")
    // an append frame missing the stored attribute fails fast
    val err = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(
        second.drop("label"), "vec_id", "embedding", dir)
    }
    assert(err.getMessage.contains("label"))
    // ...and so does a same-named attribute of a DIFFERENT type — a
    // name-only check would let the append write schema-conflicting
    // cell files under the filtered probe (round-9 review fix)
    val err2 = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(
        second.withColumn("label", $"label".cast("string")),
        "vec_id", "embedding", dir)
    }
    assert(err2.getMessage.contains("type drift"), err2.getMessage)
  }

  test("batch indexed probe candidate cap: an over-cap recall-sweep batch falls back to the join rerank with identical results") {
    // 150 queries at corpus-covering overfetch: |Q|·min(corpus,
    // k·overfetch) ≈ 90k candidate pairs > maxRerankRows, so the
    // broadcast-mode point-read declines the collect and the join
    // rerank serves — same rows as the forced-shuffle path (which is
    // the same join), and crucially same rows as a SMALL batch run
    // per query, so the cap changes strategy, never results
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-cap").toString
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8)
    val queries = emb.orderBy("vec_id").limit(150)
      .select($"vec_id".as("query_id"), $"embedding")
    val of = (emb.count() / 10 + 1).toInt
    val capped = Similarity.knnIvfPqBatchIndexed(spark, dir, emb,
      "vec_id", "embedding", queries, "query_id", "embedding",
      k = 10, nProbe = 8, overfetch = of, shuffleRerank = Some(false))
    val joined = Similarity.knnIvfPqBatchIndexed(spark, dir, emb,
      "vec_id", "embedding", queries, "query_id", "embedding",
      k = 10, nProbe = 8, overfetch = of, shuffleRerank = Some(true))
    assertSameRows(capped, joined)
  }

  test("ivfpq filtered batch probe equals the per-query filtered probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-fb").toString
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8, attrCols = Seq("label"))
    val pred = $"label" % 2 === 0
    val queries = emb.orderBy("vec_id").limit(3)
    val batch = Similarity.knnIvfPqBatchIndexedFiltered(spark, dir, emb,
        "vec_id", "embedding", queries, "vec_id", "embedding", pred,
        k = 10, nProbe = 3, overfetch = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    queries.collect().foreach { row =>
      val qid = row.getLong(0)
      val q1 = row.getSeq[Float](1).toArray
      val single = Similarity.knnIvfPqIndexedFiltered(spark, dir, emb,
          "vec_id", "embedding", pred, q1, k = 10, nProbe = 3,
          overfetch = 4)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid).toSeq.sortBy(t => (-t._3, t._2)) ==
        single.sortBy(t => (-t._3, t._2)),
        s"filtered batch diverged for query $qid")
    }
  }

  test("OPQ rotation: orthonormal, recall >= plain PQ on correlated dims, persisted roundtrip probes identically") {
    // anisotropic synthetic corpus — the case OPQ exists for: the
    // dominant variance directions span BOTH subspaces of the m=2
    // split, so axis-aligned PQ spends both codebooks encoding the
    // same degrees of freedom; the learned rotation decorrelates the
    // split at identical code size. (Real text/image embeddings are
    // anisotropic like this; the sf tables' near-uniform synthetic
    // embeddings are PQ's best case, hence the crafted set.)
    val rnd = new scala.util.Random(7)
    val dim = 16
    val dirs = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
    val scales = Array(10.0, 6.0, 3.0, 1.5)
    val corpus = (0L until 500L).map { i =>
      val zs = scales.map(_ * rnd.nextGaussian())
      val x = Array.tabulate(dim)(j =>
        (zs.indices.map(k => zs(k) * dirs(k)(j)).sum +
          rnd.nextGaussian() * 0.05).toFloat)
      (i, x)
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" % 50 === 0)
    def meanRecall(cb: Similarity.PqCodebook, of: Int): Double = {
      val r = Similarity.pqRecall(queries, "vec_id", "embedding",
          corpus, "vec_id", "embedding", k = 10, cb = cb, overfetch = of)
        .as[(Long, Long, Double)].collect()
      r.map(_._3).sum / r.length
    }
    val plain = Similarity.pqTrainCodebook(corpus, "vec_id", "embedding",
      m = 2, nCodes = 8, sampleSize = 500, iters = 10, seed = 42)
    val opq = Similarity.pqTrainCodebook(corpus, "vec_id", "embedding",
      m = 2, nCodes = 8, sampleSize = 500, iters = 10, seed = 42,
      opq = true)
    // the rotation is orthonormal: RᵀR = I to float-solver tolerance
    val r = opq.rotation.get
    for (a <- 0 until dim; b <- 0 until dim) {
      val dot = (0 until dim).map(j => r(j)(a) * r(j)(b)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9,
        s"RᵀR($a,$b) = $dot")
    }
    // the judged contract is ≥ at every operating point; at the
    // seeded points below the gap is STRICT (of=1: 0.06 vs 0.15)
    for (of <- Seq(1, 4)) {
      val (pr, or) = (meanRecall(plain, of), meanRecall(opq, of))
      info(s"recall@10 overfetch=$of: plain=$pr opq=$or")
      assert(or > pr, s"OPQ recall $or not above plain PQ $pr at of=$of")
    }
    // persisted roundtrip: the rotation survives the codebook store
    // (sentinel rows) and the indexed probe equals the in-memory one
    val dir = java.nio.file.Files.createTempDirectory("graft-opq").toString
    Similarity.writePqIndex(corpus, "vec_id", "embedding", dir, opq)
    val back = Similarity.readPqCodebook(spark, dir)
    assert(back.rotation.isDefined &&
      back.rotation.get.flatten.toSeq == r.flatten.toSeq)
    val q0 = corpus.orderBy("vec_id").select("embedding").head()
      .getSeq[Float](0).toArray
    assertSameRows(
      Similarity.knnPqIndexed(spark, dir, corpus, "vec_id", "embedding",
        q0, k = 10, overfetch = 4),
      Similarity.knnPq(corpus, "vec_id", "embedding", q0, k = 10,
        cb = opq, overfetch = 4))
  }

  test("rebuildIvfPqIndex(opq=true): rebuilt index carries a rotation; pruning-off covering-overfetch probe is exact") {
    val dir1 = java.nio.file.Files.createTempDirectory("graft-opq-r1").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft-opq-r2").toString
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir1, cb,
      nCells = 8)
    // the rebuild is the OPQ upgrade point: stored codes can't be
    // re-rotated, so a pre-OPQ index upgrades by full retrain
    Similarity.rebuildIvfPqIndex(emb, "vec_id", "embedding", dir1, dir2,
      nCells = 8, m = 4, nCodes = 16, opq = true)
    val cb2 = Similarity.readPqCodebook(spark, dir2)
    assert(cb2.rotation.isDefined, "rebuilt index lost the rotation")
    // end-to-end through the ROTATED persisted path: every cell
    // probed + covering overfetch ⇒ the exact rerank restores brute
    val of = (emb.count() / 10 + 1).toInt
    assertSameRows(
      Similarity.knnIvfPqIndexed(spark, dir2, emb, "vec_id", "embedding",
        qv, k = 10, nProbe = 8, overfetch = of),
      Similarity.knnBrute(emb, "vec_id", "embedding", qv, 10))
  }

  test("OPQ recall at the composed operating point: persisted attr-carrying rotated index, nProbe x overfetch sweep monotone, >= plain PQ, filtered exact at covering settings") {
    // the round-9 OPQ spec pinned the rotation's recall win in-memory;
    // this is the deployment-shaped eval: BOTH codebooks committed to
    // persisted attr-carrying IVF-PQ layouts (identical seeded cell
    // geometry — rotation changes only the code frame), then the
    // (nProbe, overfetch) tuning table read off ivfPqRecallIndexed —
    // the numbers a real rollout sweeps BEFORE pointing serving at
    // the index
    val rnd = new scala.util.Random(7)
    val dim = 16
    val dirs4 = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
    val scales = Array(10.0, 6.0, 3.0, 1.5)
    val corpus = (0L until 500L).map { i =>
      val zs = scales.map(_ * rnd.nextGaussian())
      val x = Array.tabulate(dim)(j =>
        (zs.indices.map(k => zs(k) * dirs4(k)(j)).sum +
          rnd.nextGaussian() * 0.05).toFloat)
      (i, x, (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val queries = corpus.where($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val plain = Similarity.pqTrainCodebook(corpus, "vec_id", "embedding",
      m = 2, nCodes = 8, sampleSize = 500, iters = 10, seed = 42)
    val opq = Similarity.pqTrainCodebook(corpus, "vec_id", "embedding",
      m = 2, nCodes = 8, sampleSize = 500, iters = 10, seed = 42,
      opq = true)
    val dirP = java.nio.file.Files.createTempDirectory("graft-opq-cp").toString
    val dirO = java.nio.file.Files.createTempDirectory("graft-opq-co").toString
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", dirP, plain,
      nCells = 8, attrCols = Seq("label"))
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", dirO, opq,
      nCells = 8, attrCols = Seq("label"))
    assert(Similarity.readPqCodebook(spark, dirO).rotation.isDefined,
      "persisted composed index lost the OPQ rotation")
    def recalls(dir: String, nProbe: Int, of: Int): Map[Long, Double] =
      Similarity.ivfPqRecallIndexed(spark, dir, queries, "query_id",
          "embedding", corpus, "vec_id", "embedding", k = 10,
          nProbe = nProbe, overfetch = of)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // the tuning table's real contracts: recall is per-query monotone
    // in overfetch at fixed nProbe (same candidate pool, the ADC
    // top-(k·of) heaps nest) and in nProbe at NON-TRUNCATING overfetch
    // (pools nest and the heap keeps everything). It is deliberately
    // NOT pinned monotone in nProbe at small overfetch: extra probed
    // cells add ADC-ranked imposters that can displace true neighbors
    // from the bounded heap (measured here: q0 recall 0.7@nProbe=1 →
    // 0.3@nProbe=4 at overfetch=4) — exactly the interaction this
    // pre-commit eval exists to surface.
    val ofSweep = Seq(1, 4, 16).map(of => recalls(dirO, 4, of))
    ofSweep.sliding(2).foreach { case Seq(lo, hi) =>
      lo.keys.foreach(q => assert(lo(q) <= hi(q),
        s"recall not monotone in overfetch for query $q"))
    }
    val npSweep = Seq(1, 4, 8).map(np => recalls(dirO, np, 50))
    npSweep.sliding(2).foreach { case Seq(lo, hi) =>
      lo.keys.foreach(q => assert(lo(q) <= hi(q),
        s"recall not monotone in nProbe at covering overfetch for query $q"))
    }
    // all cells + covering overfetch: the exact rerank restores brute
    assert(npSweep.last.values.forall(_ == 1.0),
      s"covering probe not exact: ${npSweep.last}")
    // OPQ >= plain through the composed layout (identical cells, so
    // the gap is purely the rotated code frame); strict at the seeded
    // tight points
    for ((np, of) <- Seq((4, 1), (8, 1), (8, 4))) {
      val (pr, or) = (recalls(dirP, np, of), recalls(dirO, np, of))
      val (pm, om) = (pr.values.sum / pr.size, or.values.sum / or.size)
      info(s"composed recall@10 nProbe=$np overfetch=$of: plain=$pm opq=$om")
      assert(om > pm,
        s"composed OPQ recall $om not above plain $pm at ($np, $of)")
    }
    // filtered composed point: all cells probed + covering overfetch
    // => the exact rerank restores filtered brute, recall exactly 1.0
    val fr = Similarity.filteredIvfPqRecallIndexed(spark, dirO, queries,
        "query_id", "embedding", corpus, "vec_id", "embedding",
        $"label" === 0, k = 10, nProbe = 8, overfetch = 50)
      .as[(Long, Long, Double)].collect()
    assert(fr.nonEmpty && fr.forall(_._3 == 1.0),
      s"filtered covering probe not exact: ${fr.toList}")
  }

  test("knnPqBatch shuffle-rerank fallback: forced fallback equals the broadcast path; auto guard trips past the threshold") {
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    val queries = emb.where($"vec_id" % 20 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    def run(mode: Option[Boolean]) =
      Similarity.knnPqBatch(queries, "query_id", "embedding", emb,
        "vec_id", "embedding", k = 10, cb = cb, overfetch = 4,
        shuffleRerank = mode)
    // row-for-row parity: the guard changes join strategy, never data
    assertSameRows(run(Some(true)), run(Some(false)))
    // auto guard: with a tiny threshold the batch's estimated
    // LUT+vector bytes exceed it, so the auto plan must carry NO
    // broadcast exchange while the forced-broadcast plan does
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      val auto = run(None).queryExecution.executedPlan.toString
      val forced = run(Some(false)).queryExecution.executedPlan.toString
      assert(!auto.contains("Broadcast"),
        s"auto guard kept a broadcast past the threshold:\n$auto")
      assert(forced.contains("Broadcast"),
        s"forced-broadcast plan lost its hints:\n$forced")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    // the persisted composed layout honors the same override
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-sh").toString
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8)
    val bc = Similarity.knnIvfPqBatchIndexed(spark, dir, emb, "vec_id",
      "embedding", queries, "query_id", "embedding", k = 10,
      nProbe = 3, overfetch = 4, shuffleRerank = Some(false))
    val sh = Similarity.knnIvfPqBatchIndexed(spark, dir, emb, "vec_id",
      "embedding", queries, "query_id", "embedding", k = 10,
      nProbe = 3, overfetch = 4, shuffleRerank = Some(true))
    assertSameRows(bc, sh)
  }

  test("knnPqBatch auto guard: a literal query frame pays ZERO jobs before the probe (row count from the plan, not count())") {
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    // materialize three queries OUTSIDE the counting window, then hand
    // the probe a literal (LocalRelation) frame — the serving shape
    val qRows = emb.orderBy("vec_id").limit(3)
      .select($"vec_id".as("query_id"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val queries = qRows.toDF("query_id", "embedding")
    // auto mode (shuffleRerank = None): the size guard must read the
    // literal frame's length from the optimized plan — building the
    // (lazy) result DataFrame fires no Spark job at all
    var result: org.apache.spark.sql.DataFrame = null
    val planningJobs = JobBudget.jobs(spark) {
      result = Similarity.knnPqBatch(queries, "query_id", "embedding",
        emb, "vec_id", "embedding", k = 10, cb = cb, overfetch = 4,
        shuffleRerank = None)
    }
    assert(planningJobs == 0,
      s"auto guard paid $planningJobs job(s) planning a literal-frame batch")
    // and the auto plan still returns the forced-broadcast rows
    assertSameRows(result,
      Similarity.knnPqBatch(queries, "query_id", "embedding", emb,
        "vec_id", "embedding", k = 10, cb = cb, overfetch = 4,
        shuffleRerank = Some(false)))
  }

  test("pqRecall: monotone in overfetch, 1.0 at corpus-covering overfetch; indexed ivfpq recall 1.0 with pruning off") {
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16, sampleSize = 500, iters = 5, seed = 9)
    val queries = emb.orderBy("vec_id").limit(3)
    def recalls(of: Int): Map[Long, Double] =
      Similarity.pqRecall(queries, "vec_id", "embedding", emb,
          "vec_id", "embedding", k = 10, cb = cb, overfetch = of)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> r._3).toMap
    // candidate sets nest as overfetch grows (top-10·of ⊆ top-10·of'),
    // so per-query recall is monotone non-decreasing — the sweep that
    // tunes overfetch for the committed code layout
    val sweep = Seq(1, 4, 16).map(recalls)
    sweep.sliding(2).foreach { case Seq(lo, hi) =>
      lo.keys.foreach(q => assert(lo(q) <= hi(q),
        s"recall not monotone for query $q: ${lo(q)} > ${hi(q)}"))
    }
    // overfetch covering the corpus: every true neighbor is a
    // candidate, the exact rerank restores brute → recall 1.0
    val full = recalls((emb.count() / 10 + 1).toInt)
    assert(full.values.forall(_ == 1.0), s"full-overfetch recall: $full")
    // the composed persisted layout reports through the same eval:
    // pruning off + covering overfetch → 1.0
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-rc").toString
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8)
    val idx = Similarity.ivfPqRecallIndexed(spark, dir, queries,
        "vec_id", "embedding", emb, "vec_id", "embedding", k = 10,
        nProbe = 8, overfetch = (emb.count() / 10 + 1).toInt)
      .as[(Long, Long, Double)].collect()
    assert(idx.forall(_._3 == 1.0), s"indexed recall: ${idx.toSeq}")
  }

  test("filtered recall evals: full probe reports 1.0, starved nProbe is per-query monotone below it; persisted compressed form agrees") {
    val pred = $"label" % 2 === 0
    val queries = emb.orderBy("vec_id").limit(3)
    def mem(nProbe: Int): Map[Long, Long] =
      Similarity.filteredIvfRecall(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", pred, k = 10, nCells = 8,
          nProbe = nProbe)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    val full = mem(8)
    assert(full.values.forall(_ == 10L),
      s"nProbe=nCells filtered probe must be exact: $full")
    // starved probe: probed cells nest, so hits are per-query monotone
    val starved = mem(1)
    starved.foreach { case (q, h) =>
      assert(h <= full(q), s"query $q: starved hits $h above full")
    }
    // persisted compressed form: pruning off + covering overfetch ⇒ 1.0
    val dir = java.nio.file.Files.createTempDirectory("graft-frec").toString
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8, attrCols = Seq("label"))
    val idx = Similarity.filteredIvfPqRecallIndexed(spark, dir, queries,
        "vec_id", "embedding", emb, "vec_id", "embedding", pred,
        k = 10, nProbe = 8, overfetch = (emb.count() / 10 + 1).toInt)
      .as[(Long, Long, Double)].collect()
    assert(idx.forall(_._3 == 1.0),
      s"filtered compressed recall should reach 1.0: ${idx.toSeq}")
  }

  test("knnIvfFiltered: full probe equals brute over the filtered corpus; false predicate is empty") {
    val pred = $"label" % 2 === 0
    // nProbe = nCells sees every cell → exact filtered kNN
    val full = Similarity.knnIvfFiltered(emb, "vec_id", "embedding",
      pred, qv, k = 10, nCells = 8, nProbe = 8)
    val brute = Similarity.knnBrute(emb.where(pred), "vec_id",
      "embedding", qv, k = 10)
    assertSameRows(full, brute)
    // partial probe: results are a subset of the filtered corpus and
    // never contain a predicate-violating id
    val part = Similarity.knnIvfFiltered(emb, "vec_id", "embedding",
        pred, qv, k = 10, nCells = 8, nProbe = 2)
      .select("id").as[Long].collect().toSet
    val evens = emb.where(pred).select("vec_id").as[Long].collect().toSet
    assert(part.subsetOf(evens), s"filtered probe leaked ids: ${part -- evens}")
    assert(Similarity.knnIvfFiltered(emb, "vec_id", "embedding",
      lit(false), qv, k = 10, nCells = 8, nProbe = 8).isEmpty)
  }

  test("knnIvfBatchFiltered: full probe equals brute-filtered per query; consistent with the single-query form") {
    val pred = $"label" % 2 === 0
    val queries = emb.orderBy("vec_id").limit(3)
    val full = Similarity.knnIvfBatchFiltered(queries, "vec_id",
      "embedding", emb, "vec_id", "embedding", pred, k = 5,
      nCells = 8, nProbe = 8)
    val brute = Similarity.knnBruteBatch(queries, "vec_id", "embedding",
      emb.where(pred), "vec_id", "embedding", k = 5)
    assertSameRows(full, brute)
    // partial probe agrees with the single-query filtered form,
    // query by query
    val part = Similarity.knnIvfBatchFiltered(queries, "vec_id",
        "embedding", emb, "vec_id", "embedding", pred, k = 5,
        nCells = 8, nProbe = 2)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    queries.select("vec_id", "embedding").collect().foreach { r =>
      val q = r.getSeq[Float](1).toArray
      val single = Similarity.knnIvfFiltered(emb, "vec_id", "embedding",
          pred, q, k = 5, nCells = 8, nProbe = 2)
        .select("id").as[Long].collect().toSet
      assert(part.getOrElse(r.getLong(0), Set.empty) == single,
        s"query ${r.getLong(0)} disagrees with the single-query form")
    }
  }

  test("ivfRecall: full probe is recall 1.0; partial probe is bounded, complete, consistent") {
    val queries = emb.orderBy("vec_id").limit(4)
    // nProbe = nCells scores every cell → identical to brute force
    val full = Similarity.ivfRecall(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 8)
      .as[(Long, Long, Double)].collect()
    assert(full.length == 4)
    assert(full.forall { case (_, h, r) => h == 5L && r == 1.0 },
      full.mkString(", "))
    // partial probe: one row per query, 0 ≤ n_hit ≤ k, recall = n_hit/k,
    // and the counts equal a direct join of the two paths it composes
    val part = Similarity.ivfRecall(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2)
      .as[(Long, Long, Double)].collect()
    assert(part.length == 4)
    assert(part.forall { case (_, h, r) => h >= 0L && h <= 5L && r == h / 5.0 },
      part.mkString(", "))
    val approx = Similarity.knnIvfBatch(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val exact = Similarity.knnBruteBatch(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val wantHits = approx.intersect(exact).groupBy(_._1)
      .map { case (q, s) => q -> s.size.toLong }
    part.foreach { case (q, h, _) =>
      assert(h == wantHits.getOrElse(q, 0L), s"query $q hit count")
    }
  }

  test("ivfpq streaming ingest: exactly-once per batch id, replay leaves the probe identical") {
    val dir1 = java.nio.file.Files.createTempDirectory("graft-ivfpq-i").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-j").toString
    val cut = emb.agg(org.apache.spark.sql.functions.expr(
      "percentile(vec_id, 0.5)")).head().getDouble(0)
    val first = emb.where($"vec_id" < cut)
    val cut2 = emb.agg(org.apache.spark.sql.functions.expr(
      "percentile(vec_id, 0.75)")).head().getDouble(0)
    val batchA = emb.where($"vec_id" >= cut && $"vec_id" < cut2)
    val batchB = emb.where($"vec_id" >= cut2)
    val cb = Similarity.pqSeededCodebook(first, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", dir1, cb,
      nCells = 8)
    val ingest = Similarity.ivfPqIngestBatch("vec_id", "embedding", dir1) _
    ingest(batchA, 1L)
    ingest(batchB, 2L)
    ingest(batchA, 1L) // replayed batch id: must be a no-op
    val logged = spark.read.parquet(s"$dir1/ingest_log")
    assert(logged.count() == 2, "replay must not append or re-log")
    assert(Similarity.cellStats(spark, dir1).totalRows == emb.count(),
      "replayed batch must not duplicate rows")
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir2, cb,
      nCells = 8)
    val a = Similarity.knnIvfPqIndexed(spark, dir1, emb, "vec_id",
      "embedding", qv, k = 10, nProbe = 3)
    val b = Similarity.knnIvfPqIndexed(spark, dir2, emb, "vec_id",
      "embedding", qv, k = 10, nProbe = 3)
    assertSameRows(a, b)
    // rebuild carries the ingest log (r18 ADVICE): a replayed batch id
    // finds its guard at the new path and stays a no-op
    val dir3 = java.nio.file.Files.createTempDirectory("graft-ivfpq-k").toString
    Similarity.rebuildIvfPqIndex(emb, "vec_id", "embedding", dir1, dir3,
      nCells = 8, m = 4, nCodes = 16,
      strategy = Similarity.SeededCentroids)
    Seq(1L, 2L).foreach(i =>
      assert(graft.sources.BatchLog.contains(
        spark, s"$dir3/ingest_log", i),
        s"batch $i lost its replay guard across the rebuild"))
    val rowsBefore = Similarity.cellStats(spark, dir3).totalRows
    Similarity.ivfPqIngestBatch("vec_id", "embedding", dir3)(batchA, 1L)
    assert(Similarity.cellStats(spark, dir3).totalRows == rowsBefore,
      "a carried batch id re-appended at the rebuilt path")
  }

  test("ivfpq serving loop: streamed queries equal the direct batch probe, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-s").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ivfpq-o").toString
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8)
    val qset = emb.orderBy("vec_id").limit(4)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      .as[(Long, Array[Float])].collect()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("query_id", "qvec").writeStream
      .foreachBatch(Similarity.ivfPqServeBatch(dir, emb, "vec_id",
        "embedding", "query_id", "qvec", out, k = 10, nProbe = 3) _)
      .start()
    try {
      mem.addData(qset(0), qset(1)); q.processAllAvailable()
      mem.addData(qset(2), qset(3)); q.processAllAvailable()
    } finally q.stop()
    val served = spark.read.parquet(s"$out/results")
      .select("query_id", "id", "cosine")
    val direct = Similarity.knnIvfPqBatchIndexed(spark, dir, emb,
      "vec_id", "embedding",
      qset.toSeq.toDF("query_id", "qvec"), "query_id", "qvec",
      k = 10, nProbe = 3)
    assertSameRows(served, direct)
    // replaying a served batch id appends nothing
    val before = spark.read.parquet(s"$out/results").count()
    Similarity.ivfPqServeBatch(dir, emb, "vec_id", "embedding",
      "query_id", "qvec", out, k = 10, nProbe = 3)(
      Seq(qset(0)).toDF("query_id", "qvec"), 0L)
    assert(spark.read.parquet(s"$out/results").count() == before,
      "replayed batch id must not re-serve")
    assert(spark.read.parquet(s"$out/serve_log").count() == 2)
  }

  test("rerank + bloom layout compose: the point-read rerank accepts O(1) row groups of the float corpus") {
    import scala.jdk.CollectionConverters._
    // the full 100 TB serving story in one spec: compressed probe
    // (cell-pruned codes) → bounded candidate ids → static-In rerank
    // against a BLOOM-FILTERED float layout — the rerank's accepted
    // row-group set must be tiny while the corpus layout holds many
    val dir = java.nio.file.Files.createTempDirectory("graft-rrb-i").toString
    val vdir = java.nio.file.Files.createTempDirectory("graft-rrb-v").toString
    // 200x-replicated corpus (shifted ids): enough float bytes that
    // the 64 KB-row-group layout holds hundreds of groups, so the
    // candidate count visibly bounds the accepted set
    val big = (0 until 200).map(i =>
        emb.select(($"vec_id" + lit(i.toLong * 1000000L)).as("vec_id"),
          $"embedding"))
      .reduce(_ unionByName _).localCheckpoint()
    val cb = Similarity.pqSeededCodebook(big, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(big, "vec_id", "embedding", dir, cb,
      nCells = 8)
    graft.sources.Layout.writeWithBloomFilters(
      big.repartition(1).sortWithinPartitions("vec_id"),
      vdir, Seq("vec_id"), ndv = 20000L,
      extraOptions = Map("parquet.block.size" -> "65536"))
    val vectors = spark.read.parquet(vdir)
    val probe = Similarity.knnIvfPqIndexed(spark, dir, vectors,
      "vec_id", "embedding", qv, k = 10, nProbe = 3, overfetch = 4)
    assertSameRows(probe,
      Similarity.knnIvfPqIndexed(spark, dir, big, "vec_id", "embedding",
        qv, k = 10, nProbe = 3, overfetch = 4))
    // measure what the pushed In filter lets the layout skip: row
    // groups whose id-range excludes every candidate (range-sorted ⇒
    // stats prune; the bloom filters back absent-key point probes)
    val candIds = Similarity.ivfPqCoarseCandidates(spark, dir, qv,
        k = 10, nProbe = 3, overfetch = 4, predicate = None)
      .collect().map(_.getLong(0)).toSet
    var total = 0; var accepted = 0
    new java.io.File(vdir).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            spark.sessionState.newHadoopConf()))
        try reader.getFooter.getBlocks.asScala.foreach { rg =>
          total += 1
          val cmd = rg.getColumns.asScala
            .map(c => c.getPath.toDotString -> c).toMap.apply("vec_id")
          val stats = cmd.getStatistics
          val lo = stats.genericGetMin.asInstanceOf[Long]
          val hi = stats.genericGetMax.asInstanceOf[Long]
          if (candIds.exists(id => id >= lo && id <= hi)) accepted += 1
        } finally reader.close()
      }
    info(s"rerank accepts $accepted/$total row groups for " +
      s"${candIds.size} candidates")
    assert(total >= 100, s"layout did not produce many row groups: $total")
    assert(accepted <= math.max(5, total / 10),
      s"rerank should touch a small fraction of row groups: " +
        s"$accepted/$total")
  }

  test("filtered ivfpq serving loop: streamed predicate queries equal the direct filtered batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-fs").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ivfpq-fo").toString
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", dir, cb,
      nCells = 8, attrCols = Seq("label"))
    val pred = $"label" % 2 === 0
    val qset = emb.orderBy("vec_id").limit(4)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      .as[(Long, Array[Float])].collect()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("query_id", "qvec").writeStream
      .foreachBatch(Similarity.ivfPqServeBatch(dir, emb, "vec_id",
        "embedding", "query_id", "qvec", out, k = 10, nProbe = 3,
        predicate = Some(pred)) _)
      .start()
    try {
      mem.addData(qset(0), qset(1)); q.processAllAvailable()
      mem.addData(qset(2), qset(3)); q.processAllAvailable()
    } finally q.stop()
    val served = spark.read.parquet(s"$out/results")
      .select("query_id", "id", "cosine")
    val direct = Similarity.knnIvfPqBatchIndexedFiltered(spark, dir, emb,
      "vec_id", "embedding",
      qset.toSeq.toDF("query_id", "qvec"), "query_id", "qvec", pred,
      k = 10, nProbe = 3)
    assertSameRows(served, direct)
    // served neighbors never violate the predicate
    val legal = emb.where(pred).select($"vec_id".cast("long"))
      .as[Long].collect().toSet
    val servedIds = served.select("id").as[Long].collect().toSet
    assert(servedIds.subsetOf(legal), "filtered serving leaked an id")
  }

  test("lsh knn returns a subset of the corpus ranked consistently with brute") {
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.knnLsh(emb, "vec_id", "embedding", qv, 10).collect()
    assert(lsh.nonEmpty)
    assert(lsh.head.getLong(0) == 0L, "query's own bucket must contain itself")
    lsh.foreach { r =>
      brute.get(r.getLong(0)).foreach(c => assert(math.abs(c - r.getDouble(1)) < 1e-9))
    }
  }

  test("ivf knn probes contain the query vector and rank like brute force") {
    val ivf = Similarity.knnIvf(emb, "vec_id", "embedding", qv, 10,
      nCells = 8, nProbe = 3).collect()
    assert(ivf.nonEmpty)
    assert(ivf.head.getLong(0) == 0L, "query's own cell must contain it")
    assert(math.abs(ivf.head.getDouble(1) - 1.0) < 1e-9)
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", qv, 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { r =>
      brute.get(r.getLong(0)).foreach(c => assert(math.abs(c - r.getDouble(1)) < 1e-9))
    }
    val cosines = ivf.map(_.getDouble(1))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  test("semDedup: lowest-id survives, pruning chains, clusters scope the pairs") {
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // centroids (SeededCentroids, nClusters=2) = ids 0/1 → 0° and 90°.
    // cell0 = {0@0°, 2@10°, 3@28°, 5@44°}, cell1 = {1@90°, 4@47°}.
    // thr 0.95 ≈ cos(18.2°): 2 pruned by 0 (cos10°=.985); 3 pruned by
    // 2 (cos18°=.951 — chains through an already-pruned doc); 5 pruned
    // by 3 (cos16°=.961); 4 kept (vs 1: cos43°=.731) even though its
    // nearest neighbor 5 sits at cos3°=.9986 — CROSS-cluster pairs are
    // never compared (the SemDeDup recall/efficiency trade).
    val df = Seq(
      0L -> v(0), 1L -> v(90), 2L -> v(10),
      3L -> v(28), 4L -> v(47), 5L -> v(44)
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
        nClusters = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L),
      "one row per input vector")
    assert(out.view.mapValues(_._1).toMap ==
      Map(0L -> 0, 2L -> 0, 3L -> 0, 5L -> 0, 1L -> 1, 4L -> 1))
    assert(out.view.mapValues(_._2).toMap ==
      Map(0L -> true, 1L -> true, 4L -> true,
          2L -> false, 3L -> false, 5L -> false))
  }

  test("semDedup maxClusterSize: oversized cluster skips pairing, all kept") {
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val df = Seq(
      0L -> v(0), 1L -> v(90), 2L -> v(10),
      3L -> v(28), 4L -> v(47), 5L -> v(44)
    ).toDF("vec_id", "embedding")
    // cell0 has 4 members > cap 3 → flood-guarded: no pairing, all
    // kept (conservative). cell1 (2 ≤ 3) still dedups — 4 kept anyway.
    val out = Similarity.semDedup(df, "vec_id", "embedding",
        nClusters = 2, threshold = 0.95, maxClusterSize = 3L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.values.forall(identity), "guarded cluster keeps everything")
    assert(out.size == 6)
  }

  test("semDedupFlagStream flags same-cluster near-dups, batch twin equal") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val corpus = Seq(
      0L -> v(0), 1L -> v(90), 2L -> v(10),
      3L -> v(28), 4L -> v(47), 5L -> v(44)
    ).toDF("vec_id", "embedding")
    val scope = new graft.operators.Dedup.CacheScope
    val mem = MemoryStream[(Long, Array[Float])]
    val flagged = Similarity.semDedupFlagStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      corpus, "vec_id", "embedding",
      nClusters = 2, threshold = 0.95, scope = scope)
    assert(flagged.isStreaming)
    val q = flagged.writeStream.format("memory").queryName("semdedup_flags")
      .outputMode(OutputMode.Append()).start()
    try {
      // 100@5°: cell 0, within cos⁻¹(.95)≈18° of members 0@0° and
      // 2@10° only. 101@70°: cell 1, ≥20° from both cell-1 members —
      // admitted unflagged (44° sits at cos26°=.899 but in cell 0).
      mem.addData(100L -> v(5), 101L -> v(70))
      q.processAllAvailable()
      val rows = spark.table("semdedup_flags")
        .select("id", "corpus_id", "cluster")
        .as[(Long, Long, Int)].collect().toSet
      assert(rows == Set((100L, 0L, 0), (100L, 2L, 0)), rows.toString)
      val batch = Similarity.semDedupFlagStream(
          Seq(100L -> v(5), 101L -> v(70)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", corpus, "vec_id", "embedding",
          nClusters = 2, threshold = 0.95, scope = scope)
        .select("id", "corpus_id", "cluster")
        .as[(Long, Long, Int)].collect().toSet
      assert(batch == rows)
    } finally { q.stop(); scope.release() }
  }

  test("semDedup pair join shuffles on cluster, never cartesian; one assignment pass") {
    val scope = new graft.operators.Dedup.CacheScope
    try {
      // fresh (uncached) load: the fixture's .cache() would add its own
      // InMemoryRelations and break the kernels == cached equality below
      val raw = Tables.load(spark, sfDir, "embeddings")
      val plan = Similarity.semDedup(raw, "vec_id", "embedding",
          nClusters = 8, threshold = 0.4, scope = scope)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Cartesian"),
        "intra-cluster pairs must come from an equi-join on cell")
      // the assignment projection is cached: all three consumers (both
      // self-join sides + the keep/prune join) read the cache, so the
      // kernel runs once per row at cache build. Each InMemoryTableScan
      // prints its cached build plan (containing the kernel), so kernel
      // mentions must equal InMemoryRelation mentions — a live kernel
      // evaluation breaks the equality (the d02/d07 plan-audit stance)
      val kernels = "nearest_centroid".r.findAllIn(plan).size
      // count only the ASSIGNMENT relation (schema leads with id, cell,
      // vec, nrm) — the underlying table may carry its own cache
      val cached = "InMemoryRelation \\[id#".r.findAllIn(plan).size
      assert(cached > 0, s"assignment projection not cached:\n$plan")
      assert(kernels == cached,
        s"assignment kernel evaluated outside the cache " +
          s"($kernels kernels vs $cached cached relations):\n$plan")
    } finally scope.release()
  }

  test("diversifyTopK: λ=1 is relevance order; low λ swaps a duplicate for diversity") {
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val df = Seq(1L -> v(0), 2L -> v(0), 3L -> v(30), 4L -> v(80))
      .toDF("vec_id", "embedding")
    val qv = Array(1f, 0f)
    val rel = Similarity.diversifyTopK(df, "vec_id", "embedding", qv,
        k = 3, lambdaRel = 1.0, overfetch = 4)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    assert(rel == Seq((1, 1L), (2, 2L), (3, 3L)),
      "λ=1: pure relevance, score ties → lower id")
    // λ=0.3: the exact duplicate (id 2) scores .3·1 − .7·1 = −.4;
    // the orthogonal-ish id 4 scores .3·.174 − .7·.174 ≈ −.07 → wins
    // rank 2; id 3 (maxSim .866 vs id 1) beats id 2 for rank 3
    val div = Similarity.diversifyTopK(df, "vec_id", "embedding", qv,
        k = 3, lambdaRel = 0.3, overfetch = 4)
      .select("rank", "id", "mmr").as[(Int, Long, Double)].collect().toSeq
    assert(div.map(t => (t._1, t._2)) ==
      Seq((1, 1L), (2, 4L), (3, 3L)), div.toString)
    assert(math.abs(div.head._3 - 0.3) < 1e-9,
      "rank 1's mmr is λ·cosine with no penalty")
  }

  test("knn classification predicts the planted cluster label") {
    val df = Seq(
      (0L, Array(1f, 0f), 1), (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.95f, 0.05f), 1),
      (3L, Array(0f, 1f), 2), (4L, Array(0.1f, 0.9f), 2),
      (5L, Array(0.05f, 0.95f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(
        df.where($"vec_id".isin(0L, 3L)), "vec_id", "embedding",
        df, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(out(0L) == ((1, 2L)), "query 0 sits in the label-1 cluster")
    assert(out(3L) == ((2, 2L)), "query 3 sits in the label-2 cluster")
  }

  test("nearest_centroid kernel equals the greatest(struct) chain, ties to lowest cell") {
    val cents = emb.orderBy("vec_id").limit(16)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // the pre-round-8 assignment formulation, replayed verbatim
    val chainCell = {
      val cellOf = cents.zipWithIndex.map { case (c, i) =>
        struct(VectorOps.dot($"embedding", typedlit(c.toSeq)).as("score"),
               lit(-i).as("negcell"))
      }
      -greatest(cellOf.toIndexedSeq: _*).getField("negcell")
    }
    val both = emb.select($"vec_id",
        VectorOps.nearestCentroid($"embedding", cents.flatten, 64).as("k"),
        chainCell.as("c"))
      .where($"k" =!= $"c")
    assert(both.count() == 0, "kernel and chain must assign identically")
    // duplicate centroids: tie breaks to the LOWEST cell both ways
    val dup = Array(cents(3), cents(3), cents(7))
    val tied = emb.limit(50).select(
        VectorOps.nearestCentroid($"embedding", dup.flatten, 64).as("k"))
      .where($"k" === 1)
    assert(tied.count() == 0, "a duplicate twin cell must never win")
  }

  test("nearest_centroid survives whole-stage codegen and rejects bad dims") {
    // fallback=false makes a Janino failure a test failure, not a
    // silent drop to the interpreted path
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = emb.select(VectorOps.nearestCentroid(
          $"embedding", Array.fill(128)(0.5), 64).as("c"))
        .where($"c" === 0).count()
      assert(n == emb.count(), "identical centroids: every row ties to cell 0")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    intercept[Exception] {
      emb.select(VectorOps.nearestCentroid(
        $"embedding", Array.fill(96)(0.5), 48).as("c")).collect()
    }
  }

  test("hyperplane_sigs kernel equals the composed per-band signatures") {
    val dim = 64; val bands = 12; val bits = 6
    val allPlanes = (0 until bands).map(b => Similarity.planes(dim, bits, 7L + b))
    val a = emb.select($"vec_id",
      VectorOps.hyperplaneSigs($"embedding", bands, bits, dim, 7L).as("sigs"))
    val b = emb.select($"vec_id",
      array(allPlanes.map(ps =>
        Similarity.signature($"embedding", ps)): _*).as("sigs"))
    assertSameRows(a, b)
  }

  test("persisted ivf index: probe equals in-memory knnIvf and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8)
    val probe = Similarity.knnIvfIndexed(spark, dir, qv, k = 10, nProbe = 3)
    val mem = Similarity.knnIvf(emb, "vec_id", "embedding", qv, 10,
      nCells = 8, nProbe = 3)
    assertSameRows(probe, mem)
    // the probe must reach the scan as a partition filter — at 100 TB
    // this is the difference between reading 3/8 of the files and all
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("cell")), s"no partition filter on cell:\n$plan")
  }

  test("attr-carrying ivf index: filtered probe equals in-memory, pushes BOTH prunes, survives append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-attr").toString
    val cut = emb.agg(org.apache.spark.sql.functions.expr(
      "percentile(vec_id, 0.5)")).head().getDouble(0)
    val first = emb.where($"vec_id" < cut)
    val second = emb.where($"vec_id" >= cut)
    Similarity.writeIvfIndex(first, "vec_id", "embedding", dir,
      nCells = 8, attrCols = Seq("label"))
    Similarity.appendToIvfIndex(second, "vec_id", "embedding", dir)
    val pred = $"label" % 2 === 0
    val probe = Similarity.knnIvfIndexedFiltered(spark, dir, pred, qv,
      k = 10, nProbe = 3)
    val mem = Similarity.knnIvfFiltered(emb, "vec_id", "embedding",
      pred, qv, k = 10, nCells = 8, nProbe = 3)
    assertSameRows(probe, mem)
    // both prunes must reach the scan: cell partition pruning AND the
    // attribute predicate as a pushed row-group filter
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.linesIterator.find(_.contains("PartitionFilters"))
      .exists(_.contains("cell")), s"no partition filter on cell:\n$plan")
    assert(plan.linesIterator.find(_.contains("PushedFilters"))
      .exists(_.contains("label")), s"label predicate not pushed:\n$plan")
    // an append frame missing the stored attribute fails fast
    val err = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(
        second.drop("label"), "vec_id", "embedding", dir)
    }
    assert(err.getMessage.contains("label"))
  }

  test("ivf index append: probe equals the in-memory path over the union") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    val cut = emb.agg(org.apache.spark.sql.functions.expr(
      "percentile(vec_id, 0.5)")).head().getDouble(0)
    val first = emb.where($"vec_id" < cut)
    val second = emb.where($"vec_id" >= cut)
    // seeded centroids = the 8 lowest ids, all inside `first`, so the
    // appended index and a full one-shot build share exact centroids
    Similarity.writeIvfIndex(first, "vec_id", "embedding", dir, nCells = 8)
    Similarity.appendToIvfIndex(second, "vec_id", "embedding", dir)
    val appended = Similarity.knnIvfIndexed(spark, dir, qv, k = 10, nProbe = 3)
    val mem = Similarity.knnIvf(emb, "vec_id", "embedding", qv, 10,
      nCells = 8, nProbe = 3)
    assertSameRows(appended, mem)
    // nothing lost, nothing duplicated, and the new rows live in
    // real cell partitions (readable through the partitioned layout)
    val stored = spark.read.parquet(s"$dir/cells")
    assert(stored.count() == emb.count())
    assert(stored.select("id").distinct().count() == emb.count())
  }

  test("cosineDecontaminate equals within-corpus pairs restricted to cross-split") {
    // same hyperplanes, same collision condition, same verify ⇒ the
    // cross-corpus result must be exactly the within-corpus near-dup
    // pairs with one id on each side of the split
    val cross = Similarity.cosineDecontaminate(
        emb.where($"vec_id" % 10 =!= 0), emb.where($"vec_id" % 10 === 0),
        "vec_id", "embedding", dim = 64, threshold = 0.4,
        bands = 12, bitsPerBand = 6)
      .select("id_left", "id_right").as[(Long, Long)].collect()
      .map { case (l, r) => (math.min(l, r), math.max(l, r)) }.toSet
    val full = Similarity.cosineDuplicates(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.4, bands = 12, bitsPerBand = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }.toSet
    assert(cross == full)
    assert(cross.nonEmpty, "the probe needs signal to be meaningful")
  }

  test("cosineDecontaminate bucket cap removes a template flood, keeps real pairs") {
    // the embedding analogue of the text boilerplate flood: one
    // template direction embedded 200x in train and 200x in eval.
    // Every copy shares the template's (band, sig) keys, so uncapped
    // banding carries 200x200 cross pairs from those buckets alone;
    // the cap drops the saturated keys from BOTH sides. The contract
    // (same stance as the d07 text probe): a capped flooded run
    // restores exactly the clean corpus's verified pairs. Cap sizing
    // differs from the text path on purpose: 6-bit sign-LSH has only
    // 64 buckets per band, so ORGANIC occupancy runs far above text
    // minhash buckets (measured here: a cap of 8 drops two real pairs
    // whose only collisions sit in heavy organic buckets; 32 loses
    // none); the rule is cap > organic max, well under the flood.
    val template = Seq.tabulate(64)(j => if (j % 2 == 0) 1f else -1f)
    val flood = (900000L until 900200L).map(i => (i, template))
      .toDF("vec_id", "embedding")
    val train = emb.where($"vec_id" % 10 =!= 0)
      .select($"vec_id", $"embedding").unionByName(flood)
    val ev = emb.where($"vec_id" % 10 === 0).select($"vec_id", $"embedding")
      .unionByName(flood.select(($"vec_id" + 1000L).as("vec_id"), $"embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_left", "id_right").as[(Long, Long)].collect().toSet
    val cleanPairs = pairs(Similarity.cosineDecontaminate(
      emb.where($"vec_id" % 10 =!= 0), emb.where($"vec_id" % 10 === 0),
      "vec_id", "embedding", dim = 64, threshold = 0.4,
      bands = 12, bitsPerBand = 6))
    val cappedFlood = pairs(Similarity.cosineDecontaminate(
      train, ev, "vec_id", "embedding", dim = 64, threshold = 0.4,
      bands = 12, bitsPerBand = 6, maxBucketSize = 32))
    assert(cappedFlood == cleanPairs,
      "the cap should remove exactly the flood and keep every real pair")
  }

  test("cellStats: balanced build passes; drifted appends trip needsRebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stats").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8)
    val before = Similarity.cellStats(spark, dir)
    assert(before.nCells == 8 && before.totalRows == emb.count())
    assert(before.minCell + before.maxCell > 0 &&
      before.meanCell * 8 == before.totalRows)
    // the synthetic corpus is near-uniform over the seeded cells: the
    // documented 4x max/mean threshold must NOT fire on a fresh build
    assert(!Similarity.needsRebuild(before),
      s"fresh build should not need a rebuild: $before")
    // drift: a batch of one repeated vector (10x the corpus) — every
    // appended row assigns to the same stored centroid, the definition
    // of distribution drift under append-only maintenance
    val one = emb.orderBy("vec_id").limit(1)
      .select($"embedding").head().getSeq[Float](0)
    val n = emb.count() * 10
    val drifted = spark.range(n)
      .select(($"id" + 5000000L).as("vec_id"),
        typedlit(one).cast("array<float>").as("embedding"))
    Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", dir)
    val after = Similarity.cellStats(spark, dir)
    assert(after.totalRows == before.totalRows + n)
    // the constant vector assigns to exactly one stored centroid, so
    // some single cell absorbed the whole batch
    assert(after.maxCell >= n,
      s"the drifted batch must all land in one cell: $after")
    assert(after.skew > 4.0 && Similarity.needsRebuild(after),
      s"drifted append must trip the rebuild threshold: $after")
  }

  test("rebuildIvfIndex: k-means over the drifted corpus restores balance") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rb").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", s"$dir/v1", nCells = 8)
    // drift: a 10x batch clustered near one direction, deterministic
    // per-element noise so the cluster has real extent (k-means can
    // split what identical copies would pin to a point)
    val one = emb.orderBy("vec_id").limit(1)
      .select($"embedding").head().getSeq[Float](0)
    val n = emb.count() * 10
    val noisy = transform(typedlit(one), (x, j) =>
      x + (pmod(xxhash64($"vec_id" * 64 + j), lit(1000)) / lit(1000.0) -
        lit(0.5)) * lit(0.2)).cast("array<float>")
    val drifted = spark.range(n)
      .select(($"id" + 5000000L).as("vec_id"), noisy.as("embedding"))
    Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", s"$dir/v1")
    val statsDrift = Similarity.cellStats(spark, s"$dir/v1")
    assert(Similarity.needsRebuild(statsDrift), s"drift not visible: $statsDrift")

    Similarity.rebuildIvfIndex(spark, s"$dir/v1", s"$dir/v2", nCells = 8)
    val statsNew = Similarity.cellStats(spark, s"$dir/v2")
    // nothing lost, balance restored: k-means places several centroids
    // inside the dense drifted cluster, splitting the load the stale
    // seeded centroids pinned to one cell
    assert(statsNew.totalRows == statsDrift.totalRows)
    assert(spark.read.parquet(s"$dir/v2/cells").select("id")
      .distinct().count() == statsNew.totalRows)
    assert(statsNew.skew < statsDrift.skew / 2,
      s"rebuild should at least halve the skew: $statsDrift -> $statsNew")
    assert(!Similarity.needsRebuild(statsNew),
      s"rebuilt index still trips the threshold: $statsNew")
    // the old index stays probe-able throughout (immutable contract)
    val probeOld = Similarity.knnIvfIndexed(spark, s"$dir/v1", qv, 5, nProbe = 8)
    assert(probeOld.count() == 5)
    // in-place rebuild refused
    val e = intercept[IllegalArgumentException](
      Similarity.rebuildIvfIndex(spark, s"$dir/v2", s"$dir/v2", 8))
    assert(e.getMessage.contains("swap pointers"))
  }

  test("kmeans centroids recover recall that lowest-id seeding loses on clustered vectors") {
    // 8 clusters along basis directions; ids laid out so the 16 LOWEST
    // ids all sit in cluster 0 — the adversarial-but-realistic case for
    // seeded centroids (sorted ingest order), where every seed lands in
    // one cluster. Geometry note: the failure only shows once
    // sqrt(dim)·σ ≳ 2 — below that, a vector's cell assignment and the
    // query's probe ranking key on the SAME per-centroid noise
    // coordinates and stay correlated, hiding the damage (recall looks
    // fine even with all 16 centroids inside one cluster). dim=256,
    // σ=0.125 decorrelates them while keeping intra-cluster cosine
    // (≈0.2) well above inter-cluster (≈0.05), so brute-force
    // neighborhoods and k-means cells still follow the true clusters.
    val dim = 256; val nClusters = 8; val perCluster = 64
    val rnd = new scala.util.Random(1234L)
    def point(c: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.125f)
      v(c) += 1f
      v
    }
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield ((c * perCluster + i).toLong, point(c).toSeq)
    val corpus = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val query = point(5)
    val brute = Similarity.knnBrute(corpus, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    def recall(strategy: Similarity.CentroidStrategy): Double = {
      val got = Similarity.knnIvf(corpus, "vec_id", "embedding", query,
          10, nCells = 16, nProbe = 4, strategy = strategy)
        .collect().map(_.getLong(0)).toSet
      got.intersect(brute).size / 10.0
    }
    val seeded = recall(Similarity.SeededCentroids)
    val kmeans = recall(Similarity.KMeansCentroids())
    info(s"recall@10 at nProbe=4: seeded=$seeded kmeans=$kmeans")
    assert(kmeans >= 0.9, s"kmeans recall@10 only $kmeans (seeded $seeded)")
    assert(seeded <= kmeans - 0.3,
      s"seeded recall $seeded not well below kmeans $kmeans — corpus not adversarial?")
    // the persisted-index path replays the k-means centroids exactly
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-km").toString
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", dir,
      nCells = 16, strategy = Similarity.KMeansCentroids())
    val probe = Similarity.knnIvfIndexed(spark, dir, query, k = 10, nProbe = 4)
    val mem = Similarity.knnIvf(corpus, "vec_id", "embedding", query, 10,
      nCells = 16, nProbe = 4, strategy = Similarity.KMeansCentroids())
    assertSameRows(probe, mem)
  }

  test("ivf index assigns every vector to exactly one of nCells cells") {
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding", nCells = 8)
    assert(idx.count() == emb.count())
    val cells = idx.select("cell").distinct().collect().map(_.getInt(0)).sorted
    assert(cells.forall(c => c >= 0 && c < 8))
  }

  test("batch ivf knn equals per-query knnIvf for every query and strategy") {
    val queries = emb.orderBy("vec_id").limit(3)
    val qvecs = queries.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    for (strategy <- Seq(Similarity.SeededCentroids,
                         Similarity.KMeansCentroids())) {
      val batch = Similarity.knnIvfBatch(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 3,
          strategy = strategy)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val single = qvecs.flatMap { case (qid, qv) =>
        Similarity.knnIvf(emb, "vec_id", "embedding", qv, 5,
            nCells = 8, nProbe = 3, strategy = strategy)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
      assert(batch == single,
        s"$strategy: batch=${batch.size} single=${single.size} " +
          s"diff=${batch.diff(single)} ${single.diff(batch)}")
    }
  }

  test("batch probe of a persisted ivf index equals the inline path and prunes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-batch").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8)
    val queries = emb.orderBy("vec_id").limit(3)
    val probe = Similarity.knnIvfBatchIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
    val inline = Similarity.knnIvfBatch(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 3)
    assertSameRows(probe, inline)
    // probed cells reach the scan as a static partition filter
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("cell")), s"no partition filter on cell:\n$plan")
  }

  test("persisted ivf probes accept a pre-round-5 float centroid format") {
    // older writeIvfIndex stored centroids as the raw float vectors;
    // a long-lived index must keep probing after upgrade
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-old").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8)
    val expect = Similarity.knnIvfIndexed(spark, dir, qv, k = 10, nProbe = 3)
      .collect().toSeq
    // rewrite the centroids in the legacy float layout (seeded
    // centroids ARE raw corpus vectors, so the float cast is lossless
    // and the probe must rank identically)
    val legacy = spark.read.parquet(s"$dir/centroids")
      .select(col("cv").cast("array<float>").as("cv"), col("cell"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-leg").toString
    legacy.write.parquet(s"$tmp/centroids")
    spark.read.parquet(s"$tmp/centroids")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val got = Similarity.knnIvfIndexed(spark, dir, qv, k = 10, nProbe = 3)
      .collect().toSeq
    assert(got == expect, s"legacy centroid probe diverged: $got vs $expect")
  }

  test("batch knn equals per-query knnBrute for every query vector") {
    val queries = emb.orderBy("vec_id").limit(3)
    val batch = Similarity.knnBruteBatch(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = queries.select("vec_id", "embedding").collect()
      .flatMap { q =>
        val qid = q.getLong(0)
        val qv = q.getSeq[Float](1).toArray
        Similarity.knnBrute(emb, "vec_id", "embedding", qv, 5)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
    assert(batch == single)
  }

  test("cosineDuplicates returns symmetric-free pairs above threshold") {
    val pairs = Similarity.cosineDuplicates(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.4, bands = 12, bitsPerBand = 6).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("knnPqBatch equals per-query knnPq, row for row") {
    val cb = Similarity.pqSeededCodebook(emb, "vec_id", "embedding",
      m = 4, nCodes = 16)
    val qIds = Seq(0L, 200L, 400L)
    val queries = emb.where(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Similarity.knnPqBatch(queries, "query_id", "embedding",
      emb, "vec_id", "embedding", k = 10, cb = cb, overfetch = 4)
    for (qid <- qIds) {
      val qv = emb.where(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val single = Similarity.knnPq(emb, "vec_id", "embedding", qv,
          k = 10, cb = cb, overfetch = 4)
        .withColumn("query_id", lit(qid))
        .select("query_id", "id", "cosine")
      assertSameRows(batch.where(col("query_id") === qid), single)
    }
  }

  test("clusterProfile: partition-complete, driver-checked assignment, purity bounds") {
    val prof = Similarity.clusterProfile(emb, "vec_id", "embedding",
      "label", nClusters = 8).collect()
    assert(prof.map(_.getLong(1)).sum == emb.count(),
      "every vector must land in exactly one cluster")
    // driver-side brute-force replay of the argmax-dot assignment for
    // the first centroid's population
    val cents = emb.orderBy("vec_id").limit(8)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0d; var j = 0
      while (j < b.length) { s += a(j) * b(j); j += 1 }; s
    }
    val expected0 = all.count { case (_, v) =>
      val scores = cents.map(c => dot(v, c))
      scores.indexOf(scores.max) == 0
    }
    val row0 = prof.find(_.getInt(0) == 0).get
    assert(row0.getLong(1) == expected0,
      s"cluster 0 size ${row0.getLong(1)} != brute-force $expected0")
    prof.foreach { r =>
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0, "purity in (0,1]")
      assert(r.getDouble(2) <= 1.000001, "mean cosine bounded")
      assert(r.getLong(4) <= r.getLong(1), "top label count <= cluster size")
    }
    // partition-order independence (exact micro-quantized sums)
    val re = Similarity.clusterProfile(
      emb.repartition(13, col("vec_id")), "vec_id", "embedding",
      "label", nClusters = 8)
    assertSameRows(
      Similarity.clusterProfile(emb, "vec_id", "embedding", "label", 8), re)
  }
}

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("bounded-heap topk matches window row_number on the customer table") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val customer = Tables.load(spark, sfDir, "customer")
    val viaAgg = customer.groupBy("c_nationkey")
      .agg(graft.functions.TopK.topk(col("c_acctbal"), col("c_custkey"), 3).as("top"))
      .select(col("c_nationkey"), explode(col("top")).as("e"))
      .select(col("c_nationkey"), col("e.id"), col("e.ord"))
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val viaWindow = customer
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
              row_number().over(w).as("rn"))
      .where(col("rn") <= 3)
      .select(col("c_nationkey"), col("c_custkey").as("id"),
              col("c_acctbal").as("ord"))
    assertSameRows(viaAgg, viaWindow)
  }

  test("NaN ordinals rank first regardless of arrival order (total order)") {
    import org.apache.spark.sql.functions._
    // Spark's DESC sort puts NaN above every double; the bounded heap
    // must agree no matter which partition the NaN row arrives from
    val rows = Seq((1L, 0.9, 10L), (1L, Double.NaN, 7L), (1L, 0.8, 20L))
    for (perm <- rows.permutations.toSeq) {
      val got = perm.toDF("g", "ord", "id").repartition(3)
        .groupBy("g")
        .agg(graft.functions.TopK.topk(col("ord"), col("id"), 2).as("top"))
        .select(explode(col("top.id")).as("id")).as[Long].collect().toSeq
      assert(got == Seq(7L, 10L), s"perm $perm gave $got")
    }
  }

  test("long-ordinal topk ranks exactly past the double 2^53 cliff") {
    import org.apache.spark.sql.functions._
    val base = 9007199254740992L // 2^53
    // base+1 is NOT representable as a double: a double-ord heap ties
    // these rows and falls back to the smaller id, silently
    // mis-ranking — exactly the regime a 1e9-doc BM25 idf sum reaches.
    // The long-ord heap must rank the truly-larger ord first.
    val df = Seq((1L, base, 100L), (1L, base + 1L, 200L))
      .toDF("g", "ord", "id").repartition(2)
    val viaLong = df.groupBy("g")
      .agg(graft.functions.TopK.topkLong(col("ord"), col("id"), 1).as("top"))
      .select(element_at(col("top"), 1).getField("id")).as[Long].collect()
    assert(viaLong.toSeq == Seq(200L))
    val viaDouble = df.groupBy("g")
      .agg(graft.functions.TopK.topk(col("ord"), col("id"), 1).as("top"))
      .select(element_at(col("top"), 1).getField("id")).as[Long].collect()
    assert(viaDouble.toSeq == Seq(100L), "the documented double cliff")
    // output ord keeps the long type and the exact values, best first
    val out = df.groupBy("g")
      .agg(graft.functions.TopK.topkLong(col("ord"), col("id"), 2).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.ord"), col("e.id")).as[(Long, Long)].collect().toSeq
    assert(out == Seq((base + 1L) -> 200L, base -> 100L))
  }

  test("topk handles groups smaller than k and duplicate ordinals") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 5.0, 10L), (1L, 5.0, 11L), (2L, 1.0, 20L))
      .toDF("g", "ord", "id")
    val out = df.groupBy("g")
      .agg(graft.functions.TopK.topk(col("ord"), col("id"), 5).as("top"))
      .select(col("g"), explode(col("top")).as("e"))
      .select(col("g"), col("e.id")).as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L), (1L, 11L), (2L, 20L)))
    // tie at ord=5.0 → smaller id first
    val first = df.groupBy("g")
      .agg(graft.functions.TopK.topk(col("ord"), col("id"), 1).as("top"))
      .select(col("g"), element_at(col("top"), 1).getField("id"))
      .as[(Long, Long)].collect().toMap
    assert(first(1L) == 10L)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("t32 dsir: exact weight formula on hand-counted shingles; null docs sit out; draw = weightedSample") {
    import graft.operators.Sampling
    // Shingle vocabulary (k=3): A = "a b c", B = "b c d".
    //   train: doc1 {A}, doc2 {B}, doc3 {B}, doc4 {A,B}, doc5 null
    //   target: two docs, both {A}
    // Counts: c_s(A)=2, c_s(B)=3, n_s=5; c_t(A)=2, c_t(B)=0, n_t=2.
    // Leaning (strict cross-multiply): A 2·5 > 2·2 → target-leaning;
    // B 0·5 > 3·2 → not.
    val train = Seq((1L, "a b c"), (2L, "b c d"), (3L, "b c d"),
      (4L, "a b c d"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val target = Seq((101L, "a b c"), (102L, "a b c"))
      .toDF("doc_id", "text")
    val aff = TextAnalysis.domainAffinity(
      train, target, "doc_id", "text", shingleK = 3)
    val counts = aff.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc5 (null text → zero shingles) must SIT OUT, not appear at 0
    assert(counts == Map(1L -> ((1L, 1L)), 2L -> ((1L, 0L)),
      3L -> ((1L, 0L)), 4L -> ((2L, 1L))), s"affinity counts: $counts")
    // w = 1 + ⌊8·leaning/shingles⌋ in EXACT integer arithmetic:
    // doc1 1+8=9, doc2/doc3 1+0=1, doc4 1+⌊8/2⌋=5
    val weighted = aff.select(col("id").as("doc_id"),
      expr("1L + (n_target_leaning * 8L) div n_shingles").as("w"))
    val w = weighted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w == Map(1L -> 9L, 2L -> 1L, 3L -> 1L, 4L -> 5L),
      s"weights: $w")
    // the t32 draw IS weightedSample on the precomputed weights —
    // same rows, same keys, same order
    val drawn = Sampling.weightedSample(weighted, "doc_id", col("w"), k = 3)
      .select("doc_id", "w", "sample_key")
      .collect().map(_.toString).toSeq
    val manual = Sampling.weightedSample(
      Seq((1L, 9L), (2L, 1L), (3L, 1L), (4L, 5L)).toDF("doc_id", "w"),
      "doc_id", col("w"), k = 3)
      .select("doc_id", "w", "sample_key")
      .collect().map(_.toString).toSeq
    assert(drawn == manual, s"draw diverged:\n$drawn\n$manual")
  }

  test("normalizeUrl lowers scheme+host only, strips utm/fragment/dangling ?") {
    import graft.operators.TextAnalysis
    val cases = Seq(
      // utm in the middle: '?' must survive for the remaining param
      ("HTTPS://WWW.Ex.COM/Path/A?utm_s=x&id=3&utm_c=y#f",
        "https://www.ex.com/Path/A?id=3", "www.ex.com"),
      // only utm params: the dangling '?' goes too
      ("http://a.B.c/p?utm_only=1", "http://a.b.c/p", "a.b.c"),
      // nothing to strip; PATH case preserved
      ("https://Host.org/CaseSensitive/Path", "https://host.org/CaseSensitive/Path", "host.org"),
      // fragment without query
      ("https://h.io/x#section-2", "https://h.io/x", "h.io"),
      // '&'/'utm_' are legal in PATHS — stripping must not touch them
      ("https://x.com/a&utm_b/c?utm_z=1", "https://x.com/a&utm_b/c", "x.com"),
      // a query string may contain a second '?' — only the LEADING
      // utm param is position-stripped
      ("https://x.com/p?utm_a=1&q=what?", "https://x.com/p?q=what?", "x.com"))
    val df = cases.map(_._1).zipWithIndex.map(_.swap).toDF("i", "url")
    val (norm, host) = TextAnalysis.normalizeUrl(col("url"))
    val got = df.select(col("i"), norm, host).orderBy("i")
      .as[(Int, String, String)].collect()
    for (((u, wantN, wantH), (_, gotN, gotH)) <- cases.zip(got)) {
      assert(gotN == wantN, s"norm($u)")
      assert(gotH == wantH, s"host($u)")
    }
  }

  test("bigramMerges counts adjacent pairs; sub-2-token docs contribute nothing") {
    import graft.operators.TextAnalysis
    val df = Seq("a b c a b", "a b", "solo", "").toDF("text")
    val got = TextAnalysis.bigramMerges(df, "text", k = 10)
      .as[(String, Long)].collect().toList
    // "a b c a b": pairs (a b)(b c)(c a)(a b); "a b": (a b) → a b ×3
    assert(got == List(("a b", 3L), ("b c", 1L), ("c a", 1L)), got.toString)
  }

  test("collocations ranks by exact lift; minCount drops hapax pairs") {
    import graft.operators.{Dedup, TextAnalysis}
    val scope = new Dedup.CacheScope
    try {
      // 'new york' always adjacent (high lift); 'the cat' adjacent
      // twice but both words common elsewhere (low lift); 'rare gem'
      // occurs once → hapax, cut by minCount=2
      val df = Seq(
        "new york new york", "the cat sat", "the cat ran the dog",
        "rare gem").toDF("text")
      val got = TextAnalysis.collocations(df, "text", k = 10,
          minCount = 2, scope = scope)
        .as[(String, Long, Long, Long, Double)].collect().toList
      assert(!got.exists(_._1 == "rare gem"), got.toString)
      // N = 14 unigram tokens. new york: c_ab=2 c_a=2 c_b=2 →
      // lift 2·14/4 = 7.0; the cat: c_ab=2, the=3, cat=2 → 2·14/6;
      // york new: 1 → hapax, cut
      val m = got.map(g => g._1 -> g).toMap
      assert(m("new york") == (("new york", 2L, 2L, 2L, 7.0)), got.toString)
      assert(m("the cat") ==
        (("the cat", 2L, 3L, 2L, 2.0 * 14.0 / (3.0 * 2.0))), got.toString)
      assert(got.map(_._5) == got.map(_._5).sorted.reverse, got.toString)
    } finally scope.release()
  }

  test("bpeTrain learns the hand-computed merge sequence") {
    import graft.operators.TextAnalysis
    // the classic subword-nmt corpus: low×5, lower×2, newest×6,
    // widest×3. Hand-computed pair totals per round:
    //  r1: (e,s)=9 ties (s,t)=9 → 'e s' wins on pair asc
    //  r2: (es,t)=9 (newest 6 + widest 3)
    //  r3: (l,o)=7 ties (o,w)=7 → 'l o' wins
    //  r4: (lo,w)=7
    val docs = Seq(
      Seq.fill(5)("low"), Seq.fill(2)("lower"),
      Seq.fill(6)("newest"), Seq.fill(3)("widest"))
      .flatten.mkString(" ")
    val merges = TextAnalysis.bpeTrain(
        Seq(docs).toDF("text"), "text", numMerges = 4)
      .as[(Int, String, String, Long)].collect().toList
    assert(merges == List(
      (1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)), merges.toString)
  }

  test("bpeTrain splits on codepoints: astral chars stay distinct symbols") {
    import graft.operators.TextAnalysis
    // two DIFFERENT astral-plane characters: a per-Char split would
    // shred both into lone surrogates that UTF8String collapses to
    // U+FFFD, merging their pair counts into one phantom symbol
    val gclef = new String(Character.toChars(0x1D11E)) // 𝄞
    val emoji = new String(Character.toChars(0x1F600)) // 😀
    val docs = Seq(
      Seq.fill(3)(gclef + "a").mkString(" "),
      Seq.fill(2)(emoji + "b").mkString(" ")).toDF("text")
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 2)
      .as[(Int, String, String, Long)].collect().toList
    // (𝄞,a)=3 beats (😀,b)=2; both symbols survive intact
    assert(merges == List(
      (1, gclef, "a", 3L), (2, emoji, "b", 2L)), merges.toString)
  }

  test("bpeTrain merges leftmost-first without overlap; stops when dry") {
    import graft.operators.TextAnalysis
    // 'aaa': pairs (a,a)=2 from ONE word — after merging (a,a) the
    // word is [aa, a] (non-overlapping), so round 2's best pair
    // (aa,a)=3 counts the word frequency, not phantom overlaps
    val merges = TextAnalysis.bpeTrain(
        Seq("aaa aaa aaa", "bb").toDF("text"), "text",
        numMerges = 10, minPairCount = 2)
      .as[(Int, String, String, Long)].collect().toList
    // r1: (a,a)=6 (3 words × 2 adjacent pairs... leftmost-first
    // counting is positional: 'a a a' has pairs (1,2),(2,3) → 2 per
    // word × 3 = 6). merge → [aa, a] ×3
    // r2: (aa,a)=3. merge → [aaa] ×3
    // r3: best remaining is (b,b)=1 < minPairCount → stop
    assert(merges == List(
      (1, "a", "a", 6L), (2, "aa", "a", 3L)), merges.toString)
  }

  test("bpeTrain batchSize: disjoint-top corpus equals the sequential table; driver round-trips drop with batch") {
    import graft.operators.TextAnalysis
    // 12 symbol-disjoint pairs at strictly decreasing counts: the
    // batched greedy selection (count desc, pair asc, skip colliding
    // symbols) picks exactly the sequential argmax sequence, so the
    // two tables must be identical — batching changes job structure,
    // not the learned merges, whenever the top pairs don't interact
    val pairsWords = "ab cd ef gh ij kl mn op qr st uv wx".split(" ")
    val doc = pairsWords.zipWithIndex
      .map { case (w, i) => Seq.fill(24 - i)(w).mkString(" ") }
      .mkString(" ")
    val df = Seq(doc).toDF("text")
    def train(b: Int) =
      TextAnalysis.bpeTrain(df, "text", numMerges = 12, batchSize = b)
        .as[(Int, String, String, Long)].collect().toList
    var seqTable: List[(Int, String, String, Long)] = Nil
    var batTable: List[(Int, String, String, Long)] = Nil
    val jSeq = JobBudget.jobs(spark) { seqTable = train(1) }
    val jBat = JobBudget.jobs(spark) { batTable = train(6) }
    assert(seqTable.length == 12 && seqTable == batTable,
      s"batched table diverged:\nseq=$seqTable\nbat=$batTable")
    // the scalable-BPE point: merges/batch driver round-trips, so the
    // batched train must run well under half the sequential job count
    assert(jBat * 2 <= jSeq,
      s"batched trainer did not reduce driver round-trips: " +
        s"sequential=$jSeq batched=$jBat")
    info(s"12 merges: sequential=$jSeq jobs, batchSize=6=$jBat jobs")
  }

  test("bpeTrain batchSize on an INTERACTING corpus: valid ranks, true pre-batch counts, encode still terminates") {
    import graft.operators.TextAnalysis
    // the subword-nmt corpus: (e,s) feeds (es,t), so batch selection
    // must SKIP (es,t)-style dependents within a round (their symbols
    // collide with a picked pair's concatenation) rather than record
    // a stale count for them
    val docs = Seq(
      Seq.fill(5)("low"), Seq.fill(2)("lower"),
      Seq.fill(6)("newest"), Seq.fill(3)("widest"))
      .flatten.mkString(" ")
    val merges = TextAnalysis.bpeTrain(
        Seq(docs).toDF("text"), "text", numMerges = 6, batchSize = 3)
      .as[(Int, String, String, Long)].collect().toList
    assert(merges.map(_._1) == (1 to merges.length).toList,
      s"ranks not dense: $merges")
    assert(merges.map(m => (m._2, m._3)).distinct.length == merges.length,
      s"duplicate pair learned: $merges")
    // every recorded count is a TRUE pair count at its batch's start:
    // (e,s) must still report 9 even when batched with (l,o)=7
    val es = merges.find(m => m._2 == "e" && m._3 == "s")
    assert(es.exists(_._4 == 9L), s"(e,s) count drifted: $merges")
    // the learned table still drives the encoder to a fixpoint
    val enc = TextAnalysis.bpeEncode(
      Seq((1L, docs)).toDF("doc_id", "text"), "doc_id", "text",
      merges.map { case (rk, l, r, n) => TextAnalysis.BpeMerge(rk, l, r, n) })
    assert(enc.agg(org.apache.spark.sql.functions.sum("n_pieces"))
      .head().getLong(0) > 0)
  }

  test("bpeTrain deltaCap fallback: forcing the union+re-aggregate path learns the identical table") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      Seq.fill(5)("low"), Seq.fill(2)("lower"),
      Seq.fill(6)("newest"), Seq.fill(3)("widest"))
      .flatten.mkString(" ")
    def train(cap: Int) =
      TextAnalysis.bpeTrain(Seq(docs).toDF("text"), "text",
        numMerges = 6, batchSize = 2, deltaCap = cap)
        .as[(Int, String, String, Long)].collect().toList
    // cap=1 overflows on every round → the shuffle fallback maintains
    // the pair table; counts and merge order must not move
    assert(train(1) == train(65536),
      "deltaCap fallback diverged from the broadcast-delta path")
  }

  test("bpeTrain incremental pair counting: total shuffle records ~flat in numMerges (SURVEY §4 probe)") {
    import graft.operators.TextAnalysis
    // 200 filler words over globally-unique CJK codepoints: each
    // contributes 29 pair occurrences at count 1 (below minPairCount,
    // never merged, never affected) — the pair MASS a re-counting
    // trainer would re-explode and re-shuffle every round. The driver
    // word "abcdef" ×50 yields 5+ chain merges.
    val fillers = (0 until 200).map { w =>
      (0 until 30).map(i => (0x4E00 + w * 30 + i).toChar).mkString
    }
    val doc = (Seq.fill(50)("abcdef") ++ fillers).mkString(" ")
    val df = Seq(doc).toDF("text")
    var t1: List[(Int, String, String, Long)] = Nil
    var t5: List[(Int, String, String, Long)] = Nil
    val s1 = JobBudget.measure(spark) {
      t1 = TextAnalysis.bpeTrain(df, "text", numMerges = 1)
        .as[(Int, String, String, Long)].collect().toList
    }.shuffleRecordsWritten
    val s5 = JobBudget.measure(spark) {
      t5 = TextAnalysis.bpeTrain(df, "text", numMerges = 5)
        .as[(Int, String, String, Long)].collect().toList
    }.shuffleRecordsWritten
    assert(t1.length == 1 && t5.length == 5 && t5.head == t1.head,
      s"unexpected merge tables: $t1 / $t5")
    // a per-round re-count would shuffle the ~5.8k filler pairs every
    // round (5 merges ≈ 5× the 1-merge shuffle). Incremental counting
    // pays the full pair mass ONCE; rounds 2-5 move only delta pairs
    // and TakeOrdered tops, so the 5-merge total must stay well under
    // 2× the 1-merge total.
    assert(s5 < 2 * s1,
      s"per-cycle pair re-shuffle detected: 1 merge=$s1 records, 5 merges=$s5")
    info(s"shuffle records: 1 merge=$s1, 5 merges=$s5")
  }

  test("unigramViterbi golden pins: best tiling, longer-piece ties, unknown codepoints as singles") {
    import graft.operators.TextAnalysis
    val lp = Map("ab" -> StrictMath.log(0.5),
      "a" -> StrictMath.log(0.2), "b" -> StrictMath.log(0.2))
    // best tiling: two 'ab' pieces beat four singles
    assert(TextAnalysis.unigramViterbi("abab", lp, 2) == List("ab", "ab"))
    // unknown codepoint: falls out as a single with the UNK penalty
    assert(TextAnalysis.unigramViterbi("abc", lp, 2) == List("ab", "c"))
    // astral unknown stays one codepoint, never a split surrogate pair
    assert(TextAnalysis.unigramViterbi("a🎉b", lp, 2) ==
      List("a", "🎉", "b"))
    // exact score tie (logp(xy) = logp(x)+logp(y)): longer piece wins
    val tie = Map("xy" -> -2.0, "x" -> -1.0, "y" -> -1.0)
    assert(TextAnalysis.unigramViterbi("xy", tie, 2) == List("xy"))
    // empty word
    assert(TextAnalysis.unigramViterbi("", lp, 2) == Nil)
  }

  test("unigramTrain: hand-computed 2-round EM on a toy corpus") {
    import graft.operators.TextAnalysis
    // corpus = "ab" x4. Seed: a(4), b(4), ab(4) -> p = 1/3 each.
    // EM round 1: segmentations of "ab": [ab] w=1/3, [a,b] w=1/9;
    //   Z = 4/9; posterior(ab) = 3/4, posterior(a)=posterior(b) = 1/4;
    //   expected counts x4 words: ab=3, a=1, b=1 -> p(ab)=3/5, rest 1/5.
    // EM round 2: [ab] w=3/5, [a,b] w=1/25; Z=16/25; posterior(ab)=15/16;
    //   counts: ab=3.75, a=b=0.25 -> p(ab)=15/17, p(a)=p(b)=1/17.
    // (all posteriors dyadic, so micro-quantization is exact)
    val df = Seq("ab ab ab ab").toDF("text")
    val out = TextAnalysis.unigramTrain(df, "text", vocabSize = 3,
      emIters = 2, seedSize = 10, maxPieceLen = 2, minSubstrCount = 1)
      .as[(String, Double)].collect().toMap
    assert(out.keySet == Set("a", "b", "ab"), out.toString)
    assert(math.abs(out("ab") - StrictMath.log(15.0 / 17)) < 1e-9, out.toString)
    assert(math.abs(out("a") - StrictMath.log(1.0 / 17)) < 1e-9, out.toString)
    assert(math.abs(out("b") - StrictMath.log(1.0 / 17)) < 1e-9, out.toString)
  }

  test("unigramTrain prunes toward vocabSize, keeps every single codepoint, and is bit-deterministic") {
    import graft.operators.TextAnalysis
    val df = Seq("abc abc abc abd abd abd").toDF("text")
    def train() = TextAnalysis.unigramTrain(df, "text", vocabSize = 5,
      emIters = 2, seedSize = 16, maxPieceLen = 3, shrink = 0.6,
      minSubstrCount = 2).as[(String, Double)].collect().toList
    val t = train()
    val m = t.toMap
    // alphabet survives every prune
    assert(Set("a", "b", "c", "d").subsetOf(m.keySet), t.toString)
    assert(t.size == 5, s"prune missed the target: $t")
    // quantized E-steps + total-ordered tie-breaks: two trains agree
    // bit for bit
    assert(t == train(), "unigram training is not deterministic")
    // probabilities normalize (within float addition slack)
    assert(math.abs(t.map(p => StrictMath.exp(p._2)).sum - 1.0) < 1e-6)
  }

  test("unigram train→encode integration: the learned table fully segments its own corpus; doc counts reconcile") {
    import graft.operators.TextAnalysis
    // the composition a user actually runs — trainer and encoder are
    // pinned separately, this pins the HANDOFF: learned pieces
    // survive the DataFrame roundtrip, every corpus word (plus a
    // novel one) stays segmentable, and the per-doc counts are the
    // per-occurrence counts summed
    val df = Seq((1L, "abab cd abab"), (2L, "cd cd ab"), (3L, ""))
      .toDF("doc_id", "text")
    val table = TextAnalysis.unigramTrain(df, "text", vocabSize = 6,
      emIters = 2, seedSize = 16, maxPieceLen = 4, minSubstrCount = 1)
      .as[(String, Double)].collect()
      .map { case (p, lp) => TextAnalysis.UnigramPiece(p, lp) }.toSeq
    assert(table.nonEmpty)
    val enc = TextAnalysis.unigramEncode(df, "doc_id", "text", table)
      .select($"doc_id", $"word", $"pieces", $"n_pieces")
      .as[(Long, String, Seq[String], Int)].collect()
    assert(enc.nonEmpty)
    enc.foreach { case (_, w, ps, n) =>
      assert(ps.mkString == w, s"pieces $ps do not concatenate to '$w'")
      assert(n == ps.size)
    }
    val perDoc = enc.groupBy(_._1).view.mapValues(_.map(_._4.toLong).sum)
    val counts = TextAnalysis.unigramDocPieceCount(df, "doc_id", "text", table)
      .as[(Long, Long)].collect().toMap
    assert(counts.keySet == Set(1L, 2L, 3L), counts.toString)
    assert(counts(3L) == 0L, "empty doc must be restored at 0")
    perDoc.foreach { case (id, n) =>
      assert(counts(id) == n, s"doc $id: count ${counts(id)} != encode sum $n")
    }
    // a word the trainer never saw still segments (UNK singles)
    assert(TextAnalysis.unigramSegment("zq", table).mkString == "zq")
  }

  test("unigramTrain leaks no cached RDDs: word and substring caches release on every exit path") {
    import graft.operators.TextAnalysis
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // normal completion (EM + prune loop): words persists for the
    // whole train, subs for the seed collects — both must be gone
    val t = TextAnalysis.unigramTrain(
      Seq("abc abc abd ab ab").toDF("text"), "text", vocabSize = 5,
      emIters = 2, seedSize = 16, maxPieceLen = 3, minSubstrCount = 1)
      .collect()
    assert(t.nonEmpty)
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc)
    val leakedNormal = sc.getPersistentRDDs.keySet -- before
    assert(leakedNormal.isEmpty,
      s"unigramTrain leaked cached RDDs on the normal path: $leakedNormal")
    // empty-corpus early return: the words cache must release too
    assert(TextAnalysis.unigramTrain(
      Seq.empty[String].toDF("text"), "text", vocabSize = 4).isEmpty)
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc)
    val leakedEmpty = sc.getPersistentRDDs.keySet -- before
    assert(leakedEmpty.isEmpty,
      s"unigramTrain leaked cached RDDs on the empty-corpus path: $leakedEmpty")
  }

  test("unigramEncode: Viterbi once per distinct word, declarative plan, doc counts restore empty docs") {
    import graft.operators.TextAnalysis
    val table = Seq(
      TextAnalysis.UnigramPiece("ab", StrictMath.log(0.5)),
      TextAnalysis.UnigramPiece("a", StrictMath.log(0.2)),
      TextAnalysis.UnigramPiece("b", StrictMath.log(0.2)))
    val df = Seq((1L, "abab ab"), (2L, "abc"), (3L, "")).toDF("doc_id", "text")
    val enc = TextAnalysis.unigramEncode(df, "doc_id", "text", table)
    val got = enc.as[(Long, Int, String, Seq[String], Int)].collect()
      .map(r => (r._1, r._2, r._4.toList)).sortBy(t => (t._1, t._2)).toList
    assert(got == List(
      (1L, 0, List("ab", "ab")), (1L, 1, List("ab")),
      (2L, 0, List("ab", "c"))), got.toString)
    val counts = TextAnalysis.unigramDocPieceCount(df, "doc_id", "text", table)
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 3L, 2L -> 2L, 3L -> 0L), counts.toString)
  }

  test("bpeEncode segments with a trained table: hand-computed pieces") {
    import graft.operators.TextAnalysis
    // table trained by the subword-nmt corpus spec above:
    // (e,s) (es,t) (l,o) (lo,w)
    val merges = Seq(
      TextAnalysis.BpeMerge(1, "e", "s", 9L),
      TextAnalysis.BpeMerge(2, "es", "t", 9L),
      TextAnalysis.BpeMerge(3, "l", "o", 7L),
      TextAnalysis.BpeMerge(4, "lo", "w", 7L))
    val docs = Seq((1L, "lowest newest low wider")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("pos")
      .select("word", "pieces")
      .as[(String, Seq[String])].collect().toList
    assert(got == List(
      // l,o,w,e,s,t → es → est → lo → low ⇒ [low, est]
      ("lowest", Seq("low", "est")),
      ("newest", Seq("n", "e", "w", "est")),
      ("low", Seq("low")),
      // no trained pair applies
      ("wider", Seq("w", "i", "d", "e", "r"))), got.toString)
  }

  test("bpeEncode encodes each DISTINCT word once and is partition-independent") {
    import graft.operators.TextAnalysis
    val merges = Seq(TextAnalysis.BpeMerge(1, "a", "b", 2L))
    val docs = (1L to 40L).map(i => (i, "ab ba ab"))
      .toDF("doc_id", "text")
    // piece multiset identical across partitionings
    def pieceCounts(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
        .select(explode($"pieces").as("p"))
        .groupBy("p").count().as[(String, Long)].collect().toMap
    val a = pieceCounts(docs.coalesce(1))
    val b = pieceCounts(docs.repartition(7))
    assert(a == b, s"$a vs $b")
    assert(a == Map("ab" -> 80L, "b" -> 40L, "a" -> 40L), a.toString)
  }

  test("bpeEncode pathological re-creation table follows subword-nmt min-rank") {
    import graft.operators.TextAnalysis
    // (bc,d) outranks (b,c) but its left component only EXISTS after
    // (b,c) runs: rank-order application would stop at [bc, d]; the
    // canonical min-rank loop re-scans and lands [bcd]. bpeTrain can
    // never emit such a table (a pair is only counted when its
    // components are already adjacent symbols) — pinned here so the
    // encoder's contract is explicit.
    val merges = Seq(
      TextAnalysis.BpeMerge(1, "bc", "d", 5L),
      TextAnalysis.BpeMerge(2, "b", "c", 5L))
    val docs = Seq((1L, "bcd")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .select("pieces").as[Seq[String]].head()
    assert(got == Seq("bcd"), got.toString)
  }

  test("bpeEncode keeps astral codepoints whole; bpeDocPieceCount restores empty docs at 0") {
    import graft.operators.TextAnalysis
    val emoji = new String(Character.toChars(0x1F600)) // 😀
    val merges = Seq(TextAnalysis.BpeMerge(1, emoji, "a", 2L))
    val docs = Seq(
      (1L, s"${emoji}a ${emoji}b"),
      (2L, "   "), // zero tokens: posexplode drops it
      (3L, "")).toDF("doc_id", "text")
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id", "pos")
      .select("pieces").as[Seq[String]].collect().toList
    assert(enc == List(Seq(emoji + "a"), Seq(emoji, "b")), enc.toString)
    val counts = TextAnalysis.bpeDocPieceCount(
        docs, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Long)].collect().toList
    assert(counts == List((1L, 3L), (2L, 0L), (3L, 0L)), counts.toString)
  }

  test("bpeEncode rejects malformed merge tables") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(docs, "doc_id", "text", Nil)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(docs, "doc_id", "text", Seq(
        TextAnalysis.BpeMerge(1, "a", "b", 1L),
        TextAnalysis.BpeMerge(2, "a", "b", 1L)))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(docs, "doc_id", "text", Seq(
        TextAnalysis.BpeMerge(1, "a", "b", 1L),
        TextAnalysis.BpeMerge(1, "b", "c", 1L)))
    }
  }

  test("frequencySpectrum counts terms per frequency with exact fractions") {
    import graft.operators.{Dedup, TextAnalysis}
    val scope = new Dedup.CacheScope
    try {
      // a:3, b:2, c:1, d:1 → freq 1: 2 terms, freq 2: 1, freq 3: 1
      val df = Seq("a a b", "a b c d", "").toDF("text")
      val got = TextAnalysis.frequencySpectrum(df, "text", scope)
        .orderBy("freq")
        .as[(Long, Long, Long, Double)].collect().toList
      assert(got == List(
        (1L, 2L, 4L, 0.5), (2L, 1L, 4L, 0.25), (3L, 1L, 4L, 0.25)),
        got.toString)
    } finally scope.release()
  }

  test("collocations: unigram and bigram counts share ONE cached scan") {
    import graft.operators.{Dedup, TextAnalysis}
    val scope = new Dedup.CacheScope
    try {
      val df = Seq("a b a b", "b c").toDF("text")
      val out = TextAnalysis.collocations(df, "text", k = 5,
          minCount = 1, scope = scope)
      // the fused kind-tagged explode is persisted ONCE, and every
      // consumer (w1/w2 joins, token total) reads the cache — the
      // corpus explode never re-executes
      assert(scope.size == 1, s"expected one tracked cache, got ${scope.size}")
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"count consumers should read the cached gram counts:\n$plan")
      assert(out.count() > 0)
    } finally scope.release()
  }

  test("domainAffinity scores lean fractions by exact cross-multiplication") {
    import graft.operators.TextAnalysis
    val train = Seq((1L, "a b c d"), (3L, "x y z w")).toDF("doc_id", "text")
    val target = Seq((10L, "a b c q")).toDF("doc_id", "text")
    // DFs: target {a b c:1, b c q:1}, n_t=2; train {a b c:1, b c d:1,
    // x y z:1, y z w:1}, n_s=4. "a b c" leans target (1·4 > 1·2);
    // doc 1 scores 1/2, doc 3 shares nothing with the target → 0
    val got = TextAnalysis.domainAffinity(train, target, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, l, a) => id -> ((n, l, a)) }.toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((2L, 0L, 0.0)))
  }

  test("exact ledger admits only byte-new within-batch survivors, once") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger").toString
    val corpus = Seq((1L, "seen one"), (2L, "seen two")).toDF("doc_id", "text")
    Dedup.writeExactLedger(corpus, "text", dir)
    val batch = Seq(
      (10L, "seen one"),    // known content → rejected
      (11L, "fresh alpha"), // new
      (12L, "fresh alpha"), // within-batch copy → survivor is 11
      (13L, "fresh beta"))  // new
      .toDF("doc_id", "text")
    val admitted = Dedup.admitAgainstExactLedger(batch, "doc_id", "text", dir)
      .select("doc_id", "text", "n_copies")
      .as[(Long, String, Long)].collect().toSet
    assert(admitted == Set((11L, "fresh alpha", 2L), (13L, "fresh beta", 1L)))
    // append the admitted content; the same batch re-admits nothing
    Dedup.appendToExactLedger(
      Seq("fresh alpha", "fresh beta").toDF("text"), "text", dir)
    assert(Dedup.admitAgainstExactLedger(batch, "doc_id", "text", dir).isEmpty)
    Dedup.unpersistAll()
    // round 11: the batch's bounded survivor-hash set reaches the
    // ledger scan as a pushed In filter (with the sorted/bloom layout
    // that is ≤ |batch| row-group reads, never a full-ledger scan)
    val plan = Dedup.admitAgainstExactLedger(batch, "doc_id", "text", dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("In(content_hash")),
      s"batch hashes not pushed into the ledger scan:\n$plan")
    Dedup.unpersistAll()
  }

  test("exact ledger layout: a bounded batch accepts O(|batch|) of many row groups by hash-range stats") {
    import graft.operators.Dedup
    import scala.jdk.CollectionConverters._
    // the quantified form of the In(content_hash) pushdown claim: on
    // the range-sorted layout, each batch hash can land in only the
    // row group(s) whose [min,max] straddle it, so admission reads
    // O(|batch|) groups of an arbitrarily large ledger. Small row
    // groups make the property measurable at test scale.
    val dir = java.nio.file.Files.createTempDirectory("graft-led-rg").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    val old = Option(hconf.get("parquet.block.size"))
    hconf.set("parquet.block.size", "131072")
    try {
      val corpus = spark.range(1000000L).select($"id".as("doc_id"),
        concat(lit("doc text payload "), $"id").as("text"))
      Dedup.writeExactLedger(corpus, "text", dir)
    } finally old match {
      case Some(v) => hconf.set("parquet.block.size", v)
      case None => hconf.unset("parquet.block.size")
    }
    val batchHashes = spark.range(8)
      .select(xxhash64(concat(lit("doc text payload "), $"id")))
      .as[Long].collect().toSet
    var total = 0; var accepted = 0
    new java.io.File(s"$dir/hashes").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            spark.sessionState.newHadoopConf()))
        try reader.getFooter.getBlocks.asScala.foreach { rg =>
          total += 1
          val st = rg.getColumns.asScala
            .map(c => c.getPath.toDotString -> c).toMap
            .apply("content_hash").getStatistics
          val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
          val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
          if (batchHashes.exists(h => h >= mn && h <= mx)) accepted += 1
        } finally reader.close()
      }
    info(s"ledger: $total row groups, 8-hash batch accepts $accepted")
    assert(total >= 40,
      s"ledger did not produce enough row groups to measure: $total")
    // each of the 8 hashes straddles at most a couple of groups —
    // far from the full-scan the unsorted layout would force
    assert(accepted <= 16,
      s"batch accepted $accepted/$total row groups — layout not pruning")
  }

  test("exact ledger compaction: admission-identical, collapses cross-generation duplicates, consolidates files") {
    import graft.operators.Dedup
    val src = java.nio.file.Files.createTempDirectory("graft-led-c1").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-led-c2").toString
    Dedup.writeExactLedger(
      Seq("seen one", "seen two").toDF("text"), "text", src)
    // direct appends (no admit) create cross-generation duplicate
    // hashes — documented as harmless to admission, but paid by scans
    Dedup.appendToExactLedger(
      Seq("seen two", "seen three").toDF("text"), "text", src)
    Dedup.appendToExactLedger(
      Seq("seen three", "seen four").toDF("text"), "text", src)
    Dedup.compactExactLedger(spark, src, dst)
    val batch = Seq((1L, "seen four"), (2L, "brand new")).toDF("doc_id", "text")
    val a = Dedup.admitAgainstExactLedger(batch, "doc_id", "text", src)
      .select("doc_id").as[Long].collect().toSet
    Dedup.unpersistAll()
    val b = Dedup.admitAgainstExactLedger(batch, "doc_id", "text", dst)
      .select("doc_id").as[Long].collect().toSet
    Dedup.unpersistAll()
    assert(a == Set(2L) && b == a, s"admission diverged: $a vs $b")
    // duplicates collapse: 6 appended rows hold 4 distinct hashes
    assert(spark.read.parquet(s"$src/hashes").count() == 6)
    assert(spark.read.parquet(s"$dst/hashes").count() == 4)
    // three write generations consolidate into fewer data files
    def files(p: String): Int = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(s"$dst/hashes") < files(s"$src/hashes"),
      "compaction did not consolidate the ledger files")
  }

  test("exact ledger takedown: deleted content re-admits immediately, physically gone + tombstone-free after compaction") {
    import graft.operators.Dedup
    val src = java.nio.file.Files.createTempDirectory("graft-led-td1").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-led-td2").toString
    Dedup.writeExactLedger(
      Seq("seen one", "seen two").toDF("text"), "text", src)
    val batch = Seq((1L, "seen one"), (2L, "brand new")).toDF("doc_id", "text")
    def admitted(p: String): Set[Long] = {
      val got = Dedup.admitAgainstExactLedger(batch, "doc_id", "text", p)
        .select("doc_id").as[Long].collect().toSet
      Dedup.unpersistAll()
      got
    }
    assert(admitted(src) == Set(2L), "setup: ledgered content admitted")
    // takedown: the hash leaves admission immediately — the post-hoc
    // decontamination shape ("let the clean recrawl back in")
    Dedup.deleteFromExactLedger(
      Seq("seen one").toDF("text"), "text", src)
    assert(admitted(src) == Set(1L, 2L),
      "deleted ledger hash still blocks admission")
    // (the streaming-admission twin of this subtraction is pinned in
    // StreamingSpec — dropDuplicatesWithinWatermark rejects batch frames)
    // compaction folds: one surviving hash, tombstones not carried
    Dedup.compactExactLedger(spark, src, dst)
    assert(spark.read.parquet(s"$dst/hashes").count() == 1,
      "compaction kept the deleted hash")
    assert(!new java.io.File(s"$dst/tombstones").exists(),
      "compaction carried tombstones to the clean tree")
    assert(admitted(dst) == Set(1L, 2L))
  }

  test("exact ledger takedown lifecycle: re-appending admitted content clears its tombstone — dedup recovers, compaction keeps the row") {
    import graft.operators.Dedup
    val src = java.nio.file.Files.createTempDirectory("graft-led-rl1").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-led-rl2").toString
    Dedup.writeExactLedger(
      Seq("seen one", "seen two").toDF("text"), "text", src)
    Dedup.deleteFromExactLedger(Seq("seen one").toDF("text"), "text", src)
    val batch = Seq((1L, "seen one")).toDF("doc_id", "text")
    def admitted(): Set[Long] = {
      val got = Dedup.admitAgainstExactLedger(batch, "doc_id", "text", src)
        .select("doc_id").as[Long].collect().toSet
      Dedup.unpersistAll()
      got
    }
    // takedown: the recrawl is admitted once (intended) …
    assert(admitted() == Set(1L))
    // … and the admit→append loop RE-ESTABLISHES the content: the
    // append clears the covering tombstone (the round-13 review
    // finding — without the clear, the masked new ledger row meant
    // unbounded re-admissions and compaction destroyed it)
    Dedup.appendToExactLedger(batch, "text", src)
    assert(admitted().isEmpty,
      "re-appended content still admitted: tombstone not cleared")
    assert(spark.read.parquet(s"$src/tombstones").count() == 0,
      "append did not clear the covering tombstone")
    // compaction preserves the re-established hash
    Dedup.compactExactLedger(spark, src, dst)
    assert(spark.read.parquet(s"$dst/hashes").count() == 2,
      "compaction destroyed the re-established hash")
    // an unrelated tombstone survives the clear (only covered hashes go)
    Dedup.deleteFromExactLedger(Seq("seen two").toDF("text"), "text", src)
    Dedup.appendToExactLedger(Seq("other").toDF("text"), "text", src)
    assert(spark.read.parquet(s"$src/tombstones").count() == 1,
      "append cleared a tombstone it does not cover")
  }

  test("corpus line dedup drops corpus-common lines, keeps unique and blanks") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "unique one\nAll rights reserved.\n\nbody a"),
      (2L, "unique two\nAll rights reserved.\n\nbody b"),
      (3L, "unique three\nAll rights reserved.\n\nbody c"),
      // the common line twice in ONE doc: distinct-doc count is still
      // 4 ≥ 3 → dropped, and BOTH occurrences go
      (4L, "All rights reserved.\nAll rights reserved.\nonly four"),
      // a line duplicated only within one doc is NOT corpus-common
      (5L, "dup line\ndup line\nunique five"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.dedupCorpusLines(df, "doc_id", "text", minDocs = 3)
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, t, k, r) => id -> ((t, k, r)) }.toMap
    assert(got(1L) == (("unique one\n\nbody a", 3L, 1L)))
    assert(got(2L) == (("unique two\n\nbody b", 3L, 1L)))
    assert(got(3L) == (("unique three\n\nbody c", 3L, 1L)))
    assert(got(4L) == (("only four", 1L, 2L)))
    assert(got(5L) == (("dup line\ndup line\nunique five", 3L, 0L)))
    // blank lines never count toward commonality even though all five
    // docs' blank line would clear minDocs (docs 1-3 each carry one)
    assert(got(1L)._1.contains("\n\n"))
  }

  test("corpus line dedup preserves line order through the reassembly") {
    import graft.operators.TextAnalysis
    // enough lines that a hash-ordered (wrong) reassembly would differ
    val text = (0 until 50).map(i => s"line nr $i").mkString("\n")
    val df = Seq((1L, text), (2L, "other\ndoc")).toDF("doc_id", "text")
    val got = TextAnalysis.dedupCorpusLines(df, "doc_id", "text", minDocs = 2)
      .where($"doc_id" === 1L).select("text_clean").as[String].head()
    assert(got == text)
  }

  test("curriculum order: band boundaries, dense positions, no global sort") {
    import graft.operators.{Sampling, TextAnalysis}
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val out = Sampling.curriculumOrder(docs, "doc_id",
      TextAnalysis.qualityScore(col("text")), nShards = 4).cache()
    assert(out.count() == docs.count())
    // phases honor the absolute band boundaries exactly
    val mis = out
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .where((col("phase") === 0 && col("q") < 0.75) ||
        (col("phase") === 1 && (col("q") < 0.5 || col("q") >= 0.75)) ||
        (col("phase") === 2 && (col("q") < 0.25 || col("q") >= 0.5)) ||
        (col("phase") === 3 && col("q") >= 0.25))
    assert(mis.isEmpty, "phase disagrees with its quality band")
    // positions within each (phase, shard) are dense 1..n
    val bad = out.groupBy("phase", "shard")
      .agg(max("seq").as("mx"), count(lit(1)).as("n"))
      .where($"mx" =!= $"n")
    assert(bad.isEmpty, "seq must be dense 1..n per (phase, shard)")
    // scale pin: the only window partitions by (phase, shard) — never
    // a single partition (a total corpus order IS a global sort)
    val plan = Sampling.curriculumOrder(docs, "doc_id",
        TextAnalysis.qualityScore(col("text")), nShards = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global window in curriculum order:\n$plan")
    // duplicate bounds would create unreachable phases — rejected up
    // front, not silently skewed
    intercept[IllegalArgumentException] {
      Sampling.curriculumOrder(docs, "doc_id",
        TextAnalysis.qualityScore(col("text")), nShards = 4,
        bounds = Seq(0.5, 0.5, 0.75))
    }
    out.unpersist()
  }

  test("shard assignment: dense per-shard positions, decorrelated from ids") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, sfDir, "documents")
    val out = Sampling.shardAssignment(docs, "doc_id", 8).cache()
    assert(out.count() == docs.count())
    // positions within each shard are exactly 1..n (dense, no gaps)
    val bad = out.groupBy("shard")
      .agg(max("shard_pos").as("mx"), count(lit(1)).as("n"))
      .where($"mx" =!= $"n")
    assert(bad.isEmpty, "shard positions must be dense 1..n")
    // the within-shard order must not be id order — a monotone
    // mapping would mean the "shuffle" preserved arrival order
    val shard0 = out.where($"shard" === 0).orderBy("doc_id")
      .select("shard_pos").as[Int].collect()
    assert(shard0.length > 10)
    assert(shard0.zip(shard0.tail).exists { case (a, b) => a > b },
      "shard_pos is monotone in doc_id — order not shuffled")
    // scale pin: the window must partition by shard, never collapse
    // to a single partition (the classic global-sort killer)
    val plan = Sampling.shardAssignment(docs, "doc_id", 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global window in shard assignment:\n$plan")
    out.unpersist()
  }

  test("weighted sampling over-represents heavy domains proportionally") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, sfDir, "documents")
    val heavy = Set("src0", "src1", "src2", "src3", "src4")
    val w = when(col("source").isin(heavy.toSeq.map(lit): _*), 8).otherwise(1)
    val k = 60
    val got = Sampling.weightedSample(docs, "doc_id", w, k)
      .select("doc_id", "source").collect()
    assert(got.length == math.min(k, docs.count()).toInt)
    // heavy sources are 25% of rows at weight 8 ⇒ expected sample
    // share ≈ 8·0.25/(8·0.25 + 0.75) ≈ 73%; demand a clear majority
    val nHeavy = got.count(r => heavy(r.getString(1)))
    assert(nHeavy > k / 2,
      s"weight-8 sources got only $nHeavy of $k sampled rows")
    // deterministic: a second run returns the identical sample
    val again = Sampling.weightedSample(docs, "doc_id", w, k)
      .select("doc_id", "source").collect()
    assert(got.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
    // degenerate weights: w=1 everywhere is plain uniform min-hash
    // top-k — still exactly k rows, no duplicates
    val uni = Sampling.weightedSample(docs, "doc_id", lit(1), k)
      .select("doc_id").as[Long].collect()
    assert(uni.length == uni.distinct.length && uni.length == k)
  }

  test("weighted stratified sampling: k per stratum, same ranking, heap not sort") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, sfDir, "documents")
    val w = when(col("source")
      .isin("src0", "src1", "src2", "src3", "src4"), 8).otherwise(1)
    val k = 5
    val got = Sampling.weightedStratifiedSample(docs, "doc_id", "lang", w, k)
    // exactly min(k, |stratum|) winners per stratum
    val perStratum = got.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(perStratum.keySet == sizes.keySet)
    perStratum.foreach { case (lang, n) =>
      assert(n == math.min(k.toLong, sizes(lang)), s"$lang got $n winners")
    }
    // within each stratum the winners equal weightedSample run on that
    // stratum alone — strata compose without changing the ranking
    val enOnly = Sampling.weightedSample(
      docs.where(col("lang") === "en"), "doc_id", w, k)
      .select("doc_id").as[Long].collect().toSeq
    val enStrat = got.where(col("lang") === "en")
      .orderBy("sample_key", "doc_id").select("doc_id").as[Long]
      .collect().toSeq
    assert(enStrat == enOnly,
      s"per-stratum ranking diverged from weightedSample: $enStrat vs $enOnly")
    // scale shape: the winners come from the bounded-heap aggregate
    // (partial topk_rows), not a corpus-wide window sort
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_rows"),
      s"expected map-side topk_rows partials:\n$plan")
    assert(!plan.contains("Window"), s"no window sort expected:\n$plan")
    // a NULL stratum is a real stratum (SQL GROUP BY semantics): the
    // null-safe join-back must not drop its winners
    val withNull = docs.withColumn("lang",
      when(col("doc_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("lang")))
    val nulls = Sampling.weightedStratifiedSample(
        withNull, "doc_id", "lang", w, k)
      .where(col("lang").isNull).count()
    assert(nulls == k.toLong, s"null stratum kept $nulls of $k winners")
  }

  test("stratified/global sampler agreement holds under randomized configs") {
    // the t12 spec pins one config; this sweeps seeded random
    // (stratum column, k, weight expression) triples and demands the
    // per-stratum winners always equal weightedSample run on that
    // stratum alone — the composition law that makes strata and
    // weights independently tunable
    import graft.operators.Sampling
    val docs = Tables.load(spark, sfDir, "documents")
    val rnd = new scala.util.Random(20260816L)
    for (i <- 1 to 5) {
      val stratum = if (rnd.nextBoolean()) "lang" else "source"
      val k = rnd.nextInt(7) + 1
      val w = rnd.nextInt(3) match {
        case 0 => lit(rnd.nextInt(9) + 1)
        case 1 => when(col("lang") === "en", rnd.nextInt(8) + 1).otherwise(1)
        case 2 => (pmod(col("doc_id"), lit(5)) + 1).cast("int")
      }
      val gotMap = Sampling
        .weightedStratifiedSample(docs, "doc_id", stratum, w, k)
        .select(col(stratum), col("doc_id")).as[(String, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for (s0 <- docs.select(stratum).distinct().as[String].collect()) {
        val expect = Sampling.weightedSample(
            docs.where(col(stratum) === s0), "doc_id", w, k)
          .select("doc_id").as[Long].collect().toSet
        assert(gotMap.getOrElse(s0, Set.empty) == expect,
          s"case $i: stratum=$stratum k=$k value=$s0 diverged")
      }
    }
  }

  test("weighted sampling rejects zero/negative/null weights loudly") {
    import graft.operators.Sampling
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "source")
    for (bad <- Seq(lit(0), lit(-5),
        when(col("source") === "never", 1))) { // null for every row
      val e = intercept[Exception] {
        Sampling.weightedSample(docs, "doc_id", bad, k = 2).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("positive integer")),
        s"expected the weight-contract error, got: $e")
    }
  }

  test("trigramStats flags char-level repetition word metrics miss") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "abababababababab"),     // 14 trigrams, 2 distinct (aba, bab)
      (2L, "the quick brown fox"),  // natural text: high uniqueness
      (3L, "ab"),                   // under 3 chars: no trigrams
      (4L, "")                      // empty
    ).toDF("id", "t")
    val (total, distinctN, frac) = TextAnalysis.trigramStats($"t")
    val got = rows.select($"id", total.as("n"), distinctN.as("d"),
        frac.as("f")).as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((14L, 2L, 2.0 / 14)))
    assert(got(2L)._1 == 17L && got(2L)._3 > 0.9)
    assert(got(3L) == ((0L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
    // the word-level metric sees "ababab…" as ONE word, zero repetition
    val dwf = rows.where($"id" === 1L)
      .select(TextAnalysis.dupWordFrac($"t")).head().getDouble(0)
    assert(dwf == 0.0, "word-level metric should miss char-level repetition")
  }

  test("cleanLines keeps prose, drops short/unpunctuated/template lines") {
    import graft.operators.TextAnalysis
    val doc = Seq(
      "This line is a kept sentence.",
      "no terminal punctuation here",
      "Short one.",
      "Lorem Ipsum dolor sit amet, the classic filler text.",
      "function f() { return 42; }",
      "  Surrounding spaces still count as a kept line!  ",
      "Is a quoted ending kept too?\"",
      ""
    ).mkString("\n")
    val (cleaned, kept, dropped) = TextAnalysis.cleanLines(lit(doc))
    val r = Seq(1).toDF("x").select(cleaned, kept, dropped).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 5L,
      s"kept/dropped = ${r.getLong(1)}/${r.getLong(2)}")
    val lines = r.getString(0).split("\n").toSeq
    assert(lines.head == "This line is a kept sentence.")
    assert(lines(1).trim.startsWith("Surrounding spaces"))
    assert(lines(2).endsWith("\""))
  }

  test("cleanLines and dedupCorpusLines split CRLF text without keeping \\r") {
    import graft.operators.TextAnalysis
    // With a plain \n split each line keeps its trailing \r: Java's $
    // (matches before a final line terminator) would still pass rule
    // (b) while RE2/DuckDB's end-of-string $ would not — the
    // cross-engine divergence the \r?\n split removes. The \r must
    // also not survive into the cleaned text.
    val crlf = Seq(
      "First kept sentence is here.",
      "too short",
      "Second kept line stays as well!").mkString("\r\n")
    val (cleaned, kept, dropped) = TextAnalysis.cleanLines(lit(crlf))
    val r = Seq(1).toDF("x").select(cleaned, kept, dropped).head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(r.getString(0) ==
      "First kept sentence is here.\nSecond kept line stays as well!")
    assert(!r.getString(0).contains("\r"))
    // corpus line dedup: the shared boilerplate line must key the same
    // from a CRLF doc and an LF doc (and be dropped from both)
    val docs = Seq(
      (1L, "All rights reserved.\r\nDoc one unique closing."),
      (2L, "All rights reserved.\nDoc two unique closing.")
    ).toDF("doc_id", "text")
    val out = TextAnalysis
      .dedupCorpusLines(docs, "doc_id", "text", minDocs = 2)
      .select($"doc_id", $"text_clean", $"n_removed")
      .as[(Long, String, Long)].collect()
      .map { case (id, t, n) => id -> ((t, n)) }.toMap
    assert(out(1L) == (("Doc one unique closing.", 1L)), out.toString)
    assert(out(2L) == (("Doc two unique closing.", 1L)), out.toString)
  }

  test("redactPii scrubs emails, IPs, phones, digit runs; clean text unchanged") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "mail alice.smith+x@corp-mail.co.uk now"),
      (2L, "server at 192.168.0.1 and 10.255.3.77 up"),
      (3L, "call 415-555-0042 or 415.555.9999 today"),
      (4L, "card 4111111111111111 acct 123456789012"),
      (5L, "plain text with short 123 and 3.14 stays"),
      (6L, "mixed: bob@x.io from 10.0.0.7 card 5500005555555559")
    ).toDF("id", "t")
    val got = rows.select($"id", TextAnalysis.redactPii($"t").as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "server at <IP> and <IP> up")
    assert(got(3L) == "call <PHONE> or <PHONE> today")
    assert(got(4L) == "card <NUM> acct <NUM>")
    // no false positives on short numbers / decimals / clean prose
    assert(got(5L) == "plain text with short 123 and 3.14 stays")
    assert(got(6L) == "mixed: <EMAIL> from <IP> card <NUM>")
  }

  test("langId recognizes clear-cut samples and falls back to und") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is a good day for the walk"),
      (2L, "el perro y la casa de que en un dia los amigos por la tarde"),
      (3L, "der hund und die katze ist nicht mit von zu ein haus"),
      (4L, "le chat et les amis de la maison est que pour une fois"),
      (5L, "的 是 了 在 我 有 和 不 人 这"),
      (6L, "zzz qqq xxx www")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextAnalysis.langId($"text"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en"); assert(got(2L) == "es"); assert(got(3L) == "de")
    assert(got(4L) == "fr"); assert(got(5L) == "zh"); assert(got(6L) == "und")
  }

  test("empty and whitespace-only documents contribute no phantom tokens") {
    val df = Seq((1L, ""), (2L, " \t\n "), (3L, "real words here"))
      .toDF("doc_id", "text")
    // no "" term anywhere downstream
    val hh = TextAnalysis.heavyHitters(df, "text", 10)
      .select("term").as[String].collect().toSeq
    assert(!hh.contains(""), s"phantom empty term in heavy hitters: $hh")
    val tt = TextAnalysis.topTerms(df, "doc_id", "text")
      .select("term").as[String].collect().toSeq
    assert(!tt.contains(""), s"phantom empty term in top terms: $tt")
    // zero tokens, not one
    val q = TextAnalysis.qualityFeatures(df, "doc_id", "text")
      .select("doc_id", "n_tokens").as[(Long, Double)].collect().toMap
    assert(q(1L) == 0.0 && q(2L) == 0.0 && q(3L) == 3.0, q.toString)
  }

  test("quality score is bounded and penalizes junk") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it is a fine day in the park for everyone"),
      (2L, "!!! ??? ,,, ;;; ::: !!!")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.qualityFeatures(df, "doc_id", "text")
      .select("quality").as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(1), "prose should outscore punctuation soup")
  }

  test("token counts on handcrafted text") {
    val df = Seq((1L, "hello world, 42 times!"), (2L, "   "), (3L, "a")).toDF("doc_id", "text")
    val got = df.select($"doc_id",
        TextAnalysis.wsTokenCount($"text"),
        TextAnalysis.bpePieceCount($"text"))
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    // "hello world, 42 times!" → ws: 4; pieces: hello|world|,|42|times|! = 6
    assert(got(0) == ((1L, 4, 6)))
    assert(got(1)._2 == 0)
    assert(got(2) == ((3L, 1, 1)))
  }

  test("normalize lowers, strips punctuation, collapses runs, drops stopwords") {
    val df = Seq(
      (1L, "The  QUICK\tbrown fox, and IT jumped!"),
      (2L, "  \n  "),
      (3L, "a the of and to in is that it for"), // all stopwords
      (4L, "data2vec++ rocks")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.normalize(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(out(0) == ((1L, "quick brown fox jumped", 4, 4)))
    assert(out(1) == ((2L, "", 0, 0)))
    assert(out(2) == ((3L, "", 0, 0)))
    assert(out(3) == ((4L, "data2vec rocks", 2, 2)))
  }

  test("heavy hitters ranks by frequency with deterministic tie order") {
    val df = Seq("b b b a a c", "a c d", "e").map(Tuple1(_)).toDF("text")
    val out = TextAnalysis.heavyHitters(df, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("split labels partition the corpus deterministically") {
    val docs = Tables.load(spark, sfDir, "documents")
    val weights = Seq("train" -> 800, "val" -> 100, "test" -> 100)
    val labeled = docs.select($"doc_id",
      TextAnalysis.splitLabel($"doc_id", weights).as("split"))
    assert(labeled.where($"split".isNull).isEmpty)
    val counts = labeled.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val"))
    // stable across evaluations
    val again = docs.select($"doc_id",
      TextAnalysis.splitLabel($"doc_id", weights).as("split"))
    assertSameRows(labeled, again)
  }

  test("topTerms ranks distinctive terms above ubiquitous ones") {
    val df = Seq(
      (1L, "spark spark spark common"),
      (2L, "duck duck common"),
      (3L, "common common entirely")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topTerms(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(5)) -> r.getString(1)).toMap
    // "common" is in every doc (df=3) so the doc-specific term wins rank 1
    assert(top((1L, 1)) == "spark")
    assert(top((2L, 1)) == "duck")
    assert(top((3L, 1)) == "common", "tf=2 beats df penalty for doc 3")
    // every doc gets at most k ranked terms, ranks contiguous from 1
    val byDoc = top.keySet.groupBy(_._1)
    byDoc.values.foreach(ks => assert(ks.map(_._2) == (1 to ks.size).toSet))
  }

  test("fingerprint is order-sensitive, stable, and content-keyed") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
                 (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val fp = df.select($"doc_id", TextAnalysis.fingerprint64($"text"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media plumbing: schema, stub decode, per-kind rollup") {
    implicit val s = spark
    val docs = Tables.load(spark, sfDir, "documents")
    val media = Multimodal.fromDocuments(docs)
    assert(media.schema("bytes").dataType.typeName == "binary")

    val feats = Multimodal.decodeFeatures(media, targetW = 128, targetH = 128)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    rows.foreach { f =>
      assert(f.out_width <= 128 && f.out_height <= 128)
      if (f.kind == "audio") assert(f.n_frames == 0)
      if (f.kind == "image") assert(f.n_frames == 1)
    }
    // byte_len must equal the source text length (payload untouched)
    val lens = docs.select($"doc_id", length($"text")).as[(Long, Int)].collect().toMap
    rows.foreach(f => assert(f.byte_len == lens(f.media_id)))

    val summary = Multimodal.featureSummary(feats).collect()
    assert(summary.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    assert(summary.map(_.getLong(1)).sum == rows.length)
  }

  test("stub decode is deterministic across runs") {
    implicit val s = spark
    val media = Multimodal.fromDocuments(Tables.load(spark, sfDir, "documents"))
    val a = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    val b = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("a real PNG payload gets a real ImageIO decode (resize bounded, not upscaled)") {
    implicit val s = spark
    // author two PNGs in-spec: one larger than the target (downscaled),
    // one smaller (must NOT be upscaled)
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val big = png(300, 200)
    val small = png(40, 30)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", big, 300, 200, 0L, "png"),
      Multimodal.MediaRecord(2L, "image", small, 40, 30, 0L, "png"),
      // same bytes, kind=audio: must take the stub path (n_frames 0)
      Multimodal.MediaRecord(3L, "audio", big, 300, 200, 5000L, "png")
    ).toDS().toDF()
    val feats = Multimodal.decodeFeatures(media, targetW = 128, targetH = 128)
      .collect().sortBy(_.media_id)
    assert(feats(0).out_width == 128 && feats(0).out_height == 128)
    assert(feats(0).n_frames == 1 && feats(0).byte_len == big.length)
    assert(feats(1).out_width == 40 && feats(1).out_height == 30)
    // the real decode checksums decoded pixels, not raw bytes: the two
    // images share no dimensions, so their checksums must differ, and
    // decoding the same PNG twice must agree
    val again = Multimodal.decodeFeatures(media, targetW = 128, targetH = 128)
      .collect().sortBy(_.media_id)
    assert(feats.toSeq == again.toSeq)
    assert(feats(0).checksum != feats(1).checksum)
    // audio with image bytes: stub path (frames 0, byte checksum)
    assert(feats(2).n_frames == 0)
  }

  test("dHashBits: hand-checked bit layout; stubGrid: codepoint resample, empty-safe") {
    // strictly increasing grid → every left cell < right neighbor → 0
    assert(Multimodal.dHashBits(Array.tabulate(72)(identity)) == 0L)
    // flip exactly cell (0,0): g[0] > g[1] sets bit 0 only
    val g0 = Array.tabulate(72)(identity); g0(0) = 99
    assert(Multimodal.dHashBits(g0) == 1L)
    // last comparison of last row: bit 63
    val g1 = Array.tabulate(72)(identity); g1(7 * 9 + 7) = 999
    assert(Multimodal.dHashBits(g1) == Long.MinValue) // 1L << 63
    intercept[IllegalArgumentException] {
      Multimodal.dHashBits(Array.fill(64)(0))
    }
    // stub grid: resamples codepoints; empty → all zeros
    assert(Multimodal.stubGrid(Array.emptyByteArray).forall(_ == 0))
    val cps = "ab".getBytes("UTF-8")
    val sg = Multimodal.stubGrid(cps)
    assert(sg.take(36).forall(_ == 'a'.toInt) &&
      sg.drop(36).forall(_ == 'b'.toInt), sg.toSeq.toString)
    // astral codepoint (not surrogate halves)
    val e = new String(Character.toChars(0x1F600)).getBytes("UTF-8")
    assert(Multimodal.stubGrid(e).forall(_ == 0x1F600))
  }

  test("imageDHash survives resize/recompression/brightness; separates different images") {
    implicit val s = spark
    // block image: 3×2 blocks of distinct levels plus a steep inner
    // horizontal ramp (≥16 luma between adjacent hash cells) so JPEG
    // noise (±2) can never flip a gradient comparison
    def render(w: Int, h: Int, levels: Array[Array[Int]]): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val bx = math.min(x * 3 / w, 2); val by = math.min(y * 2 / h, 1)
        val inBlock = x - bx * w / 3
        val v = math.min(255, levels(by)(bx) + inBlock * 160 / w)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val base = Array(Array(30, 140, 70), Array(190, 50, 210))
    val other = Array(Array(210, 50, 190), Array(70, 140, 30))
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", enc(render(90, 80, base), "png"), 90, 80, 0, "png"),
      Multimodal.MediaRecord(2L, "image", enc(render(45, 40, base), "png"), 45, 40, 0, "png"),
      Multimodal.MediaRecord(3L, "image", enc(render(90, 80, base), "jpg"), 90, 80, 0, "jpg"),
      Multimodal.MediaRecord(4L, "image", enc(render(90, 80, base.map(_.map(_ + 25))), "png"), 90, 80, 0, "png"),
      Multimodal.MediaRecord(5L, "image", enc(render(90, 80, other), "png"), 90, 80, 0, "png")
    ).toDS().toDF()
    val h = Multimodal.imageDHash(media).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(h(a) ^ h(b))
    // resized / recompressed / brightness-shifted: same gradient field
    assert(ham(1, 2) <= 6, s"resize hamming ${ham(1, 2)}")
    assert(ham(1, 3) <= 6, s"jpeg hamming ${ham(1, 3)}")
    assert(ham(1, 4) <= 6, s"brightness hamming ${ham(1, 4)}")
    // permuted blocks: gradient field reverses at every boundary
    assert(ham(1, 5) >= 12, s"different-image hamming ${ham(1, 5)}")

    // end-to-end near-dup join recovers the copies, not the stranger
    val pairs = Multimodal.imageNearDup(media, maxHamming = 6)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((1L, 4L)), pairs.toString)
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), pairs.toString)
  }

  test("imageNearDup stub path: exact payload twins collide at hamming 0") {
    implicit val s = spark
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", "the quick brown fox jumps over the lazy dog end".getBytes("UTF-8"), 10, 10, 0, "raw"),
      Multimodal.MediaRecord(2L, "image", "the quick brown fox jumps over the lazy dog end".getBytes("UTF-8"), 10, 10, 0, "raw"),
      Multimodal.MediaRecord(3L, "image", "a completely unrelated payload with different gradient structure zz".getBytes("UTF-8"), 10, 10, 0, "raw")
    ).toDS().toDF()
    val pairs = Multimodal.imageNearDup(media, maxHamming = 0)
      .as[(Long, Long, Int)].collect().toList
    assert(pairs == List((1L, 2L, 0)), pairs.toString)
  }

  test("real WAV/AIFF/AU audio decode is content-defined across containers") {
    implicit val s = spark
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // author the SAME 16-bit mono 8 kHz signal into all three JDK
    // containers, each in its native byte order (WAV little-endian,
    // AIFF/AU big-endian) — the decode must agree on every field
    // because it checksums sample values, not container bytes
    val rate = 8000f
    val nFrames = 1600
    val samples = Array.tabulate(nFrames)(i => (math.sin(i * 0.05) * 12000).toShort)
    def container(t: AudioFileFormat.Type, bigEndian: Boolean): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        rate, 16, 1, 2, rate, bigEndian)
      val pcm = new Array[Byte](nFrames * 2)
      for (i <- 0 until nFrames) {
        val v = samples(i)
        if (bigEndian) { pcm(2 * i) = (v >> 8).toByte; pcm(2 * i + 1) = v.toByte }
        else { pcm(2 * i) = v.toByte; pcm(2 * i + 1) = (v >> 8).toByte }
      }
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong), t, out)
      out.toByteArray
    }
    val wav = container(AudioFileFormat.Type.WAVE, bigEndian = false)
    val aiff = container(AudioFileFormat.Type.AIFF, bigEndian = true)
    val au = container(AudioFileFormat.Type.AU, bigEndian = true)
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", wav, 0, 0, 0L, "wav"),
      Multimodal.MediaRecord(2L, "audio", aiff, 0, 0, 0L, "aiff"),
      Multimodal.MediaRecord(3L, "audio", au, 0, 0, 0L, "au"),
      // same bytes, kind=video: no JDK codec, must take the stub path
      Multimodal.MediaRecord(4L, "video", wav, 640, 480, 3000L, "wav")
    ).toDS().toDF()

    val af = Multimodal.decodeAudio(media).collect().sortBy(_.media_id)
    assert(af.length == 3, "non-audio rows must be dropped by decodeAudio")
    af.foreach { a =>
      assert(a.sample_rate == 8000 && a.channels == 1)
      assert(a.pcm_frames == nFrames && a.duration_ms == 200)
    }
    assert(af.map(_.pcm_checksum).distinct.length == 1,
      "the same signal in WAV/AIFF/AU must produce the same PCM checksum")

    // the shared-schema path also takes the real decode for audio
    val mf = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(mf(0).n_frames == nFrames && mf(0).checksum == af(0).pcm_checksum)
    assert(mf(1).checksum == mf(0).checksum && mf(2).checksum == mf(0).checksum)
    // video: stub (1 fps frame sample over duration_ms), byte checksum
    assert(mf(3).n_frames == 3 && mf(3).checksum != mf(0).checksum)
  }

  test("audioEnergySig survives gain/container; separates different signals") {
    implicit val s = spark
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val rate = 8000f
    val nFrames = 1600
    // an amplitude-modulated tone: window energies vary, so the
    // delta-sign signature has structure (a constant tone would hash
    // to a degenerate all-equal-windows signature)
    val base = Array.tabulate(nFrames)(i =>
      (math.sin(i * 0.05) * (6000 + 5000 * math.sin(i * 0.004))).toShort)
    val noise = {
      val r = new scala.util.Random(7)
      Array.fill(nFrames)((r.nextInt(24000) - 12000).toShort)
    }
    def container(samples: Array[Short], t: AudioFileFormat.Type,
                  bigEndian: Boolean): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        rate, 16, 1, 2, rate, bigEndian)
      val pcm = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        val v = samples(i)
        if (bigEndian) { pcm(2 * i) = (v >> 8).toByte; pcm(2 * i + 1) = v.toByte }
        else { pcm(2 * i) = v.toByte; pcm(2 * i + 1) = (v >> 8).toByte }
      }
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong), t, out)
      out.toByteArray
    }
    val wav = container(base, AudioFileFormat.Type.WAVE, bigEndian = false)
    val aiff = container(base, AudioFileFormat.Type.AIFF, bigEndian = true)
    val halfGain = container(base.map(v => (v / 2).toShort),
      AudioFileFormat.Type.WAVE, bigEndian = false)
    val other = container(noise, AudioFileFormat.Type.WAVE, bigEndian = false)
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", wav, 0, 0, 0L, "wav"),
      Multimodal.MediaRecord(2L, "audio", aiff, 0, 0, 0L, "aiff"),
      Multimodal.MediaRecord(3L, "audio", halfGain, 0, 0, 0L, "wav"),
      Multimodal.MediaRecord(4L, "audio", other, 0, 0, 0L, "wav")
    ).toDS().toDF()
    val sig = Multimodal.audioEnergySig(media)
      .as[(Long, Long)].collect().toMap
    assert(sig(2L) == sig(1L),
      "same signal in WAV vs AIFF must fingerprint identically")
    assert(sig(3L) == sig(1L),
      "a gain-scaled copy must fingerprint identically " +
        "(delta-sign is scale-invariant)")
    assert(java.lang.Long.bitCount(sig(4L) ^ sig(1L)) > 3,
      "disjoint noise must not land within the near-dup radius")
    // the pair join recovers exactly the planted trio
    val pairs = Multimodal.audioNearDup(media, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // stub path: deterministic, empty-safe, codepoint-driven
    assert(Multimodal.stubAudioSig(Array.emptyByteArray) == 0L)
    val b = "abcba".getBytes("UTF-8")
    assert(Multimodal.stubAudioSig(b) == Multimodal.stubAudioSig(b.clone))
  }
}

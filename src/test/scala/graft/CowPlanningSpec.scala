package graft

import org.apache.spark.sql.functions._

import graft.sources.{CorpusStore, TinyParquet}

/** Job-free planning for the COW corpus store: building read frames,
  * resolving tree schemas and counting a commit's rows use parquet
  * footers on the driver, never Spark jobs —
  *
  *  - building a snapshot or change-feed frame, and listing the
  *    retained versions, starts no job even after a long chain of
  *    alternating delta and tombstone generations;
  *  - a delta commit's job count does not grow with the chain it
  *    appends to (no per-tree-group schema inference, no write-back
  *    count);
  *  - that holds past Spark's 32-path parallel-listing threshold: a
  *    64-bucket read lists its trees on the driver through
  *    [[graft.sources.CowFileIndex]], whose partition filters select
  *    exactly the matching trees;
  *  - a small tombstone commit starts at most eight jobs however long
  *    its chain; a set with nothing live in it commits nothing and
  *    leaves no tree; repeated ids write one marker each; an empty
  *    delta fails and leaves no tree;
  *  - the footer helpers agree with Spark: the footer schema equals
  *    what `spark.read.parquet` infers (nested non-nullable columns
  *    included, with and without Spark's row metadata), and footer
  *    bucket counts equal a `groupBy("_cs_bucket").count()` over a
  *    multi-file generation with stray hidden files;
  *  - the driver-side row reader returns what parquet-java's example
  *    `ParquetReader` returns, on every metadata shape and on
  *    dictionary-encoded and multi-row-group files.
  */
class CowPlanningSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val nBuckets = 8

  /** Up to `k` ids of `ids` per bucket (the smallest), so a batch of
    * them touches every bucket.
    */
  private def perBucket(ids: Seq[Long], k: Int,
      buckets: Int = nBuckets): Seq[Long] =
    byBucket(ids, buckets).values.flatMap(_.take(k)).toSeq.sorted

  /** `ids` by their bucket, each bucket's ids ascending; every bucket
    * must be covered.
    */
  private def byBucket(ids: Seq[Long], buckets: Int): Map[Int, Seq[Long]] = {
    val by = ids.toDF("doc_id")
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(buckets.toLong)).cast("int"))
      .as[(Long, Int)].collect().toSeq.groupBy(_._2)
      .map { case (b, rows) => b -> rows.map(_._1).sorted }
    assert(by.size == buckets, "ids do not cover every bucket")
    by
  }

  private def docs(ids: Seq[Long], tag: String) =
    ids.map(i => (i, s"$tag document $i")).toDF("doc_id", "text")

  test("planning a COW read starts ZERO jobs and a delta commit's job count does not grow with its chain") {
    val path = tmp("graft-cow-jobs")
    val founding = perBucket(1L to 400L, 4)
    CorpusStore.writeCorpusCow(docs(founding, "base"), path, "doc_id",
      nBuckets)
    var live = founding.toSet
    var batch = 0
    def appendBatch(): Unit = {
      batch += 1
      val ids = perBucket((1 to 200).map(j => 100000L * batch + j), 1)
      live ++= ids
      CorpusStore.appendDeltaToCorpusCow(docs(ids, s"d$batch"), path)
    }
    def chain = CorpusStore.cowHealthReport(spark, path).maxDeltaChain
    appendBatch()
    assert(chain == 1)
    val onChain1 = JobBudget.jobs(spark)(appendBatch())
    // alternate tombstones and deltas: six more generations, every
    // one touching every bucket
    for (_ <- 0 until 3) {
      val doomed = perBucket(live.toSeq, 1)
      CorpusStore.appendTombstonesToCorpusCow(doomed.toDF("doc_id"), path)
      live --= doomed
      appendBatch()
    }
    assert(chain == 8)
    val (g, _) = CorpusStore.currentGen(spark, path)
    var snap: org.apache.spark.sql.DataFrame = null
    var changes: org.apache.spark.sql.DataFrame = null
    val planning = JobBudget.jobs(spark) {
      snap = CorpusStore.readCorpusSnapshot(spark, path)
      changes = CorpusStore.corpusChangesSince(spark, path, 1, g)
      CorpusStore.listCorpusSnapshots(spark, path).collect()
    }
    assert(planning == 0,
      s"building snapshot/change frames and listing paid $planning job(s)")
    assert(snap.select("doc_id").as[Long].collect().toSet == live)
    assert(changes.count() > 0)
    val onChain8 = JobBudget.jobs(spark)(appendBatch())
    assert(onChain8 <= onChain1,
      s"one delta append paid $onChain1 job(s) onto a chain of 1 and " +
        s"$onChain8 onto a chain of 8")
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .select("doc_id").as[Long].collect().toSet == live)
  }

  test("a 10-id tombstone starts at most 8 jobs, and no more on a delta chain of 8 than on a chain of 1") {
    val path = tmp("graft-cow-tomb-jobs")
    val founding = perBucket(1L to 400L, 6)
    CorpusStore.writeCorpusCow(docs(founding, "base"), path, "doc_id",
      nBuckets)
    var live = founding.toSet
    var batch = 0
    def appendBatch(): Unit = {
      batch += 1
      val ids = perBucket((1 to 200).map(j => 100000L * batch + j), 1)
      live ++= ids
      CorpusStore.appendDeltaToCorpusCow(docs(ids, s"d$batch"), path)
    }
    def tombstone10(): Int = {
      val doomed = perBucket(live.toSeq, 2).take(10)
      assert(doomed.size == 10)
      live --= doomed
      JobBudget.jobs(spark)(CorpusStore.appendTombstonesToCorpusCow(
        doomed.toDF("doc_id"), path))
    }
    def chain = CorpusStore.cowHealthReport(spark, path).maxDeltaChain
    appendBatch()
    assert(chain == 1)
    val onChain1 = tombstone10()
    while (chain < 8) appendBatch()
    val onChain8 = tombstone10()
    assert(onChain1 <= 8, s"a 10-id tombstone paid $onChain1 jobs")
    assert(onChain8 <= onChain1,
      s"a 10-id tombstone paid $onChain1 job(s) onto a chain of 1 and " +
        s"$onChain8 onto a chain of 8")
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .select("doc_id").as[Long].collect().toSet == live)
  }

  test("a tombstone set with nothing live in it returns CURRENT and leaves no deltas/gen=<g+1> tree") {
    val path = tmp("graft-cow-tomb-noop")
    val founding = perBucket(1L to 400L, 4)
    CorpusStore.writeCorpusCow(docs(founding, "base"), path, "doc_id",
      nBuckets)
    val dead = founding.take(3)
    val g = CorpusStore.appendTombstonesToCorpusCow(dead.toDF("doc_id"),
      path)
    // absent ids hash into every (existing) bucket, so the live-id
    // probe and its write run
    val absent = perBucket((1 to 400).map(j => 900000L + j), 1)
    for (set <- Seq(absent, dead, dead ++ absent)) {
      assert(CorpusStore.appendTombstonesToCorpusCow(set.toDF("doc_id"),
        path) == g)
      assert(CorpusStore.currentGen(spark, path)._1 == g)
      assert(!new java.io.File(s"$path/deltas/gen=${g + 1}").exists,
        s"a no-op tombstone of $set left deltas/gen=${g + 1} behind")
    }
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .select("doc_id").as[Long].collect().toSet == founding.toSet -- dead)
  }

  test("a tombstone set with repeated ids writes one marker per live id") {
    val path = tmp("graft-cow-tomb-dups")
    val founding = perBucket(1L to 400L, 4)
    CorpusStore.writeCorpusCow(docs(founding, "base"), path, "doc_id",
      nBuckets)
    val dead = founding.take(2)
    CorpusStore.appendTombstonesToCorpusCow(dead.toDF("doc_id"), path)
    val doomed = founding.slice(2, 7)
    val set = doomed.flatMap(i => Seq.fill(3)(i)) ++ dead ++ dead ++
      Seq(900001L, 900001L)
    val g = CorpusStore.appendTombstonesToCorpusCow(set.toDF("doc_id"),
      path)
    val markers = TinyParquet.readGroups(spark, s"$path/manifest/gen=$g")
      .filter(r => r.getInteger("src_gen", 0) == g &&
        r.getBoolean("is_tombstone", 0))
      .map(_.getLong("n_rows", 0)).sum
    assert(markers == doomed.size)
    assert(TinyParquet.bucketRowCounts(spark, s"$path/deltas/gen=$g")
      .values.sum == doomed.size)
    assert(CorpusStore.cowHealthReport(spark, path).totalRows ==
      founding.size - dead.size - doomed.size)
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .select("doc_id").as[Long].collect().toSet ==
      founding.toSet -- dead -- doomed)
  }

  test("an empty appendDeltaToCorpusCow fails with 'empty change set' and leaves no tree behind") {
    val path = tmp("graft-cow-empty-delta")
    val founding = perBucket(1L to 400L, 4)
    CorpusStore.writeCorpusCow(docs(founding, "base"), path, "doc_id",
      nBuckets)
    val (g, _) = CorpusStore.currentGen(spark, path)
    val err = intercept[IllegalArgumentException](
      CorpusStore.appendDeltaToCorpusCow(docs(Nil, "none"), path))
    assert(err.getMessage.contains(
      "appendDeltaToCorpusCow: empty change set"))
    assert(!new java.io.File(s"$path/deltas/gen=${g + 1}").exists)
    assert(CorpusStore.currentGen(spark, path)._1 == g)
  }

  test("a 64-bucket read past Spark's 32-path listing threshold plans with ZERO jobs") {
    val path = tmp("graft-cow-jobs64")
    val wide = 64
    val founding = perBucket(1L to 4000L, 3, wide)
    CorpusStore.writeCorpusCow(docs(founding, "base"), path, "doc_id", wide)
    // one delta over 40 of the 64 buckets: an updated id in each of
    // buckets 0-9 and a new id in each of buckets 0-39
    val old = byBucket(founding, wide)
    val fresh = byBucket((1 to 8000).map(j => 100000L + j), wide)
    val delta = ((0 until 10).map(old(_).head) ++
      (0 until 40).map(fresh(_).head)).sorted
    CorpusStore.appendDeltaToCorpusCow(docs(delta, "d1"), path)
    var snap: org.apache.spark.sql.DataFrame = null
    var changes: org.apache.spark.sql.DataFrame = null
    val planning = JobBudget.jobs(spark) {
      snap = CorpusStore.readCorpusSnapshot(spark, path)
      changes = CorpusStore.corpusChangesSince(spark, path, 0, 1)
      snap.queryExecution.executedPlan
      changes.queryExecution.executedPlan
    }
    assert(planning == 0,
      s"building 64-bucket snapshot/change frames paid $planning job(s)")
    val rows = snap.as[(Long, String)].collect().toMap
    assert(rows.keySet == (founding ++ delta).toSet)
    assert(delta.forall(i => rows(i) == s"d1 document $i"))
    assert(changes.as[(Long, String)].collect().toMap ==
      delta.map(i => i -> s"d1 document $i").toMap)
  }

  test("CowFileIndex.listFiles applies partition filters exactly: each filter returns exactly the matching trees, no filter returns all") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{BooleanType, LongType, StructType}
    import graft.sources.CowFileIndex
    val root = tmp("graft-cow-index")
    val shape = Seq((0L, false), (3L, false), (5L, true), (7L, false))
    val trees = shape.zipWithIndex.map { case ((lww, dead), i) =>
      val dir = s"$root/t$i"
      spark.range(i * 10L, i * 10L + 3, 1, 2).toDF("doc_id")
        .write.parquet(dir)
      CowFileIndex.Tree(dir, lww, dead)
    }
    val index = new CowFileIndex(spark, trees)
    val lww = AttributeReference("_cs_lww", LongType, nullable = false)()
    val dead = AttributeReference("_cs_dead", BooleanType, nullable = false)()
    def listed(filters: Expression*): Seq[(Long, Boolean)] =
      index.listFiles(filters, Nil).map { p =>
        assert(p.files.nonEmpty && p.files.forall(_.getPath.getName
          .endsWith(".parquet")))
        (p.values.getLong(0), p.values.getBoolean(1))
      }
    assert(listed() == shape)
    assert(listed(EqualTo(dead, Literal(true))) == Seq((5L, true)))
    assert(listed(Not(dead)) == shape.filterNot(_._2))
    assert(listed(GreaterThan(lww, Literal(3L))) ==
      Seq((5L, true), (7L, false)))
    assert(listed(GreaterThan(lww, Literal(0L)), Not(dead)) ==
      Seq((3L, false), (7L, false)))
    assert(listed(EqualTo(lww, Literal(4L))).isEmpty)
    assert(index.inputFiles.length == trees.map(t =>
      TinyParquet.dataFileStatuses(spark, t.dir).size).sum)
    // through a query: the file-source strategy hands the partition
    // filters to listFiles and does not re-apply them after the scan
    val df = CowFileIndex.read(spark,
      StructType(Seq(org.apache.spark.sql.types.StructField("doc_id",
        LongType))), trees)
    assert(df.where(col("_cs_dead")).select("doc_id").as[Long]
      .collect().toSet == Set(20L, 21L, 22L))
    assert(df.where(col("_cs_lww") >= 5L && !col("_cs_dead"))
      .select("doc_id").as[Long].collect().toSet == Set(30L, 31L, 32L))
    assert(df.count() == 12)
  }

  test("footer schema equals spark.read.parquet's inferred schema: nested non-nullable columns, with and without Spark row metadata") {
    val dir = tmp("graft-footer-schema")
    val df = spark.range(5).select(
      col("id"),
      struct(col("id").as("a"), lit("x").as("b"),
        array(col("id")).as("inner")).as("s"),
      array(col("id"), col("id") + 1).as("arr"),
      map(lit("k"), col("id")).as("m"),
      array(struct(col("id").as("c"))).as("arr_s"))
    assert(!df.schema("s").nullable)
    assert(!df.schema("arr").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    df.write.mode("overwrite").parquet(s"$dir/spark")
    assert(TinyParquet.footerSchema(spark, s"$dir/spark") ==
      spark.read.parquet(s"$dir/spark").schema)
    // a driver-written tree carries no Spark row metadata: the
    // parquet schema is converted instead
    TinyParquet.write(spark, s"$dir/tiny",
      """message spark_schema {
        |  required int32 a;
        |  optional int64 b;
        |  required boolean c;
        |}""".stripMargin,
      Seq(Seq(1, 2L, true), Seq(3, null, false)))
    assert(TinyParquet.footerSchema(spark, s"$dir/tiny") ==
      spark.read.parquet(s"$dir/tiny").schema)
  }

  test("footer bucket counts equal a groupBy(_cs_bucket).count() over a multi-file generation with stray hidden files") {
    val genDir = s"${tmp("graft-footer-counts")}/gen=0"
    // round-robin partitions: every write task holds rows of every
    // bucket, so each bucket directory gets several files
    spark.range(0, 400, 1, 1).select(col("id").as("doc_id"),
        pmod(xxhash64(col("id")), lit(nBuckets.toLong)).cast("int")
          .as("_cs_bucket"))
      .repartition(3)
      .write.partitionBy("_cs_bucket").parquet(genDir)
    val bucketDir = new java.io.File(genDir).listFiles()
      .filter(_.getName.startsWith("_cs_bucket=")).minBy(_.getName)
    assert(bucketDir.listFiles().count(_.getName.endsWith(".parquet")) > 1)
    Seq("_x", ".x").foreach { n =>
      java.nio.file.Files.write(new java.io.File(bucketDir, n).toPath,
        "not parquet".getBytes("UTF-8"))
    }
    val viaSpark = spark.read.parquet(genDir)
      .groupBy("_cs_bucket").count()
      .as[(Int, Long)].collect().toMap
    assert(viaSpark.size == nBuckets)
    assert(TinyParquet.bucketRowCounts(spark, genDir) == viaSpark)
    assert(TinyParquet.rowCount(spark, bucketDir.getPath) ==
      spark.read.parquet(bucketDir.getPath).count())
  }

  test("readGroups and readGroupsFile return the example ParquetReader's rows: v1, v2 and current manifests, appended nulls, dictionary pages, several row groups") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = tmp("graft-tiny-read")
    val conf = spark.sessionState.newHadoopConf()
    def parquetFiles(dir: String): Seq[Path] =
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted.map(n => new Path(s"$dir/$n"))
        .toSeq
    def footer(f: Path) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter finally r.close()
    }
    def example(f: Path): Seq[String] = {
      val r = ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null)
        .map(_.toString).toVector
      finally r.close()
    }
    // v1 and v2 manifests, as the Spark writer of their day left them
    Seq((0, 1, 5L), (3, 0, 7L)).toDF("bucket", "src_gen", "n_rows")
      .repartition(1).write.parquet(s"$root/v1")
    Seq((0, 1, true, 5L, 9L), (3, 0, false, 7L, 7L))
      .toDF("bucket", "src_gen", "is_delta", "n_rows", "live_rows")
      .repartition(1).write.parquet(s"$root/v2")
    TinyParquet.write(spark, s"$root/current",
      """message spark_schema {
        |  required int32 bucket;
        |  required int32 src_gen;
        |  required boolean is_delta;
        |  required boolean is_tombstone;
        |  required int64 n_rows;
        |  required int64 live_rows;
        |}""".stripMargin,
      Seq(Seq(0, 1, true, true, 2L, 3L), Seq(0, 0, false, false, 5L, 3L),
        Seq(4, 0, false, false, 6L, 6L)))
    val logSchema =
      """message spark_schema {
        |  required int64 batch;
        |  optional int64 rows;
        |  optional boolean done;
        |}""".stripMargin
    TinyParquet.appendRows(spark, s"$root/log", logSchema,
      Seq(Seq(1L, 10L, true), Seq(2L, null, null)))
    TinyParquet.appendRows(spark, s"$root/log", logSchema,
      Seq(Seq(3L, null, false)))
    spark.range(0, 600, 1, 1)
      .select(col("id"), concat(lit("tag-"), (col("id") % 4).cast("string"))
        .as("tag"))
      .write.parquet(s"$root/dict")
    spark.range(0, 20000, 1, 1)
      .select(col("id"), (col("id") * 7919 % 100003).as("v"))
      .write.option("parquet.block.size", "8192").parquet(s"$root/groups")
    val dictFile = parquetFiles(s"$root/dict").head
    assert(footer(dictFile).getBlocks.asScala.head.getColumns.asScala
      .exists(_.hasDictionaryPage), "the fixture has no dictionary page")
    assert(footer(parquetFiles(s"$root/groups").head).getBlocks.size > 1,
      "the fixture has one row group")
    assert(parquetFiles(s"$root/log").size == 2)
    for (d <- Seq("v1", "v2", "current", "log", "dict", "groups")) {
      val dir = s"$root/$d"
      val expected = parquetFiles(dir).flatMap(example)
      assert(expected.nonEmpty)
      assert(TinyParquet.readGroups(spark, dir).map(_.toString) == expected,
        s"readGroups differs on $d")
      parquetFiles(dir).foreach(f => assert(
        TinyParquet.readGroupsFile(spark, f).map(_.toString) == example(f),
        s"readGroupsFile differs on $f"))
    }
    assert(TinyParquet.readGroups(spark, s"$root/log")
      .map(r => r.getLong("batch", 0) -> r.getFieldRepetitionCount("rows"))
      .sorted == Seq(1L -> 1, 2L -> 0, 3L -> 0))
    assert(TinyParquet.readGroups(spark, s"$root/groups").size == 20000)
  }
}

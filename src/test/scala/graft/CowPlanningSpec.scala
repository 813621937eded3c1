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
  *  - the footer helpers agree with Spark: the footer schema equals
  *    what `spark.read.parquet` infers (nested non-nullable columns
  *    included, with and without Spark's row metadata), and footer
  *    bucket counts equal a `groupBy("_cs_bucket").count()` over a
  *    multi-file generation with stray hidden files.
  */
class CowPlanningSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val nBuckets = 8

  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    // drain events of earlier work before counting
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try body finally {
      org.apache.spark.graft.ListenerBusAccess
        .waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    n.get()
  }

  /** Up to `k` ids of `ids` per bucket (the smallest), so a batch of
    * them touches every bucket.
    */
  private def perBucket(ids: Seq[Long], k: Int): Seq[Long] = {
    val byBucket = ids.toDF("doc_id")
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int"))
      .as[(Long, Int)].collect().toSeq.groupBy(_._2)
    assert(byBucket.size == nBuckets, "ids do not cover every bucket")
    byBucket.values.flatMap(_.map(_._1).sorted.take(k)).toSeq.sorted
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
    val onChain1 = jobs(appendBatch())
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
    val planning = jobs {
      snap = CorpusStore.readCorpusSnapshot(spark, path)
      changes = CorpusStore.corpusChangesSince(spark, path, 1, g)
      CorpusStore.listCorpusSnapshots(spark, path).collect()
    }
    assert(planning == 0,
      s"building snapshot/change frames and listing paid $planning job(s)")
    assert(snap.select("doc_id").as[Long].collect().toSet == live)
    assert(changes.count() > 0)
    val onChain8 = jobs(appendBatch())
    assert(onChain8 <= onChain1,
      s"one delta append paid $onChain1 job(s) onto a chain of 1 and " +
        s"$onChain8 onto a chain of 8")
    assert(CorpusStore.readCorpusSnapshot(spark, path)
      .select("doc_id").as[Long].collect().toSet == live)
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
}

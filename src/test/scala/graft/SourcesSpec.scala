package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sources

class SourcesSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-sources").toString
  private lazy val nation = Tables.load(spark, sfDir, "nation")

  test("csv roundtrip preserves rows and schema") {
    Sources.writeCsv(nation, s"$tmp/nation_csv")
    val back = Sources.csv(spark, s"$tmp/nation_csv", nation.schema)
    assertSameRows(nation, back)
  }

  test("csv roundtrip survives embedded newlines and empty strings") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("src-csv-hard").toString
    val df = Seq(
      (1L, "first line\nsecond line"),
      (2L, ""),
      (3L, "plain"),
      (4L, null)
    ).toDF("id", "text")
    Sources.writeCsv(df, s"$dir/t")
    val back = Sources.csv(spark, s"$dir/t", df.schema)
    assertSameRows(df, back)
  }

  test("json-lines roundtrip preserves rows") {
    Sources.writeJsonLines(nation, s"$tmp/nation_json")
    val back = Sources.jsonLines(spark, s"$tmp/nation_json", nation.schema)
    assertSameRows(nation, back)
  }

  test("json quarantine read preserves bad raw lines, parses good rows") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("src-json-bad").toString
    val lines = Seq(
      """{"id": 1, "text": "good row"}""",
      """{"id": 2, "text": "truncated""",          // malformed: cut off
      """{"id": "not a number", "text": "bad type"}""",
      """{"id": 4, "text": "another good one"}""",
      """not json at all""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-0.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = Sources.jsonLinesQuarantine(spark, s"$dir", schema)
    val (clean, bad) = Sources.splitQuarantine(df)
    assert(clean.columns.toSeq == Seq("id", "text"))
    assert(clean.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
    // every malformed line is preserved VERBATIM for reprocessing —
    // collected as full rows (narrowing the scan to the corrupt
    // column alone is the documented Spark restriction)
    val rawBad = bad.collect()
      .map(r => r.getString(r.fieldIndex("_corrupt_record"))).toSet
    assert(rawBad == Set(lines(1), lines(2), lines(4)),
      s"quarantine lost or altered raw lines: $rawBad")
    // and the write-aside path (the production shape) narrows fine
    val qdir = s"$dir/quarantine"
    bad.write.parquet(qdir)
    assert(spark.read.parquet(qdir).select("_corrupt_record")
      .as[String].collect().toSet == rawBad)
    // schema collision fails loudly
    val e = intercept[IllegalArgumentException](
      Sources.jsonLinesQuarantine(spark, dir,
        schema.add("_corrupt_record", "string")))
    assert(e.getMessage.contains("must not declare"))
  }

  test("partitioned parquet write enables partition pruning") {
    Sources.writeParquet(nation, s"$tmp/nation_part", partitionBy = Seq("n_regionkey"))
    val back = Sources.parquet(spark, s"$tmp/nation_part")
      .where(col("n_regionkey") === 0)
    assert(back.count() == nation.where(col("n_regionkey") === 0).count())
    val plan = back.queryExecution.executedPlan.toString
    // pruned scan: only the matching partition directory is listed
    assert(plan.contains("PartitionFilters: [isnotnull(n_regionkey"),
      s"partition pruning missing:\n$plan")
  }

  test("orc roundtrip preserves rows; predicate pushes to the scan") {
    Sources.writeOrc(nation, s"$tmp/nation_orc")
    val back = Sources.orc(spark, s"$tmp/nation_orc")
    assertSameRows(nation, back)
    val plan = back.where(col("n_nationkey") > 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey"),
      s"ORC pushdown missing:\n$plan")
  }

  test("partitioned orc write enables partition pruning") {
    Sources.writeOrc(nation, s"$tmp/nation_orc_part", partitionBy = Seq("n_regionkey"))
    val back = Sources.orc(spark, s"$tmp/nation_orc_part")
      .where(col("n_regionkey") === 0)
    assert(back.count() == nation.where(col("n_regionkey") === 0).count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(n_regionkey"),
      s"partition pruning missing:\n$plan")
  }

  test("text lines roundtrip single-line strings") {
    import spark.implicits._
    val lines = Seq("alpha", "beta gamma", "", "delta").toDF("value")
    Sources.writeText(lines, s"$tmp/lines_txt")
    val back = Sources.textLines(spark, s"$tmp/lines_txt")
    assertSameRows(lines, back)
  }

  test("graft SQL functions are callable after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       size(token_shingle_hashes('a b c d', 2)) AS n_sh,
        |       size(char_ngram_hashes('abcd', 2)) AS n_gr,
        |       simhash64(token_shingle_hashes('a b c d', 2)) AS sh
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 3)
    assert(r.getInt(2) == 3)
    // kernel agrees with the operator-side column API
    import spark.implicits._
    val viaCol = Seq("a b c d").toDF("t")
      .select(graft.operators.Dedup.simhash64(col("t"))).as[Long].head()
    assert(r.getLong(3) == viaCol)
  }

  test("SfSynth.replicateDocuments: rep× rows, shifted ids, same token multisets") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val rep = 3
    val shift = 100000000L
    val orig = docs.collect().map(r => r.getLong(0) -> r).toMap
    val copies = SfSynth.replicateDocuments(docs, rep)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
    assert(orig.nonEmpty && orig.keys.forall(id => id >= 0 && id < shift))
    assert(copies.length == rep * orig.size)
    val ids = copies.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "doc_ids must stay distinct")
    assert(ids.sorted.toSeq ==
      (for (i <- 0 until rep; id <- orig.keys) yield id + i * shift).sorted)
    def tokens(text: String) = text.split(" +").filter(_.nonEmpty).sorted.toSeq
    copies.foreach { c =>
      val o = orig(c.getLong(0) % shift)
      assert(tokens(c.getString(1)) == tokens(o.getString(1)),
        s"doc ${c.getLong(0)}: token multiset differs from doc ${o.getLong(0)}")
      assert(c.getString(2) == o.getString(2))
      assert(c.getString(3) == o.getString(3))
      assert(c.getLong(4) == o.getLong(4))
    }
  }
}

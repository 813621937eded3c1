package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Per-row cost of graft's kernels, each called through its registered
  * SQL name over fixed inputs derived from `documents` and `embeddings`.
  * Inputs, including each kernel's array arguments, are cached first,
  * so a probe times one kernel plus a cached scan and one hash per row.
  */
object KernelProbes {
  val DocCopies = 20
  val VecCopies = 20
  val Reps = 3

  def run(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val docs = Tables.load(spark, dataDir, "documents")
      .select(col("doc_id"), col("text"))
      .crossJoin(spark.range(DocCopies).toDF("copy"))
      .withColumn("a", expr("array_sort(array_distinct(token_shingle_hashes(text, 3)))"))
      .withColumn("sh", expr("token_shingle_hashes(text, 5)"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("copy", "doc_id")
    val docPairs = docs.withColumn("b", coalesce(lead(col("a"), 1).over(w), col("a"))).cache()
    val vecs = Tables.load(spark, dataDir, "embeddings").select(col("vec_id"), col("embedding"))
    val dim = vecs.head().getSeq[Float](1).size
    val vecPairs = vecs.crossJoin(spark.range(VecCopies).toDF("copy"))
      .withColumn("other", coalesce(lead(col("embedding"), 1)
        .over(org.apache.spark.sql.expressions.Window.orderBy("copy", "vec_id")), col("embedding")))
      .cache()
    val rnd = new scala.util.Random(7)
    def lit(n: Int) = Seq.fill(n)(f"${rnd.nextGaussian() * 0.1}%.6fD").mkString("array(", ",", ")")
    val cents = lit(16 * dim)
    val pqM = 8
    val codebook = lit(16 * dim) // m · nCodes · (dim / m) = 16 · dim
    val wordsDf = docs.where(col("copy") === 0)
      .select(explode(split(col("text"), " +")).as("word"))
      .crossJoin(spark.range(DocCopies).toDF("copy")).cache()
    val merges = mergeTable(wordsDf)

    val probes: Seq[(String, DataFrame, String)] = Seq(
      ("token_shingle_hashes", docPairs, "token_shingle_hashes(text, 5)"),
      ("minhash_sig", docPairs, "minhash_sig(sh, 64, 7)"),
      ("simhash64", docPairs, "simhash64(a)"),
      ("sorted_jaccard", docPairs, "sorted_jaccard(a, b)"),
      ("dot_product", vecPairs, "dot_product(embedding, other)"),
      ("nearest_centroid", vecPairs, s"nearest_centroid(embedding, $cents, $dim)"),
      ("pq_encode", vecPairs, s"pq_encode(embedding, $codebook, $pqM, 16)"),
      ("bpe_segment", wordsDf, s"bpe_segment(word, $merges)"))
    try probes.map { case (name, input, kernel) =>
      val rows = input.count()
      val q = input.selectExpr(s"max(xxhash64($kernel))")
      q.collect()
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime(); q.collect(); System.nanoTime() - t0
      }.sorted
      s"functions.$name.ns_per_row" -> times(Reps / 2).toDouble / rows
    }.toMap
    finally { docPairs.unpersist(); vecPairs.unpersist(); wordsDf.unpersist() }
  }

  /** The 40 most frequent adjacent character pairs of the corpus words,
    * as a `left right` merge list literal.
    */
  private def mergeTable(words: DataFrame): String = {
    val pairs = words.where(col("copy") === 0).collect().map(_.getString(0))
      .flatMap(w => w.sliding(2).filter(p => p.length == 2 && p.forall(_.isLetterOrDigit)))
      .groupBy(identity).map { case (p, xs) => p -> xs.length }.toSeq
      .sortBy { case (p, n) => (-n, p) }.take(40)
    pairs.map { case (p, _) => s"'${p(0)} ${p(1)}'" }.mkString("array(", ",", ")")
  }
}

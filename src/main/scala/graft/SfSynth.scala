package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up of the `documents` table: the driver ships
  * sf0.001/0.01/0.1; the design point is ~100 TB. A 100× run of the
  * pipeline on this replication shape caught two real defects (a
  * BIGINT overflow in the d17 sample hash and c03's quadratic probe
  * scoring; see `queries.PipelineShared`).
  *
  * Replication contract: per-copy deterministic WORD SHUFFLE (each
  * copy's words sort by xxhash64(word, copy)): the token MULTISET is
  * invariant, so every multiset-derived metric (quality score,
  * dup-word fraction, stopword ratios, token counts) scores each copy
  * exactly like its original and curation filters pass rep× the mass;
  * word ORDER differs per copy, so shingle sets decorrelate and
  * near-dup candidate mass stays that of fresh data. (Salting copies
  * with injected tokens instead blew dupWordFrac past the c01/c10
  * cutoff and quietly shrank every downstream stage back to the
  * original size.) The id shift (10⁸, a multiple of 40) preserves
  * every doc_id-modulus plant density (eval splits at %10, edit
  * plants at %20/%40).
  */
object SfSynth {

  /** Per-copy doc_id shift — a multiple of 40 (documents' modulus
    * plants) and far above any sf0.1 key range.
    */
  private val IdShift = 100000000L

  /** Copy i shifts doc_id by i·10⁸ and word-shuffles text
    * deterministically (multiset-invariant; copy 0 shuffles too, so
    * all copies are statistically alike). Other columns pass through.
    */
  def replicateDocuments(docs: DataFrame, rep: Int): DataFrame =
    docs.repartition(64)
      .select(col("*"), explode(sequence(lit(0), lit(rep - 1))).as("_i"))
      .withColumn("doc_id",
        col("doc_id") + col("_i").cast("long") * lit(IdShift))
      .withColumn("text", array_join(
        transform(
          array_sort(transform(split(col("text"), " +"), t =>
            struct(
              xxhash64(concat(t, lit("#"), col("_i").cast("string")))
                .as("h"),
              t.as("t")))),
          s => s.getField("t")),
        " "))
      .drop("_i")
}

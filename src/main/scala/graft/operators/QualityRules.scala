package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Repetition-based quality rules (the Gopher/MassiveText family):
  * fraction of characters inside the most common word 2-gram, and
  * fraction of characters inside duplicated word 3-grams. Documents
  * dominated by repeated phrases are boilerplate/spam and get dropped
  * before training.
  *
  * Scale shape: per-document metrics must NOT be computed with
  * per-document array lambdas — a nested "count occurrences of each
  * gram" lambda is O(len²) per document and dies on a 100k-token
  * document. Instead documents explode to (doc_id, gram) occurrence
  * rows and a partial-aggregating groupBy((doc_id, gram)) counts them
  * — linear in token count, and the doc_id prefix keeps the shuffle
  * key uniform (no hot keys even when one gram dominates a doc).
  *
  * Determinism: the "most common 2-gram" tie-break is by repeated-char
  * mass — max over (count, chars) STRUCTS, compared field-by-field in
  * order (identical lexicographic semantics in Spark and DuckDB). A
  * packed-BIGINT encoding would overflow its low slot once
  * count·gramLength reaches 2³²; struct comparison has no such cliff.
  */
object QualityRules {

  private def gramCounts(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val w = split(col(textCol), " ")
    docs.select(col(idCol).as("doc_id"), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(Overlap.wordGrams(col("w"), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** Per-document repetition metrics over word 2-grams and 3-grams:
    * (doc_id, n_chars_total, frac_top_2gram_chars, frac_dup_3gram_chars,
    * keep). Character mass of a gram = cnt · length(gram); fractions
    * are single double divisions of exact longs. */
  def repetitionStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxTop2: Double = 0.20,
      maxDup3: Double = 0.60): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars_total"))

    val chars2 = col("cnt") * length(col("gram")).cast("long")
    val top2 = gramCounts(docs, idCol, textCol, 2)
      .select(col("doc_id"),
        struct(col("cnt").as("c"), chars2.as("ch")).as("ranked"))
      .groupBy(col("doc_id"))
      .agg(max(col("ranked")).as("top"))
      .select(col("doc_id"), col("top").getField("ch").as("top2_chars"))

    val dup3 = gramCounts(docs, idCol, textCol, 3)
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")).cast("long"))
          .otherwise(0L)).cast("long").as("dup3_chars"),
        sum(col("cnt") * length(col("gram")).cast("long")).cast("long")
          .as("all3_chars"))

    base
      .join(top2, Seq("doc_id"), "left_outer")
      .join(dup3, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_chars_total"),
        (coalesce(col("top2_chars"), lit(0L)).cast("double") /
          col("n_chars_total").cast("double")).as("frac_top_2gram_chars"),
        (coalesce(col("dup3_chars"), lit(0L)).cast("double") /
          coalesce(col("all3_chars"), lit(1L)).cast("double"))
          .as("frac_dup_3gram_chars"))
      .withColumn("keep",
        col("frac_top_2gram_chars") <= maxTop2 &&
          col("frac_dup_3gram_chars") <= maxDup3)
  }
}

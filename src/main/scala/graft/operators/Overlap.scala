package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram overlap operators: benchmark-contamination detection and
  * corpus-level duplicated-span statistics — the decontamination /
  * span-dedup stages of a training-data pipeline (the GPT-3 appendix-C
  * / C4 span-dedup shapes, re-expressed as Spark joins).
  *
  * Both are hash-based (portable 60-bit md5 prefix, [[Dedup.hash60]])
  * and explode documents to one row per n-gram occurrence: linear in
  * corpus token count, embarrassingly parallel, with exactly one
  * shuffle each (a broadcast semi-join for contamination, a gram-key
  * aggregation for span stats).
  */
object Overlap {

  /** Word n-grams WITH multiplicity — alias of [[Dedup.wordGrams]]
    * (one shared gram construction; [[Dedup.wordShingles]] is its
    * distinct form). Caller filters size(words) >= n first. */
  def wordGrams(words: Column, n: Int): Column = Dedup.wordGrams(words, n)

  /** Per-document count of distinct n-grams also present in a benchmark
    * set — the train/test contamination check. Every corpus document
    * comes back (n_hits = 0 when clean) so the output is a complete
    * audit table.
    *
    * Scale shape: the benchmark's distinct gram hashes are SMALL by
    * definition (eval sets are thousands of documents, not billions) —
    * they broadcast; the corpus side stays a linear scan + explode with
    * a map-side semi-join, then one aggregation on doc_id. No
    * corpus-sized shuffle of gram strings ever happens (grams travel as
    * 8-byte hashes, and only the matching ones reach the aggregate).
    */
  def contaminationHits(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    def gramHashes(df: DataFrame) = {
      val w = split(col(textCol), " ")
      df.select(col(idCol).as("doc_id"), w.as("w"))
        .filter(size(col("w")) >= n)
        .select(col("doc_id"),
          explode(array_distinct(transform(wordGrams(col("w"), n),
            g => Dedup.hash60(g)))).as("gh"))
    }
    val benchGrams = gramHashes(benchmark).select(col("gh")).distinct()
    val hits = gramHashes(corpus)
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_hits"))
  }

  /** Corpus-level n-gram COVERAGE — the dataset-comparison summary
    * ("how redundant is corpus T given corpus R?") that sits above
    * the per-document operators: the fraction of T's n-gram
    * OCCURRENCES whose gram also appears in R (occurrence coverage ≈
    * how much of T's token mass R already spans) and the fraction of
    * T's distinct grams seen in R (type coverage ≈ vocabulary
    * novelty, 1 − coverage). The one-row answer to "is this new crawl
    * worth adding", computed before any expensive dedup runs.
    *
    * Scale shape: each side collapses to its DISTINCT-gram table in
    * one Zipfian-keyed hash agg (map-side combine absorbs hot grams);
    * the comparison is one left join of distinct-gram tables on
    * 8-byte hashes — never corpus-sized rows. Output is a single row
    * of exact counts plus two single-division ratios. */
  def corpusCoverage(
      target: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val w = split(col(textCol), " ")
      df.select(w.as("w"))
        .filter(size(col("w")) >= n)
        .select(explode(transform(wordGrams(col("w"), n),
          g => Dedup.hash60(g))).as("gh"))
        .groupBy(col("gh")).agg(count(lit(1)).cast("long").as("c"))
    }
    val t = grams(target)
    val r = grams(reference).select(col("gh"), lit(1).as("__in_ref"))
    t.join(r, Seq("gh"), "left")
      .agg(
        sum(col("c")).cast("long").as("tgt_occurrences"),
        sum(when(col("__in_ref").isNotNull, col("c")).otherwise(0L))
          .cast("long").as("tgt_occ_covered"),
        count(lit(1)).cast("long").as("tgt_types"),
        count(col("__in_ref")).cast("long").as("tgt_types_covered"))
      .select(col("tgt_occurrences"), col("tgt_occ_covered"),
        (col("tgt_occ_covered").cast("double") /
          col("tgt_occurrences").cast("double")).as("occ_coverage"),
        col("tgt_types"), col("tgt_types_covered"),
        (col("tgt_types_covered").cast("double") /
          col("tgt_types").cast("double")).as("type_coverage"))
  }

  /** Duplicated-span REMOVAL — the rewrite companion of
    * [[duplicatedSpanStats]] (which only measures): every word position
    * covered by at least one corpus-duplicated n-gram occurrence is cut
    * from the document, and the surviving words are re-joined in order —
    * the exact-substring-dedup shape (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") at word granularity.
    * A document sharing a long passage with any other keeps only its
    * unique text; documents shorter than n words pass through intact;
    * a fully-duplicated document collapses to the empty string (its
    * row is kept so the output stays a complete per-document audit).
    *
    * "Duplicated" = the gram occurs >= 2 times corpus-wide counting
    * multiplicity, own repeats included — the same definition
    * [[duplicatedSpanStats]] thresholds on, so the two operators agree
    * by construction (rewrite removes exactly the mass qd09 measures).
    *
    * Scale shape: positions ride the same explode the stats take —
    * (doc_id, pos, 8-byte gram hash) rows; one Zipfian-keyed hash agg
    * finds duplicated grams (map-side combine absorbs hot spans before
    * the shuffle), a left-semi join back keeps only duplicated
    * occurrences, a bounded explode (n rows per duplicated gram) lands
    * covered positions, and the rebuild is a (doc_id, pos) anti-join +
    * one per-doc aggregation whose array_sort runs over a
    * document-sized array, never a corpus-sized one. All shuffles are
    * on narrow keys (8-byte hash / (id, int) pairs); nothing is
    * all-pairs and no text string wider than one document ever moves.
    */
  def spanDedupRewrite(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame =
    spanRewriteWithModel(docs, idCol, textCol, n,
      duplicatedGrams(docs, idCol, textCol, n))

  /** The MODEL half of [[spanDedupRewrite]]: the corpus-duplicated
    * gram-hash set (gh), counted with multiplicity corpus-wide. Build
    * once over the reference corpus, persist, serve many times —
    * batch ([[spanRewriteWithModel]]) or streaming
    * ([[graft.streaming.EventStreams.appendEach]], qst19). */
  def duplicatedGrams(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val w = split(col(textCol), " ")
    docs.select(col(idCol).as("doc_id"), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(explode(transform(wordGrams(col("w"), n),
        g => Dedup.hash60(g))).as("gh"))
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("c_corpus"))
      .filter(col("c_corpus") >= 2)
      .select(col("gh"))
  }

  /** The APPLY half of [[spanDedupRewrite]]: rewrite `docs` against a
    * prebuilt duplicated-gram set — stateless per document, so it runs
    * unchanged inside a streaming micro-batch. */
  def spanRewriteWithModel(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      dup: DataFrame): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val w = split(col(textCol), " ")
    val base = docs.select(col(idCol).as("doc_id"), w.as("w"))
    val grams = base.filter(size(col("w")) >= n)
      .select(col("doc_id"),
        posexplode(transform(wordGrams(col("w"), n), g => Dedup.hash60(g))))
      .toDF("doc_id", "i", "gh")
    val covered = grams.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("p"))
      .distinct()
    val words = base
      .select(col("doc_id"), posexplode(col("w")))
      .toDF("doc_id", "p", "word")
    val kept = words.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("word")))),
            x => x.getField("word")), " ").as("text"),
        count(lit(1)).cast("long").as("n_kept"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"),
        col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-document duplicated-span statistics: how many of a document's
    * word n-gram occurrences belong to spans seen >= 2 times across the
    * whole corpus (counting multiplicity, own repeats included) — the
    * signal C4-style span dedup thresholds on.
    *
    * Scale shape: explode to (doc_id, gram-hash) occurrence rows, count
    * occurrences per hash with a partial-aggregating groupBy (map-side
    * combine absorbs hot spans before the shuffle), broadcast is NOT
    * assumed — the count table can be corpus-sized, so it equi-joins
    * back on the hash (AQE handles the skew of mega-spans). Two
    * shuffles total, both on 8-byte keys.
    */
  /** @param maxDocFreq optional df-cut: spans appearing in more than
    *   this many DOCUMENTS are treated as boilerplate and excluded
    *   from both numerator and denominator — the bound on mega-span
    *   join skew when stop-phrases dominate a web corpus. None keeps
    *   exact semantics (the oracle-checked default). */
  def duplicatedSpanStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val w = split(col(textCol), " ")
    val grams = docs
      .select(col(idCol).as("doc_id"), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(transform(wordGrams(col("w"), n), g => Dedup.hash60(g))).as("gh"))
    val perDocPerGramAll = grams.groupBy(col("doc_id"), col("gh"))
      .agg(count(lit(1)).cast("long").as("c_in_doc"))
    val perDocPerGram = maxDocFreq match {
      case None => perDocPerGramAll
      case Some(cut) =>
        val hot = perDocPerGramAll.groupBy(col("gh"))
          .agg(count(lit(1)).as("docfreq"))
          .filter(col("docfreq") > cut).select(col("gh"))
        perDocPerGramAll.join(broadcast(hot), Seq("gh"), "left_anti")
    }
    val corpusCounts = perDocPerGram.groupBy(col("gh"))
      .agg(sum(col("c_in_doc")).cast("long").as("c_corpus"))
    perDocPerGram.join(corpusCounts, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c_in_doc")).cast("long").as("n_spans"),
        sum(when(col("c_corpus") >= 2, col("c_in_doc")).otherwise(0L))
          .cast("long").as("n_dup_spans"))
      .withColumn("frac_dup",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** In-engine byte-pair-encoding TRAINING and tokenization — the
  * map-reduce BPE formulation (Sennrich et al.'s algorithm re-expressed
  * over the word-frequency table): the corpus is touched ONCE, by the
  * word-count aggregation; every merge round after that runs over the
  * vocabulary table (Zipf-bounded — ~10⁵–10⁶ rows for any corpus size,
  * 100 TB included), so training cost is corpus-scale for exactly one
  * pass and vocab-scale thereafter. This closes the tokenizer loop the
  * vocab-driven seam left open: [[trainBpe]] learns the merge table
  * from the corpus itself, [[bpeTokenCounts]] tokenizes with it, and
  * the counts feed [[Packing.sequencePack]]'s `tokenCountCol` seam.
  *
  * Representation: a word's symbol sequence is a single string with
  * every symbol wrapped as STX·sym·ETX. Merging pair (l, r) is
  * then `replace(sym, ␂l␃␂r␃ → ␂lr␃)` — and because SQL `replace`
  * substitutes non-overlapping occurrences LEFT-TO-RIGHT, this is
  * exactly greedy BPE merge application ("aaa" under (a,a) → "(aa)(a)"),
  * identical in Spark and DuckDB, with no false sub-symbol matches
  * (the wrap chars bound every symbol). Contract: corpus text must not
  * contain STX/ETX control chars (true of any sane text corpus; the quality
  * rules strip control chars upstream).
  *
  * Determinism: pair counts are exact integers; each round's winning
  * pair breaks ties by (count DESC, left ASC, right ASC) — total
  * order, so the learned merge table is bit-identical across engines
  * and partitionings. No RNG anywhere.
  *
  * Scale shape per round: one explode of the vocab's adjacent pairs +
  * a hash aggregate (map-side combinable) + a 1-row argmax broadcast
  * back into a narrow `replace` projection. The merge rounds run on
  * [[graft.core.Iterate]], which labels them `bpe: round N` and settles
  * the vocab once its chain of projections outgrows the plan budget.
  */
object Bpe {

  private val S = "\u0002" // symbol start (STX)
  private val E = "\u0003" // symbol end (ETX)

  /** Learned model: `merges` = (round, left, right, merged, cnt) in
    * training order; `vocab` = (word, freq, sym, n_sym) with `sym` the
    * post-merge delimited symbol string. `merges` is a local relation;
    * `vocab` is OpCache-persisted, released via
    * [[graft.core.OpCache.releaseAll]]. */
  final case class BpeModel(merges: DataFrame, vocab: DataFrame)

  private def wrapChars(word: Column): Column =
    array_join(transform(split(word, ""), c => concat(lit(S), c, lit(E))), "")


  /** The most frequent adjacent symbol pair of `vocab` as (left, right,
    * cnt), ties broken by (left, right), or none when no word has two
    * symbols. Collected: this is a scalar calibration read (the
    * Histogram head() discipline), not a data collect — and it lets the
    * merge apply as literals instead of a crossJoin, so an exhausted
    * pair table stops training instead of wiping the vocab. */
  private def bestPair(vocab: DataFrame): Option[Row] = {
    val syms = vocab.select(col("freq"),
      split(expr("substring(sym, 2, length(sym) - 2)"), E + S).as("a"))
    syms
      .filter(size(col("a")) >= 2)
      .select(col("freq"), explode(
        zip_with(slice(col("a"), lit(1), size(col("a")) - 1),
          slice(col("a"), lit(2), size(col("a")) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("freq")).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("left"), col("right"))
      .limit(1).collect().headOption
  }

  /** Train `rounds` BPE merges over the corpus' word-frequency table.
    * The ONLY corpus-scale pass is the initial word count; the merge
    * loop is vocab-sized. */
  def trainBpe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): BpeModel = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._
    // THE corpus pass: word frequencies (Zipf-bounded output)
    val vocab0 = graft.core.OpCache.persist(
      docs.select(explode(split(col(textCol), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).cast("long").as("freq"))
        .select(col("word"), col("freq"), wrapChars(col("word")).as("sym")))
    val mergesBuf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var exhausted = false
    val vocab = graft.core.Iterate.frames("bpe", vocab0, rounds) { vocab =>
      // once the pair table runs out, a round keeps the vocab and runs no job
      (if (exhausted) None else bestPair(vocab)) match {
        case None => exhausted = true; vocab
        case Some(best) =>
          val (l, r) = (best.getString(0), best.getString(1))
          mergesBuf += (((mergesBuf.size + 1).toLong, l, r, l + r, best.getLong(2)))
          vocab.select(col("word"), col("freq"),
            replace(col("sym"), lit(S + l + E + S + r + E),
              lit(S + l + r + E)).as("sym"))
      }
    }
    val merges = mergesBuf.toSeq
      .toDF("round", "left", "right", "merged", "cnt")
    val withN = graft.core.OpCache.persist(
      vocab.withColumn("n_sym",
        ((length(col("sym")) - length(replace(col("sym"), lit(S), lit(""))))
          ).cast("long")))
    BpeModel(merges, withN)
  }

  /** Per-document BPE token counts under a trained model: explode the
    * document's words, join the vocab's post-merge symbol counts, sum
    * per document. Documents whose every word is absent from the vocab
    * (trained on a different corpus) contribute only their known
    * words; documents with no words at all are absent — run the
    * quality floor upstream. The join key is the word (vocab-sized
    * right side — broadcastable for 10⁵-word vocabularies, an
    * ordinary equi-join beyond). */
  def bpeTokenCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: BpeModel): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(model.vocab.select(col("word"), col("n_sym")), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_sym")).cast("long").as("n_tokens"))
}

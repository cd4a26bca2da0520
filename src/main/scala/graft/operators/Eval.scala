package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.expr.Exprs.exactSum

/** Classifier / scorer evaluation — the measurement half of the
  * learned-filter loop ([[Logit]], [[Curation.curateWithClassifier]],
  * qt34): before a trained quality filter gates a 100 TB corpus, its
  * scores need an AUC and a calibration audit against a labeled
  * sample. Both operators are pure aggregation shapes that scale to
  * the full corpus, not just the audit sample.
  *
  * Determinism: AUC is computed from exact INTEGER pair counts (the
  * tie-aware Mann–Whitney identity) — no floating accumulation at
  * all until the single final division. The pair-count products and
  * their sum run in DECIMAL (2·AUC·P·N wraps a long once P·N exceeds
  * ~4.6e18, i.e. ~2B rows per class — exactly the full-corpus regime
  * these operators claim); calibration means quantize
  * each score to DECIMAL(30,6) before the order-invariant sum. Both
  * round derived doubles to 6 decimals (the engine-comparability
  * discipline of q42/qm01/Stats).
  */
object Eval {

  /** Exact tie-aware ROC AUC in ONE aggregate row:
    * (n_pos, n_neg, auc).
    *
    * Identity: with score groups g (distinct score values) holding
    * pos_g positives, neg_g negatives, and negBelow_g = negatives at
    * strictly smaller scores,
    *
    *   2·AUC·P·N = Σ_g pos_g · (2·negBelow_g + neg_g)
    *
    * — concordant pairs count 2, tied-score pairs count 1, all
    * arithmetic on exact longs; the one double division at the end
    * rounds to 6. This is P(score⁺ > score⁻) + ½·P(=), the
    * probabilistic AUC definition, so ties need no rank averaging.
    *
    * The prefix sum negBelow runs WITHOUT a global window (the
    * [[Sharding.tokenShards]] discipline): score groups bucket by the
    * clamped quantization floor(score·buckets) — a monotone function
    * of the sort key, so each bucket is a contiguous range of the
    * global score order — then per-bucket windows (parallel), one
    * bucket-total fold on a 1-row array frame, and a broadcast
    * offset join. Scores are expected probability-like in [0, 1];
    * out-of-range values clamp into the edge buckets, which only
    * narrows parallelism, never correctness (in-bucket ordering is
    * still by raw score).
    *
    * Scale shape: one hash agg on score (map-side combined), windows
    * over |distinct scores| rows max — nothing touches pairs, nothing
    * single-reducer. If either class is empty, auc is NULL (no pairs
    * to rank).
    */
  def aucReport(
      df: DataFrame, labelCol: String, scoreCol: String,
      buckets: Int = 16): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val s = df.select(
      col(scoreCol).cast("double").as("score"),
      col(labelCol).cast("int").cast("long").as("y"))
      .filter(col("score").isNotNull && col("y").isNotNull)
    aucFromScoreGroups(
      s.groupBy(col("score")).agg(
        sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg")),
      buckets)
  }

  /** [[aucReport]]'s aggregation subplan over PRE-AGGREGATED
    * (score, pos, neg) groups — exposed package-private so the
    * DECIMAL overflow discipline is testable at full-corpus counts
    * (P·N > 2⁶³) without materializing billions of rows: the subplan
    * is count-driven from here on, so synthetic group counts exercise
    * exactly the arithmetic a 4B-row corpus would. */
  private[graft] def aucFromScoreGroups(
      g: DataFrame, buckets: Int): DataFrame = {
    val b = g.withColumn("bucket",
      greatest(lit(0L), least(floor(col("score") * buckets), lit(buckets - 1L))))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = b.withColumn("cumneg_in", sum(col("neg")).over(wb))
    // bucket totals -> prefix offsets inside one 1-row array frame
    // (sort_array orders by bucket, the struct's first field)
    val offsets = b.groupBy(col("bucket")).agg(sum(col("neg")).as("total"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("total")))).as("bt"))
      .select(explode(transform(col("bt"), (x, i) => struct(
        x.getField("bucket").as("bucket"),
        aggregate(slice(col("bt"), lit(1), i), lit(0L),
          (acc, st) => acc + st.getField("total")).as("offset")))).as("o"))
      .select(col("o.bucket").as("bucket"), col("o.offset").as("offset"))
    local.join(broadcast(offsets), Seq("bucket"))
      .select(col("pos"), col("neg"),
        // DECIMAL term + sum: 2·AUC·P·N reaches ~4.6e18 at ~2B rows per
        // class and would wrap a long there; DECIMAL(19,0) factors
        // (each a count ≤ corpus size) multiply into DECIMAL(38,0)
        // exactly, keeping the "scales to the full corpus" scaladoc
        // claim honest.
        (col("pos").cast(DecimalType(19, 0)) *
          ((col("offset") + col("cumneg_in") - col("neg"))
            .cast(DecimalType(19, 0)) * lit(2)
            + col("neg").cast(DecimalType(19, 0)))).as("u2"))
      .agg(
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("neg")).cast("long").as("n_neg"),
        sum(col("u2")).as("u2s"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("u2s").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** SLICED AUC — [[aucReport]] per group, the "which slices does my
    * filter fail on" table (per-source, per-language, per-length
    * bucket): a scorer can hold a healthy global AUC while being
    * noise on one source, and the global number will never say so.
    * Same integer Mann–Whitney identity and bucketed-prefix
    * discipline, with every stage keyed by (group, …): one hash agg
    * on (group, score), per-(group, bucket) windows, a
    * 16-rows-per-group offset fold, one broadcast join. Groups with a
    * single class report NULL auc (no pairs to rank).
    *
    * @return (group, n_pos, n_neg, auc) — one row per group. */
  def aucReportBy(
      df: DataFrame, groupCol: String, labelCol: String, scoreCol: String,
      buckets: Int = 16): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val s = df.select(
      col(groupCol).as("grp"),
      col(scoreCol).cast("double").as("score"),
      col(labelCol).cast("int").cast("long").as("y"))
      .filter(col("score").isNotNull && col("y").isNotNull)
    val g = s.groupBy(col("grp"), col("score")).agg(
      sum(col("y")).as("pos"),
      (count(lit(1)) - sum(col("y"))).as("neg"))
    val b = g.withColumn("bucket",
      greatest(lit(0L), least(floor(col("score") * buckets), lit(buckets - 1L))))
    val wb = Window.partitionBy(col("grp"), col("bucket"))
      .orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = b.withColumn("cumneg_in", sum(col("neg")).over(wb))
    val offsets = b.groupBy(col("grp"), col("bucket"))
      .agg(sum(col("neg")).as("total"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("total")))).as("bt"))
      .select(col("grp"),
        explode(transform(col("bt"), (x, i) => struct(
          x.getField("bucket").as("bucket"),
          aggregate(slice(col("bt"), lit(1), i), lit(0L),
            (acc, st) => acc + st.getField("total")).as("offset")))).as("o"))
      .select(col("grp"), col("o.bucket").as("bucket"),
        col("o.offset").as("offset"))
    local.join(broadcast(offsets), Seq("grp", "bucket"))
      .select(col("grp"), col("pos"), col("neg"),
        // DECIMAL term + sum — the aucReport overflow discipline
        (col("pos").cast(DecimalType(19, 0)) *
          ((col("offset") + col("cumneg_in") - col("neg"))
            .cast(DecimalType(19, 0)) * lit(2)
            + col("neg").cast(DecimalType(19, 0)))).as("u2"))
      .groupBy(col("grp"))
      .agg(
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("neg")).cast("long").as("n_neg"),
        sum(col("u2")).as("u2s"))
      .select(col("grp").as(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("u2s").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** Reliability (calibration) table: scores cut into `bins`
    * equal-width probability bins, per bin the count, positive count,
    * DECIMAL-exact mean score and positive fraction — the table that
    * says whether "score 0.8" means 80 % precision or just "higher
    * than 0.7". A well-calibrated filter lets a curation run pick a
    * threshold from the target kept-quality directly.
    *
    * One hash aggregate, |bins| output rows; mean quantizes each
    * score to DECIMAL(30,6) before the order-invariant sum. Empty
    * bins are absent (no row), derived doubles round to 6.
    */
  def calibrationBins(
      df: DataFrame, labelCol: String, scoreCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    df.select(
      col(scoreCol).cast("double").as("score"),
      col(labelCol).cast("int").cast("long").as("y"))
      .filter(col("score").isNotNull && col("y").isNotNull)
      .withColumn("bin",
        greatest(lit(0L), least(floor(col("score") * bins), lit(bins - 1L))))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("n_pos"),
        round(exactSum(col("score")) / count(lit(1)), 6).as("mean_score"),
        round(sum(col("y")).cast("double") / count(lit(1)), 6).as("frac_pos"))
  }
}

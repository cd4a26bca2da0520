package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.Exprs.exactSum

/** Grouped statistical model fitting — the feature-engineering /
  * trend-extraction stage of an analytics pipeline (per-indicator trend
  * lines over the reference's yearly series; per-segment elasticities
  * over fact tables).
  */
object Stats {

  /** Per-group ordinary-least-squares fit y = slope·x + intercept with
    * the coefficient of determination r².
    *
    * Everything derives from SIX order-invariant sufficient statistics
    * computed in ONE hash-aggregate pass — n, Σx, Σy, Σx², Σy², Σxy —
    * each summed as DECIMAL(30,6) (exact, associative: map-side
    * partials merge losslessly) and only then cast to double, so the
    * fitted coefficients are bit-reproducible at any partitioning. The
    * closed forms
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    *   r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    *
    * are then a fixed dag of IEEE double ops on identical inputs —
    * identical on every engine. Groups with zero x-variance (vertical
    * line: slope undefined) are dropped; zero y-variance yields
    * slope 0 and r² NULL (0/0 — no linear fit to score). Results round
    * to 6 decimals (the engine-comparability discipline used by every
    * derived-double output, q42/qm01).
    *
    * Scale shape: one shuffle on the group key, map-side combined; the
    * output is |groups| rows. No window, no second scan — this is the
    * cheapest possible plan for a regression over 100 TB of facts.
    */
  /** Per-group Gini coefficient — the inequality measure the
    * reference's development-indicator domain reports everywhere
    * (income/resource concentration by country, segment, year):
    *
    *   G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n
    *
    * over the group's values sorted ascending. Rank-weighted and plain
    * sums are DECIMAL(30,6)-exact; Σᵢ i·x₍ᵢ₎ is invariant to how ties
    * order (equal x values swap equal contributions), so row_number
    * needs no tiebreak for the RESULT to be deterministic — engines
    * may rank ties differently and still agree bit-for-bit. The two
    * divisions and one subtraction are a fixed IEEE dag; output rounds
    * to 6 decimals. Negative values are rejected (Gini is defined on
    * non-negative distributions; a silent wrong number is worse than a
    * loud contract).
    *
    * Scale shape: ONE shuffle on the group key with a per-group sort
    * (the window), then a map-side-combinable aggregate. The sort is
    * the cost at 100 TB; a group must fit its executor's spill budget
    * — same bound as every per-key window (q22/q58). Where groups are
    * corpus-sized, the binned approximation (q38's histogram bins →
    * trapezoid Lorenz area) bounds memory at bins, not rows. */
  def groupedGini(
      df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val ranked = df.filter(x.isNotNull)
      .select(col(keyCol), x.as("x"))
      .withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col("x"))))
    val st = ranked.groupBy(col(keyCol))
      .agg(
        count(lit(1)).cast("double").as("n"),
        min(col("x")).as("mn"),
        exactSum(col("x")).as("sx"),
        exactSum(col("i").cast("double") * col("x")).as("six"))
    st.select(
        col(keyCol),
        col("n").cast("long").as("n"),
        when(col("mn") < 0, raise_error(concat(
          lit("groupedGini: negative value in group "), col(keyCol).cast("string"))))
          .when(col("sx") > 0,
            round(lit(2.0) * col("six") / (col("n") * col("sx")) -
              (col("n") + lit(1.0)) / col("n"), 6))
          .as("gini"))  // all-zero group → NULL (Gini undefined, not 0)
  }

  def groupedRegression(
      df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val st = df
      .filter(x.isNotNull && y.isNotNull)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).cast("double").as("n"),
        exactSum(x).as("sx"), exactSum(y).as("sy"),
        exactSum(x * x).as("sxx"), exactSum(y * y).as("syy"),
        exactSum(x * y).as("sxy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    st.filter(dx > 0)
      .select(
        col(keyCol),
        col("n").cast("long").as("n"),
        round(cov / dx, 6).as("slope"),
        round((col("sy") - (cov / dx) * col("sx")) / col("n"), 6)
          .as("intercept"),
        when(dy > 0, round((cov * cov) / (dx * dy), 6)).as("r2"))
  }

  /** Per-key SKEW report — the "why is my shuffle slow" diagnosis run
    * BEFORE a 100 TB join/aggregation commits to a key: the `topN`
    * heaviest keys with their share of all rows (exact integer basis
    * points) and their multiple of the fair per-key share (`skew_x` —
    * the number AQE's skew threshold and a salting factor are chosen
    * from). One hash aggregate on the key (map-side combined), a
    * TakeOrdered top-N (per-partition heads + merge — never a global
    * sort), and a one-row globals broadcast. Output is topN rows of
    * metadata whatever the table size. */
  def skewReport(df: DataFrame, keyCol: String, topN: Int = 5): DataFrame = {
    require(topN >= 1)
    val kc = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).cast("long").as("key_rows"))
    val g = kc.agg(count(lit(1)).cast("long").as("n_keys"),
      sum(col("key_rows")).cast("long").as("total_rows"))
    kc.orderBy(col("key_rows").desc, col("key")).limit(topN)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0)).orderBy(col("key_rows").desc, col("key"))))
      .crossJoin(broadcast(g))
      .select(col("rnk").cast("long").as("rnk"), col("key"),
        col("key_rows"), col("total_rows"), col("n_keys"),
        expr("key_rows * 10000 div total_rows").as("share_bp"),
        round(col("key_rows").cast("double") * col("n_keys").cast("double") /
          col("total_rows").cast("double"), 6).as("skew_x"))
  }
}

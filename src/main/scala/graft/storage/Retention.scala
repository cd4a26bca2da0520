package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot-version RETENTION planning — the GC policy half of the
  * versioned-layout lifecycle ([[Storage]] writes versions, qw14
  * time-travels them, [[Compaction]] plans rewrites; this decides
  * which versions may be vacuumed). The classic two-tier policy:
  * keep the most recent `keepLast` commits (operational rollback
  * window) plus the LAST commit of each calendar month for the
  * `keepMonths` months up to the newest commit (audit/compliance
  * tier); everything else expires.
  *
  * Deterministic and engine-neutral: "as of" is the log's own max
  * timestamp (no wall clock), ties break on version id, month
  * arithmetic is exact calendar truncation. The version log is
  * METADATA — one row per commit — so every step is metadata-sized:
  * the last-N cut is orderBy+limit (per-partition top-N + merge,
  * never a global window), the monthly winners a month-partitioned
  * keep-first window, the final classification two semi-join flags.
  *
  * @return one row per log entry: (version_id, committed_ts, action
  *         keep|expire, reason last_n|monthly|expired) — reason
  *         precedence last_n > monthly. */
object Retention {

  def retentionPlan(
      log: DataFrame,
      versionCol: String,
      tsCol: String,
      keepLast: Int,
      keepMonths: Int): DataFrame = {
    require(keepLast >= 0 && keepMonths >= 0)
    val base = log.select(col(versionCol).cast("long").as("version_id"),
      col(tsCol).as("committed_ts"))
    val lastN = base
      .orderBy(col("committed_ts").desc, col("version_id").desc)
      .limit(keepLast)
      .select(col("version_id"), lit(1).as("__ln"))
    val asOf = base.agg(max(col("committed_ts")).as("__asof"))
    val monthW = Window.partitionBy(col("__m"))
      .orderBy(col("committed_ts").desc, col("version_id").desc)
    val monthly = base
      .withColumn("__m", trunc(col("committed_ts"), "MM"))
      .withColumn("__rn", row_number().over(monthW))
      .filter(col("__rn") === 1)
      .crossJoin(broadcast(asOf))
      .filter(col("__m") >=
        add_months(trunc(col("__asof"), "MM"), -(keepMonths - 1)))
      .select(col("version_id"), lit(1).as("__mo"))
    base
      .join(lastN, Seq("version_id"), "left_outer")
      .join(monthly, Seq("version_id"), "left_outer")
      .select(col("version_id"), col("committed_ts"),
        when(col("__ln").isNotNull || col("__mo").isNotNull, lit("keep"))
          .otherwise(lit("expire")).as("action"),
        when(col("__ln").isNotNull, lit("last_n"))
          .when(col("__mo").isNotNull, lit("monthly"))
          .otherwise(lit("expired")).as("reason"))
  }
}

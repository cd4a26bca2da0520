package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table loader over a scale-factor directory.
  *
  * Mirrors the reference's storage read dispatch
  * (`storage/_base.py:72-109`): a table name resolves to one parquet
  * file (or, natively in Spark, a directory of parquet part-files —
  * the reference's "directory union" S2 semantics are free here).
  *
  * Timestamp columns (`events.ts`, `o_orderdate`, `l_shipdate`) have
  * shipped in two physical forms across generator versions —
  * TIMESTAMP(NANOS) (unreadable natively by Spark 4: read nanos as
  * INT64 via the legacy conf, then rebuild) and TIMESTAMP(MICROS)
  * without a timezone. The latter would infer as TIMESTAMP_NTZ, which
  * `unix_micros` (and the epoch math throughout) rejects; we disable
  * NTZ inference so naive parquet timestamps read as session-zone
  * TIMESTAMP (the pre-Spark-3.4 behavior). Under the harness's UTC
  * session that is an epoch identity matching DuckDB's naive reading,
  * and — unlike a post-scan cast — it keeps timestamp predicates
  * pushable into the parquet scan.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}

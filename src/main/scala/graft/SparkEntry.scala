package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in [[graft.queries.Registry]]: each entry pairs the
  * Spark implementation with its DuckDB oracle SQL (where
  * SQL-expressible), co-located so names/columns cannot drift.
  */
object SparkEntry {

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * the full R→T→L pipeline — retrieve, transform, validate against
    * the canonical schema, year-window — over the TPC-H tables. */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("qw01_etl_pipeline").run(spark, "/root/testdata/sf0.001")

  /** The session every main runs in: `local[SPARK_GRAFT_CPUS]` (default
    * 4) with as many shuffle partitions, UTC, no UI. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted where not SQL-expressible. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

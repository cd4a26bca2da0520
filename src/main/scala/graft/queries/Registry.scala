package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark-side implementation plus (where
  * SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs on
  * the same parquet tables. Column names/types are aligned between the
  * two sides; float outputs are constructed so both engines produce
  * bit-identical doubles (exact decimal sums, fixed fold order).
  */
final case class Q(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  /** All queries, in SURVEY.md §2 inventory order then beyond-reference ops. */
  lazy val all: Seq[Q] =
    RelationalQueries.all ++ WarehouseQueries.all ++
      TextQueries.all ++ SimilarityQueries.all ++ StreamingQueries.all

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  private lazy val byId: Map[String, Q] =
    all.map(q => q.name.takeWhile(_ != '_') -> q).toMap

  /** The queries a comma-separated list names, in name order. An item is
    * a full name or its id, the part before the first `_` (`qd11`). Any
    * item that names no query throws, and the message lists them all. */
  def select(csv: String): Seq[Q] = {
    val items = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = items.filterNot(i => byName.contains(i) || byId.contains(i))
    require(items.nonEmpty, s"no query named in '$csv'")
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    items.map(i => byName.getOrElse(i, byId(i))).distinct.sortBy(_.name)
  }
}

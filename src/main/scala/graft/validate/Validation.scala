package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Model
import graft.expr.Exprs

/** Runtime schema validation — the reference's signature operator
  * (pandera `@pa.check_output`, `_base.py:189-191`, `validation.py`).
  *
  * Semantics ported exactly (order matters, `validation.py:98-112`):
  *  1. pre-parse (combine dimension_* columns / strip strings)
  *  2. add missing declared columns as typed nulls
  *  3. strict-filter: drop undeclared columns
  *  4. coerce dtypes (cast; failed casts become null — pandera coerce)
  *  5. field checks (non-null, regex, ranges, lengths)
  *  6. composite-key uniqueness
  *
  * Execution: ONE action regardless of rule count, no row-at-a-time
  * work. The frame is grouped by the composite key once; each group
  * carries its size and its violation count per rule
  * (`sum(when(violation,1))`), and a global aggregate over the groups
  * returns every rule's total and the number of groups with n > 1.
  */
object Validation {

  final case class Check(name: String, violation: Column)

  final case class ColumnSpec(
      name: String,
      dataType: DataType,
      nullable: Boolean,
      checks: Seq[Column => Column] = Nil,
      checkNames: Seq[String] = Nil)

  final case class TableSchema(
      columns: Seq[ColumnSpec],
      uniqueKey: Seq[String] = Nil,
      preParse: DataFrame => DataFrame = identity)

  final case class ValidationError(report: Seq[(String, Long)])
      extends RuntimeException(
        "validation failed: " +
          report.map { case (n, c) => s"$n ($c rows)" }.mkString("; "))

  private def lengthBetween(lo: Int, hi: Int): Column => Column =
    c => length(c).between(lo, hi)

  /** The canonical observation schema (reference `DataSchema`). */
  val dataSchema: TableSchema = TableSchema(
    columns = Seq(
      ColumnSpec("provider", StringType, nullable = false,
        Seq(lengthBetween(2, 1024)), Seq("provider_len_2_1024")),
      ColumnSpec("indicator_name", StringType, nullable = false,
        Seq(lengthBetween(2, 512)), Seq("indicator_name_len_2_512")),
      ColumnSpec("country_code", StringType, nullable = false,
        Seq(_.rlike("^[A-Z]{3}$")), Seq("country_code_iso3")),
      ColumnSpec("year", IntegerType, nullable = false,
        Seq(_.between(1900, 2100)), Seq("year_1900_2100")),
      ColumnSpec("dimension", StringType, nullable = false),
      ColumnSpec("value", DoubleType, nullable = false),
      ColumnSpec("source", StringType, nullable = true,
        Seq(lengthBetween(2, 2048)), Seq("source_len_2_2048"))),
    uniqueKey = Model.observationKey,
    preParse = df => Exprs.combineDimensions(df))

  /** The indicator-metadata schema (reference `MetadataSchema`). */
  val metadataSchema: TableSchema = TableSchema(
    columns = Seq(
      ColumnSpec("code", StringType, nullable = false,
        Seq(lengthBetween(1, 128)), Seq("code_len_1_128")),
      ColumnSpec("name", StringType, nullable = false,
        Seq(lengthBetween(2, 512)), Seq("name_len_2_512")),
      ColumnSpec("unit", StringType, nullable = true,
        Seq(lengthBetween(1, 128)), Seq("unit_len_1_128"))),
    uniqueKey = Model.metadataKey,
    preParse = df => {
      val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
      stringCols.foldLeft(df)((d, c) => d.withColumn(c, trim(col(c))))
    })

  /** Align columns to the declared list: create missing as typed nulls,
    * drop extras, coerce types (P1 machinery + pandera
    * add_missing_columns/strict/coerce). */
  def align(df: DataFrame, schema: TableSchema): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.columns.map { spec =>
      val base = if (have(spec.name)) col(spec.name) else lit(null)
      // try_cast: pandera coerce nulls failed casts (ANSI cast throws)
      base.try_cast(spec.dataType).as(spec.name)
    }: _*)
  }

  /** Validate and return the aligned frame; throws [[ValidationError]]
    * listing every failed check with its violation count. */
  def validate(df: DataFrame, schema: TableSchema): DataFrame = {
    // validation scans the frame (violation counts + uniqueness) before
    // the caller's own action — persist so the upstream plan runs once
    val aligned = align(schema.preParse(df), schema)
      .transform(graft.core.OpCache.persist)
    val checks: Seq[Check] =
      schema.columns.flatMap { spec =>
        val nn =
          if (spec.nullable) Nil
          else Seq(Check(s"${spec.name}_not_null", col(spec.name).isNull))
        val fieldChecks = spec.checks.zip(spec.checkNames).map { case (fn, n) =>
          // null values pass field checks (nullability is its own rule)
          Check(n, col(spec.name).isNotNull && !fn(col(spec.name)))
        }
        nn ++ fieldChecks
      }
    val key = schema.uniqueKey
    val dupRule = s"unique_${key.mkString("_")}"
    def sums(term: Check => Column): Seq[Column] =
      checks.map(c => sum(term(c)).as(c.name))
    val flagged: Check => Column = c => when(c.violation, 1L).otherwise(0L)
    val counts = (
      if (key.isEmpty) aligned.agg(lit(0L).as(dupRule), sums(flagged): _*)
      else aligned.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("__n"), sums(flagged): _*)
        .agg(sum(when(col("__n") > 1, 1L).otherwise(0L)).as(dupRule),
          sums(c => col(c.name)): _*)
    ).collect()(0)
    val all = (checks.map(_.name) :+ dupRule).map(n => n -> counts.getAs[Long](n))
      .filter(_._2 > 0)
    if (all.nonEmpty) throw ValidationError(all)
    aligned
  }
}

package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.Exprs
import graft.pipeline.Transformer

/** Reusable transformers for the recurring source shapes. Each is the
  * Spark-first re-expression of one reference transform flow; the
  * fixed chain around them (provider stamp, membership filter,
  * validation, year window) lives in [[graft.pipeline.Pipeline]].
  */
object Transformers {

  /** A3 — deterministic keep-first dedup: row_number over an ordered
    * window, never `dropDuplicates` (which keeps whichever row a
    * partition happens to deliver first — irreproducible at scale). */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** A4 — keep-none dedup: eliminate every member of a duplicated key. */
  def keepNone(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") === 1).drop("__n")
  }
}

/** Wide year-columns CSV → long observations (reference
  * `world_bank_wdi.py:64-91`): regex-select year columns (R2), unpivot
  * (R1), cast + cutoff filter (C7/F1), dropna (F8), rename (P1),
  * indicator synthesis (C4). One linear narrow plan — the only
  * shuffles in the whole pipeline are validation's aggregates. */
final case class WideYearColumnsTransformer(
    countryCol: String = "Country Code",
    nameCol: String = "Indicator Name",
    codeCol: String = "Indicator Code",
    minYear: Int = 2015) extends Transformer {

  override def transform(df: DataFrame): DataFrame = {
    val yearCols = df.columns.filter(_.matches("\\d+"))
    df.unpivot(
        Array(col(countryCol), col(nameCol), col(codeCol)),
        yearCols.map(col), "year", "value")
      .withColumn("year", col("year").cast("int"))
      .filter(col("year") >= minYear)
      .withColumn("value", col("value").try_cast("double"))
      .na.drop(Seq("value", countryCol))
      .select(
        col(countryCol).as("country_code"),
        Exprs.indicatorName(col(nameCol), col(codeCol)).as("indicator_name"),
        col("year"), col("value"))
  }
}

/** OData observation rows → canonical (reference
  * `who_gho_api.py:152-190`): long-dims fold Dim1..Dim3 + type columns
  * into one dict (R4) rendered by `Exprs.foldDimensions` (C3), category
  * prefix strips (C5), `DATASOURCE_` strip, then the A3 deterministic
  * keep-first dedup with `source` excluded from the key but part of
  * the ordering (subtlety §7.4-8). */
final case class ODataObservationsTransformer(
    indicatorNameCol: String = "indicator_name",
    dims: Int = 3) extends Transformer {

  /** The Dim1..Dim3 fold: a slot counts once its type is set, even with
    * a null value, and two slots with the same type last-win, as in the
    * reference's dict. */
  def dimension: Column = Exprs.foldDimensions((1 to dims).map { i =>
    val t = col(s"Dim${i}Type")
    // build the strip pattern from the category value: anchor it and
    // escape regex metacharacters so "AGE(GROUP)" strips literally
    val pattern = concat(lit("^"),
      regexp_replace(t, "([^A-Za-z0-9])", "\\\\$1"), lit("_"))
    Exprs.Dim(lower(t), regexp_replace(col(s"Dim$i"), pattern, lit("")), t.isNotNull)
  })

  override def transform(df: DataFrame): DataFrame = {
    val shaped = df
      .withColumn("dimension", dimension)
      .withColumn("source",
        regexp_replace(col("DataSourceDim"), "^DATASOURCE_", ""))
      .select(
        col(indicatorNameCol).as("indicator_name"),
        col("SpatialDim").as("country_code"),
        col("TimeDim").cast("int").as("year"),
        col("dimension"),
        col("NumericValue").cast("double").as("value"),
        col("source"))
      .na.drop(Seq("value"))
    Transformers.keepFirst(shaped,
      keys = Seq("indicator_name", "country_code", "year", "dimension"),
      order = Seq("value", "source"))
  }
}

/** SDMX CSV rows → canonical (reference `ilo_sdmx_api.py:142-197` /
  * `unicef_sdmx_api.py:176-201`): annual-frequency filter (F4),
  * AGGREGATE contains-or-null filters (F5 — nulls pass), codelist
  * decodes with Unknown fallback (C9), yearly-period regex (F3),
  * bound-marker numeric coercion (C6), dimension_* columns folded
  * later by validation's combine step (R5). */
final case class SdmxAnnualTransformer(
    indicatorName: String,
    freqCol: Option[String] = Some("FREQ"),
    aggregateCols: Seq[String] = Nil,
    codelists: Map[String, Map[String, String]] = Map.empty,
    dimCols: Map[String, String] = Map.empty,
    periodCol: String = "TIME_PERIOD",
    valueCol: String = "OBS_VALUE",
    sourceCols: Seq[String] = Nil,
    refAreaCol: String = "REF_AREA") extends Transformer {

  override def transform(df: DataFrame): DataFrame = {
    val annual = freqCol.filter(df.columns.contains)
      .map(c => df.filter(col(c) === "A")).getOrElse(df)
    val aggregated = aggregateCols.foldLeft(annual)((d, c) =>
      d.filter(Exprs.containsOrNull(col(c), "AGGREGATE")))
    val decoded = codelists.foldLeft(aggregated) { case (d, (c, m)) =>
      d.withColumn(c, coalesce(element_at(typedLit(m), col(c)), lit("Unknown")))
    }
    val withDims = dimCols.foldLeft(decoded) { case (d, (src, dim)) =>
      d.withColumn(s"dimension_$dim", col(src))
    }
    val source =
      if (sourceCols.isEmpty) lit(null).cast("string")
      else coalesce(sourceCols.map(col): _*) // C8 coalesce chain
    withDims
      .filter(trim(col(periodCol)).rlike("^\\d{4}$"))
      .withColumn("year", trim(col(periodCol)).cast("int"))
      .withColumn("value", Exprs.boundedNumeric(col(valueCol)))
      .na.drop(Seq("value"))
      .withColumn("indicator_name", lit(indicatorName))
      .withColumn("country_code", col(refAreaCol))
      .withColumn("source", source)
      .select((Seq("indicator_name", "country_code", "year", "value", "source")
        ++ dimCols.values.map("dimension_" + _)).map(col): _*)
  }
}

/** Nested-map JSON rows → canonical (reference
  * `imf_datamapper_api.py:73-136`): digits-only period filter (F2),
  * indicator-name lookup + synthesis (C4); input is the exploded
  * frame from `JsonSources.nestedMapToDf`. */
final case class NestedMapTransformer(
    indicatorNames: Map[String, String]) extends Transformer {

  override def transform(df: DataFrame): DataFrame =
    df.filter(col("year_str").rlike("^\\d+$"))
      .withColumn("year", col("year_str").cast("int"))
      .withColumn("indicator_name",
        Exprs.indicatorName(
          element_at(typedLit(indicatorNames), col("indicator_code")),
          col("indicator_code")))
      .na.drop(Seq("indicator_name", "value"))
      .select(col("indicator_name"), col("country_code"), col("year"),
        col("value").cast("double").as("value"))
}

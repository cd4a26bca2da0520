package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.Exprs
import graft.pipeline.Transformer

/** Transformers for the remaining reference source shapes. Together
  * with [[Transformers]] these cover all twelve reference pipelines.
  */

/** World Bank REST API rows (reference `world_bank_api.py:147-200`):
  * struct expansion of `indicator`/`country` (J6), empty→null (F10),
  * fuzzy country-name fallback behind the ISO3 coalesce chain (C8/J5),
  * digits-only period filter (F2), `"{name} [{code}]"` synthesis. */
object WorldBankApiTransformer extends Transformer {
  override def transform(df: DataFrame): DataFrame = {
    val expanded = df.select(
      col("indicator.id").as("indicator_code"),
      col("indicator.value").as("indicator_desc"),
      col("country.value").as("country_name"),
      Exprs.emptyToNull(col("countryiso3code")).as("iso3_raw"),
      col("date"), col("value"))
      .filter(col("date").rlike("^\\d+$"))
    CountryCodes.namesToIso3(expanded, "country_name", "iso3_fuzzy")
      .withColumn("country_code", coalesce(col("iso3_raw"), col("iso3_fuzzy")))
      .withColumn("year", col("date").cast("int"))
      .withColumn("value", col("value").try_cast("double"))
      .na.drop(Seq("value", "country_code"))
      .withColumn("indicator_name",
        Exprs.indicatorName(col("indicator_desc"), col("indicator_code")))
      .select(col("indicator_name"), col("country_code"), col("year"), col("value"))
  }
}

/** UN Stats SDG API rows (reference `unstats_sdg_api.py:129-171`):
  * `"NaN"`→null (F10), m49→iso3 code mapping (J4), dimensions-dict
  * fold with snake_case names (C2/R4), `"{desc}, {units} [{code}]"`. */
object UnstatsSdgApiTransformer extends Transformer {
  /** The `dimensions` fold. The object arrives as an inferred struct,
    * whose fields are the keys seen across the series; a row's dict
    * holds its non-null fields in schema order (`to_json`'s), keyed by
    * the snake-cased name. Snake-casing can collide distinct raw keys
    * ("Age Group" vs "age  group"); the later one wins, as in the
    * reference's dict. A non-atomic value renders as its JSON. */
  def dimension(schema: StructType): Column = {
    val fields = schema.find(_.name == "dimensions").map(_.dataType) match {
      case Some(StructType(fs)) => fs.toSeq
      case _ => Nil
    }
    // fields by position: keys that differ only in case ("Sex", "sex")
    // are two fields, which a by-name access finds ambiguous
    val byPosition = col("dimensions").cast(StructType(fields.zipWithIndex.map {
      case (f, i) => f.copy(name = s"_$i")
    }))
    when(col("dimensions").isNotNull, Exprs.foldDimensions(fields.zipWithIndex.map { case (f, i) =>
      val v = byPosition.getField(s"_$i")
      Exprs.Dim(Exprs.toSnakeCase(lit(f.name)), f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => to_json(v)
        case _ => v.cast(StringType)
      }, v.isNotNull)
    }))
  }

  override def transform(df: DataFrame): DataFrame = {
    val cleaned = df
      .withColumn("value",
        when(col("value") === "NaN", lit(null)).otherwise(col("value"))
          .try_cast("double"))
      .withColumn("country_code",
        element_at(typedLit(CountryCodes.m49ToIso3),
          col("geoAreaCode").cast("int").cast("string")))
      .withColumn("year", col("timePeriodStart").cast("int"))
      .withColumn("indicator_name",
        Exprs.indicatorName(col("seriesDescription"), col("attributes.Units"),
          col("series")))
      .na.drop(Seq("value", "country_code"))
    cleaned
      .withColumn("dimension", dimension(df.schema))
      .select(col("indicator_name"), col("country_code"), col("year"),
        col("dimension"), col("value"))
  }
}

/** UN Stats SDG bulk-database sheets (reference
  * `unstats_sdg_database.py:62-128`): dynamic dimension-column
  * inference by set-difference against the known base columns, C6
  * bound-marker coercion, m49→iso3 (J4). Per-goal files differ in
  * dimension columns, so the caller unions by name afterwards (R3). */
final case class UnstatsSdgDatabaseTransformer(
    knownCols: Set[String] = Set("Goal", "Target", "Indicator", "SeriesCode",
      "SeriesDescription", "GeoAreaCode", "GeoAreaName", "TimePeriod",
      "Value", "Time_Detail", "Source", "FootNote", "Nature", "Units",
      "Reporting Type")) extends Transformer {

  override def transform(df: DataFrame): DataFrame = {
    val dimCols = df.columns.filterNot(knownCols.contains).toSeq
    val withDims = dimCols.foldLeft(df)((d, c) =>
      d.withColumn("dimension_" + Exprs.snakeCaseName(c), col(c)))
    withDims
      .withColumn("country_code",
        element_at(typedLit(CountryCodes.m49ToIso3),
          col("GeoAreaCode").cast("int").cast("string")))
      .withColumn("year", col("TimePeriod").cast("int"))
      .withColumn("value", Exprs.boundedNumeric(col("Value")))
      .withColumn("indicator_name",
        Exprs.indicatorName(col("SeriesDescription"), col("Units"), col("SeriesCode")))
      .withColumn("source", col("Source"))
      .na.drop(Seq("value", "country_code"))
      .select((Seq("indicator_name", "country_code", "year", "value", "source")
        ++ dimCols.map(c => "dimension_" + Exprs.snakeCaseName(c))).map(col): _*)
  }
}

/** SIPRI multi-sheet workbook rows (reference `sipri_milex.py:95-128`):
  * after the S5 multi-sheet union, regex-select year columns (R2),
  * melt (R1), fuzzy country-name mapping (J5), dropna. */
object SipriMilexTransformer extends Transformer {
  override def transform(df: DataFrame): DataFrame = {
    val yearCols = df.columns.filter(_.matches("\\d+"))
    val long = df.unpivot(
      Array(col("Country"), col("indicator_name")),
      yearCols.map(col), "year", "value")
    CountryCodes.namesToIso3(long, "Country", "country_code")
      .withColumn("year", col("year").cast("int"))
      .withColumn("value", col("value").try_cast("double"))
      .na.drop(Seq("value", "country_code"))
      .select(col("indicator_name"), col("country_code"), col("year"), col("value"))
  }
}

/** UNAIDS Key Populations Atlas rows (reference
  * `unaids_kpatlas.py:62-94`): trim (C1), negated startsWith filter
  * (F6), grouped-cardinality predicate (F7/A1), keep-none dedup (A4),
  * subgroup as the dimension. */
object UnaidsKpatlasTransformer extends Transformer {
  override def transform(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("Indicator"))
    val filtered = df
      .withColumn("Indicator", trim(col("Indicator")))
      .filter(!col("Subgroup").startsWith("Category"))
      .withColumn("__n_sub", size(collect_set(col("Subgroup")).over(w)))
      .filter(col("__n_sub") === 1 || col("Subgroup") === "Total")
      .withColumn("indicator_name",
        Exprs.indicatorName(col("Indicator"), col("Unit"), col("Code")))
      .withColumn("country_code", col("Area ID"))
      .withColumn("year", col("Time Period").cast("int"))
      .withColumn("value", col("Data Value").try_cast("double"))
      .withColumn("source", col("Source"))
      .withColumn("dimension_subgroup", col("Subgroup"))
      .na.drop(Seq("value", "country_code"))
    Transformers.keepNone(filtered,
      Seq("indicator_name", "country_code", "year"))
      .select(col("indicator_name"), col("country_code"), col("year"),
        col("value"), col("source"), col("dimension_subgroup"))
  }
}

/** IHME GBD rows (reference `healthdata_ghdx.py:58-93`): fuzzy
  * location-name→ISO3 (J5), SexEnum standardisation (C9), sex/age as
  * dimensions, `"{measure}, {metric} [{cause}]"` synthesis. */
object HealthdataGhdxTransformer extends Transformer {
  override def transform(df: DataFrame): DataFrame =
    CountryCodes.namesToIso3(df, "location_name", "country_code")
      .withColumn("dimension_sex",
        CountryCodes.standardizeSex(col("sex_name")))
      .withColumn("dimension_age", col("age_name"))
      .withColumn("indicator_name",
        Exprs.indicatorName(col("measure_name"), col("metric_name"),
          col("cause_name")))
      .withColumn("value", col("val").try_cast("double"))
      .na.drop(Seq("value", "country_code"))
      .select(col("indicator_name"), col("country_code"),
        col("year").cast("int").as("year"), col("value"),
        col("dimension_sex"), col("dimension_age"))
}

/** energydata.info ELECCAP sheet (reference `energydata_info.py:45-86`):
  * forward-fill merged-cell columns over the pinned sheet row order
  * (W1 — order-sensitive by design, hence the explicit `_row_idx`),
  * fuzzy name→ISO3 with the `"not found"` sentinel dropped (F9/J5),
  * year-column melt (R1/R2). */
final case class EnergydataInfoTransformer(
    fillCols: Seq[String] = Seq("Country", "Technology", "Grid")) extends Transformer {

  override def transform(df: DataFrame): DataFrame = {
    // one sheet = one fill domain: the constant partition key keeps the
    // total order the fill needs while giving WindowExec a non-empty
    // partition spec (a partitionless window logs a planner warning on
    // every run)
    val w = Window.partitionBy(lit(0)).orderBy(col("_row_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = fillCols.filter(df.columns.contains).foldLeft(df)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    val yearCols = df.columns.filter(_.matches("\\d+"))
    val long = filled.unpivot(
      fillCols.filter(df.columns.contains).map(col).toArray,
      yearCols.map(col), "year", "value")
    CountryCodes.namesToIso3(long, "Country", "country_code")
      .filter(col("country_code").isNotNull) // coco "not found" sentinel
      .withColumn("year", col("year").cast("int"))
      .withColumn("value", col("value").try_cast("double"))
      .na.drop(Seq("value"))
      .withColumn("indicator_name",
        lit("Electricity installed capacity, MW [ELECCAP]"))
      .withColumn("dimension_technology", col("Technology"))
      .select(col("indicator_name"), col("country_code"), col("year"),
        col("value"), col("dimension_technology"))
  }
}

package graft.transform

import graft.SparkSuite

class TransformersSpec extends SparkSuite {
  import spark.implicits._

  test("wide year-columns flow: unpivot, cutoff, dropna, synthesis (WDI shape)") {
    val df = Seq(
      ("Afghanistan", "AFG", "GDP (current US$)", "NY.GDP", "1.0", null, "3.0"),
      ("World", "WLD", "GDP (current US$)", "NY.GDP", null, null, null))
      .toDF("Country Name", "Country Code", "Indicator Name", "Indicator Code",
        "2014", "2016", "2020")
    val out = WideYearColumnsTransformer().transform(df)
    val rows = out.collect().map(_.toSeq)
    // 2014 < cutoff, 2016 null dropped, WLD row all-null dropped
    assert(rows.toSeq == Seq(Seq("AFG", "GDP (current US$) [NY.GDP]", 2020, 3.0)))
  }

  test("OData observations flow: dim fold, prefix strips, keep-first dedup") {
    val df = Seq(
      ("Ind [X]", "AFG", 2020, "SEX_MLE", "SEX", null, null, "DATASOURCE_B", 5.0),
      ("Ind [X]", "AFG", 2020, "SEX_MLE", "SEX", null, null, "DATASOURCE_A", 5.0),
      ("Ind [X]", "NAM", 2019, null, null, null, null, "DATASOURCE_C", 7.0))
      .toDF("indicator_name", "SpatialDim", "TimeDim", "Dim1", "Dim1Type",
        "Dim2", "Dim2Type", "DataSourceDim", "NumericValue")
    val out = ODataObservationsTransformer(dims = 2).transform(df)
    val rows = out.orderBy("country_code").collect().map(_.toSeq)
    assert(rows.length == 2) // keep-first collapsed the AFG pair
    assert(rows(0) == Seq("Ind [X]", "AFG", 2020, "MLE", 5.0, "A")) // min source kept
    assert(rows(1) == Seq("Ind [X]", "NAM", 2019, "Total", 7.0, "C"))
  }

  test("SDMX annual flow: FREQ filter, AGGREGATE null-passes, codelist, bounds") {
    val df = Seq(
      ("AFG", "A", "SEX_M", "AGE_AGGREGATE_Y15", "2020", "<2.5", "s1"),
      ("AFG", "M", "SEX_M", "AGE_AGGREGATE_Y15", "2020", "9", "s1"), // monthly: out
      ("NAM", "A", "SEX_F", null, "2021", ">95%", "s2"),             // null age: kept
      ("KEN", "A", "SEX_F", "AGE_5Y_Y15", "2021", "4", "s2"),        // non-aggregate: out
      ("BGD", "A", "SEX_F", "AGE_AGGREGATE_TOTAL", "2020-06", "4", "s2")) // non-annual period
      .toDF("REF_AREA", "FREQ", "SEX", "AGE", "TIME_PERIOD", "OBS_VALUE", "SOURCE")
    val out = SdmxAnnualTransformer(
      indicatorName = "Employment rate [EMP]",
      aggregateCols = Seq("AGE"),
      codelists = Map("SEX" -> Map("SEX_M" -> "Male", "SEX_F" -> "Female")),
      dimCols = Map("SEX" -> "sex"),
      sourceCols = Seq("SOURCE")).transform(df)
    val rows = out.orderBy("country_code").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(
      Seq("Employment rate [EMP]", "AFG", 2020, 2.5, "s1", "Male"),
      Seq("Employment rate [EMP]", "NAM", 2021, 95.0, "s2", "Female")))
  }

  test("nested-map flow: digits filter + name synthesis") {
    val df = Seq(
      ("NGDP", "USA", "2020", -2.8),
      ("NGDP", "USA", "2020Q1", 1.0),
      ("UNKNOWN", "DEU", "2019", 3.0))
      .toDF("indicator_code", "country_code", "year_str", "value")
    val out = NestedMapTransformer(Map("NGDP" -> "Real GDP growth")).transform(df)
    val rows = out.collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq("Real GDP growth [NGDP]", "USA", 2020, -2.8)))
  }

  test("country code mapping: m49→iso3, unmapped → null (J4)") {
    val df = Seq("4", "516", "9999").toDF("country_code")
    val out = CountryCodes.replaceCodes(df, "country_code", CountryCodes.m49ToIso3)
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("AFG"), Some("NAM"), None))
  }

  test("fuzzy name→ISO3: exact, alias, parenthetical, not-found (J5)") {
    val df = Seq("Namibia", "United States", "Bolivia (Plurinational State of)",
      "Vietnam", "Atlantis").toDF("n")
    val out = CountryCodes.namesToIso3(df, "n", "iso3")
      .collect().map(r => Option(r.getString(1)))
    assert(out.toSeq == Seq(Some("NAM"), Some("USA"), Some("BOL"), Some("VNM"), None))
  }

  test("sex standardisation (SexEnum)") {
    val df = Seq("male", " FEMALE ", "both sexes", "weird").toDF("s")
    val out = df.select(CountryCodes.standardizeSex($"s")).collect().map(_.getString(0))
    assert(out.toSeq == Seq("Male", "Female", "Both", "weird"))
  }

  test("keepFirst is deterministic; keepNone removes all dup-key members") {
    val df = Seq((1, "b", 10), (1, "a", 20), (2, "c", 30)).toDF("k", "o", "v")
    val first = Transformers.keepFirst(df, Seq("k"), Seq("o"))
      .collect().map(_.toSeq).toSet
    assert(first == Set(Seq(1, "a", 20), Seq(2, "c", 30)))
    val none = Transformers.keepNone(df, Seq("k")).collect().map(_.toSeq).toSet
    assert(none == Set(Seq(2, "c", 30)))
  }
}

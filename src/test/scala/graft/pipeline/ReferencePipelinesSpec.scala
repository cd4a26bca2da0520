package graft.pipeline

import graft.SparkSuite
import graft.sources.{CannedTransport, JsonSources, Transport, XlsxTestWriter, XlsxWorkbook}

/** End-to-end fixture runs of all twelve reference pipelines
  * (FIXTURES.md shapes A1–A8): canned transports / staged files in,
  * canonical validated observations out. */
class ReferencePipelinesSpec extends SparkSuite with ReferenceFixtures {

  test("world_bank_wdi: wide CSV from storage (A1)") {
    val out = worldBankWdi.run(spark, Some(storage))
    val rows = out.select("country_code", "year", "value").collect()
      .map(_.toSeq).toSet
    // ABW not in the packaged country table; WLD filtered; AFG survives
    assert(rows == Set(Seq("AFG", 2019, 1.9e10), Seq("AFG", 2020, 2.0e10)))
  }

  test("world_bank_api: paginated JSON, coalesce chain, fuzzy fallback (A3)") {
    val out = worldBankApi.run(spark)
    val rows = out.select("country_code", "year", "value", "indicator_name")
      .collect().map(_.toSeq).toSet
    // NAM resolved by fuzzy name (empty iso3code); quarter row dropped
    assert(rows == Set(
      Seq("AFG", 2020, 3.89e7, "Population, total [SP.POP.TOTL]"),
      Seq("NAM", 2020, 2.55e6, "Population, total [SP.POP.TOTL]")))
  }

  test("who_gho_api: OData rows, dim fold, keep-first dedup (A2)") {
    val out = whoGhoApi.run(spark)
    val rows = out.select("country_code", "dimension", "value", "source")
      .collect().map(_.toSeq).toSet
    // keep-first picked the lexicographically-first source; dims folded
    assert(rows == Set(
      Seq("AFG", "MLE", 61.2, "ALT"),
      Seq("NAM", "Total", 64.0, "WHS")))
  }

  test("who_gho_api: rows that omit the Dim2/Dim3 keys read them as null") {
    def run(rows: String*) = {
      val url = Transport.withQuery("https://ghoapi.azureedge.net/api/WHOSIS_000001",
        Map("$filter" -> JsonSources.odataFilter(Map.empty)))
      rowsOf(pipelineNamed("who_gho_api",
        CannedTransport(Map(url -> rows.mkString("""{"value":[""", ",", "]}")))).run(spark))
    }
    val nulls = """"Dim2":null,"Dim2Type":null,"Dim3":null,"Dim3Type":null,"""
    def row(area: String, dim1: String) =
      s"""{"SpatialDim":"$area","TimeDim":2020,$dim1""" +
        """"DataSourceDim":"DATASOURCE_WHS","NumericValue":61.5}"""
    val sex = """"Dim1":"SEX_MLE","Dim1Type":"SEX","""
    val omitted = run(row("AFG", sex), row("NAM", ""))
    assert(omitted == run(row("AFG", sex + nulls), row("NAM", nulls)))
    assert(omitted.map(r => (r(2), r(4))) == Set(("AFG", "MLE"), ("NAM", "Total")))
  }

  test("unstats_sdg_api: totalPages, NaN→null, m49→iso3, dims dict (A4)") {
    val out = unstatsSdgApi.run(spark)
    val rows = out.collect().map(_.toSeq).toSet
    assert(rows == Set(Seq("unstats_sdg_api",
      "Poverty headcount, PERCENT [SI_POV_DAY1]", "AFG", 2019,
      "ALLAGE; BOTHSEX", 12.5, null)))
  }

  test("unstats_sdg_database: dynamic dimension columns, bounds (A4-db)") {
    val out = unstatsSdgDatabase.run(spark, Some(storage))
    val rows = out.select("country_code", "dimension", "value").collect()
      .map(_.toSeq).toSet
    assert(rows == Set(
      Seq("AFG", "FEMALE", 2.5), Seq("NAM", "MALE", 17.0)))
  }

  test("unicef_sdmx_api: bounded values, yearly filter, source coalesce (A6)") {
    val out = unicefSdmxApi.run(spark)
    val rows = out.select("country_code", "year", "dimension", "value", "source")
      .collect().map(_.toSeq).toSet
    assert(rows == Set(
      Seq("AFG", 2020, "Female", 1.0, "https://childmortality.org"),
      Seq("NAM", 2019, "All sex", 95.0, "UN IGME")))
  }

  test("ilo_sdmx_api: FREQ/AGGREGATE filters, codelist decode (A6-ilo)") {
    val out = iloSdmxApi.run(spark)
    val rows = out.select("country_code", "year", "dimension", "value")
      .collect().map(_.toSeq).toSet
    // monthly row out; null AGE passes the contains-filter; 5-yr band out
    assert(rows == Set(
      Seq("AFG", 2020, "Male; AGE_AGGREGATE_TOTAL", 47.2),
      Seq("NAM", 2019, "Female", 51.5)))
  }

  test("imf_datamapper_api: nested-map explode (A5)") {
    val out = imfDatamapperApi.run(spark)
    val rows = out.select("country_code", "year", "value").collect()
      .map(_.toSeq).toSet
    assert(rows == Set(
      Seq("USA", 2019, 2.3), Seq("USA", 2020, -2.8), Seq("NAM", 2019, 1.1)))
  }

  test("sipri_milex: multi-sheet workbook, header inference, melt (A7)") {
    val out = sipriMilex.run(spark)
    val rows = out.select("indicator_name", "country_code", "year", "value")
      .collect().map(_.toSeq).toSet
    assert(rows == Set(
      Seq("Military expenditure, constant US$m [MILEX_USD]", "AFG", 2019, 1.9),
      Seq("Military expenditure, constant US$m [MILEX_USD]", "NAM", 2019, 3.1),
      Seq("Military expenditure, constant US$m [MILEX_USD]", "NAM", 2020, 3.3),
      Seq("Military expenditure, % of GDP [MILEX_GDP]", "AFG", 2019, 0.011)))
  }

  test("sipri_milex end-to-end from a real .xlsx file (S3 through S4/S5)") {
    // the same pipeline as above, fed a genuine OOXML file instead of
    // CSV-staged sheets — real XLSX decode through the full transform
    val f = java.io.File.createTempFile("graft-sipri", ".xlsx")
    f.deleteOnExit()
    XlsxTestWriter.write(f, Seq(
      "Constant (2023) US$" -> Seq(
        Seq("SIPRI military expenditure database", null),
        Seq("Country", 2019, 2020),
        Seq("Afghanistan", 1.9, "xxx"),
        Seq("Namibia", 3.1, 3.3)),
      "Share of GDP" -> Seq(
        Seq("Country", 2019, 2020),
        Seq("Afghanistan", 0.011, "..."))))
    val out = pipelineNamed("sipri_milex", noTransport,
      sipri = XlsxWorkbook(f)).run(spark)
    val rows = out.select("indicator_name", "country_code", "year", "value")
      .collect().map(_.toSeq).toSet
    assert(rows == Set(
      Seq("Military expenditure, constant US$m [MILEX_USD]", "AFG", 2019, 1.9),
      Seq("Military expenditure, constant US$m [MILEX_USD]", "NAM", 2019, 3.1),
      Seq("Military expenditure, constant US$m [MILEX_USD]", "NAM", 2020, 3.3),
      Seq("Military expenditure, % of GDP [MILEX_GDP]", "AFG", 2019, 0.011)))
  }

  test("unaids_kpatlas: subgroup filters and keep-none dedup (A8)") {
    val out = unaidsKpatlas.run(spark, Some(storage))
    val rows = out.select("country_code", "dimension", "value").collect()
      .map(_.toSeq).toSet
    // Category-prefixed subgroup dropped; single-subgroup indicator kept;
    // KEN duplicate pair fully eliminated; "Total" renders as
    // "All subgroup" (C3: case-insensitive total → "All {name}")
    assert(rows == Set(
      Seq("AFG", "All subgroup", 0.1),
      Seq("NAM", "All subgroup", 11.6),
      Seq("NAM", "Sex workers", 81.0)))
  }

  test("healthdata_ghdx: fuzzy names + SexEnum recode") {
    val out = healthdataGhdx.run(spark, Some(storage))
    val rows = out.select("country_code", "dimension", "value").collect()
      .map(_.toSeq).toSet
    assert(rows == Set(
      Seq("AFG", "Male; All ages", 717.5),
      Seq("VNM", "Both; All ages", 546.1)))
  }

  test("energydata_info: header offset, ffill over merged cells, sentinels") {
    val out = energydataInfo.run(spark)
    val rows = out.select("country_code", "year", "dimension", "value")
      .collect().map(_.toSeq).toSet
    // merged-cell blank country forward-filled to Afghanistan; ".." dropped
    assert(rows == Set(
      Seq("AFG", 2019, "Hydro", 120.0),
      Seq("AFG", 2020, "Hydro", 130.0),
      Seq("AFG", 2020, "Solar", 15.0),
      Seq("NAM", 2019, "Hydro", 340.0)))
  }

  test("energydata_info from real .xlsx: merged cells arrive as absent cells") {
    // in OOXML a merged cell stores its value only in the top-left
    // anchor; the covered cells are simply ABSENT from the file. The
    // sparse-grid reinstatement + pinned-order forward-fill must
    // reproduce the same result as the CSV-staged blank-cell shape.
    val f = java.io.File.createTempFile("graft-eleccap", ".xlsx")
    f.deleteOnExit()
    XlsxTestWriter.write(f, Seq("Sheet1" -> Seq(
      Seq("Installed capacity (ELECCAP)"),
      Seq("Country", "Technology", "Grid", 2019, 2020),
      Seq("Afghanistan", "Hydro", "On", 120, 130),
      Seq(null, "Solar", "On", "..", 15), // merged country cell: absent
      Seq("Namibia", "Hydro", "On", 340, ".."))))
    val out = pipelineNamed("energydata_info", noTransport,
      eleccap = XlsxWorkbook(f)).run(spark)
    val rows = out.select("country_code", "year", "dimension", "value")
      .collect().map(_.toSeq).toSet
    assert(rows == Set(
      Seq("AFG", 2019, "Hydro", 120.0),
      Seq("AFG", 2020, "Hydro", 130.0),
      Seq("AFG", 2020, "Solar", 15.0),
      Seq("NAM", 2019, "Hydro", 340.0)))
  }
}

package graft.pipeline

import java.nio.file.Files
import graft.SparkSuite
import graft.pipeline.sources.ReferencePipelines
import graft.sources.{CannedTransport, CsvWorkbook, JsonSources, SdmxSources, Transport, Workbook}
import graft.storage.LocalStorage

/** The twelve reference pipelines over canned transports and staged
  * files (FIXTURES.md shapes A1–A8), one fixture each. A staged fixture
  * writes its raw dataset to `storage` when it is built. */
trait ReferenceFixtures { this: SparkSuite =>
  import spark.implicits._

  lazy val storage = LocalStorage(
    Files.createTempDirectory("graft-ref-pipelines").toString)

  def pipelineNamed(name: String, transport: Transport,
      sipri: Workbook = CsvWorkbook(Map.empty),
      eleccap: Workbook = CsvWorkbook(Map.empty)): Pipeline =
    ReferencePipelines.all(transport,
      sipriWorkbook = sipri, eleccapWorkbook = eleccap)
      .find(_.provider == name).get

  val noTransport = CannedTransport(Map.empty)

  def worldBankWdi: Pipeline = {
    val raw = Seq(
      ("Aruba", "ABW", "GDP (current US$)", "NY.GDP.MKTP.CD", null, "3.5e9"),
      ("Afghanistan", "AFG", "GDP (current US$)", "NY.GDP.MKTP.CD", "1.9e10", "2.0e10"),
      ("World", "WLD", "GDP (current US$)", "NY.GDP.MKTP.CD", "8e13", "8e13"))
      .toDF("Country Name", "Country Code", "Indicator Name", "Indicator Code",
        "2019", "2020")
    storage.write(raw, "world_bank_wdi_raw", "csv")
    pipelineNamed("world_bank_wdi", noTransport)
  }

  def worldBankApi: Pipeline = {
    val base = "https://api.worldbank.org/v2/country/all/indicator/SP.POP.TOTL"
    def url(page: Int) = Transport.withQuery(base, Map(
      "format" -> "json", "per_page" -> "1000",
      "date" -> "2005:2030", "page" -> page.toString))
    val p1 = """[{"page":1,"pages":2,"total":3},[
      {"indicator":{"id":"SP.POP.TOTL","value":"Population, total"},
       "country":{"id":"AF","value":"Afghanistan"},"countryiso3code":"AFG",
       "date":"2020","value":3.89e7}]]"""
    val p2 = """[{"page":2,"pages":2,"total":3},[
      {"indicator":{"id":"SP.POP.TOTL","value":"Population, total"},
       "country":{"id":"NA","value":"Namibia"},"countryiso3code":"",
       "date":"2020","value":2.55e6},
      {"indicator":{"id":"SP.POP.TOTL","value":"Population, total"},
       "country":{"id":"ZH","value":"Africa"},"countryiso3code":"",
       "date":"2020Q1","value":1.2e9}]]"""
    val t = CannedTransport(Map(url(1) -> p1, url(2) -> p2))
    pipelineNamed("world_bank_api", t)
  }

  def whoGhoApi: Pipeline = {
    val url = Transport.withQuery("https://ghoapi.azureedge.net/api/WHOSIS_000001",
      Map("$filter" -> JsonSources.odataFilter(Map.empty)))
    val body = """{"value":[
      {"SpatialDim":"AFG","TimeDim":2020,"Dim1":"SEX_MLE","Dim1Type":"SEX",
       "Dim2":null,"Dim2Type":null,"Dim3":null,"Dim3Type":null,
       "DataSourceDim":"DATASOURCE_WHS","NumericValue":61.2},
      {"SpatialDim":"AFG","TimeDim":2020,"Dim1":"SEX_MLE","Dim1Type":"SEX",
       "Dim2":null,"Dim2Type":null,"Dim3":null,"Dim3Type":null,
       "DataSourceDim":"DATASOURCE_ALT","NumericValue":61.2},
      {"SpatialDim":"NAM","TimeDim":2020,"Dim1":null,"Dim1Type":null,
       "Dim2":null,"Dim2Type":null,"Dim3":null,"Dim3Type":null,
       "DataSourceDim":"DATASOURCE_WHS","NumericValue":64.0}]}"""
    pipelineNamed("who_gho_api", CannedTransport(Map(url -> body)))
  }

  def unstatsSdgApi: Pipeline = {
    val base = "https://unstats.un.org/sdgapi/v1/sdg/Series/Data"
    def url(page: Int) = Transport.withQuery(base, Map(
      "seriesCode" -> "SI_POV_DAY1", "pageSize" -> "1000", "page" -> page.toString))
    val p1 = """{"totalPages":1,"data":[
      {"seriesDescription":"Poverty headcount","series":"SI_POV_DAY1",
       "geoAreaCode":"004","timePeriodStart":2019.0,"value":"12.5",
       "attributes":{"Units":"PERCENT"},
       "dimensions":{"Age":"ALLAGE","Sex":"BOTHSEX"}},
      {"seriesDescription":"Poverty headcount","series":"SI_POV_DAY1",
       "geoAreaCode":"516","timePeriodStart":2019.0,"value":"NaN",
       "attributes":{"Units":"PERCENT"},
       "dimensions":{"Age":"ALLAGE","Sex":"BOTHSEX"}}]}"""
    pipelineNamed("unstats_sdg_api", CannedTransport(Map(url(1) -> p1)))
  }

  def unstatsSdgDatabase: Pipeline = {
    val raw = Seq(
      ("1", "SI_POV_DAY1", "Poverty headcount", "4", "Afghanistan", "2019",
        "<2.5", "PERCENT", "src", "FEMALE"),
      ("1", "SI_POV_DAY1", "Poverty headcount", "516", "Namibia", "2019",
        "17", "PERCENT", "src", "MALE"))
      .toDF("Goal", "SeriesCode", "SeriesDescription", "GeoAreaCode",
        "GeoAreaName", "TimePeriod", "Value", "Units", "Source", "[Sex]")
    storage.write(raw, "unstats_sdg_database_raw", "csv")
    pipelineNamed("unstats_sdg_database", noTransport)
  }

  def unicefSdmxApi: Pipeline = {
    val base = "https://sdmx.data.unicef.org/ws/public/sdmxapi/rest/data/UNICEF,GLOBAL_DATAFLOW,1.0"
    val key = SdmxSources.keyPath(Seq("REF_AREA", "INDICATOR", "SEX"),
      Map("INDICATOR" -> Seq("CME_MRY0T4")))
    val url = Transport.withQuery(s"$base/$key",
      SdmxSources.periodParams(2005, 2030))
    val csv =
      """REF_AREA,INDICATOR,Sex,TIME_PERIOD,OBS_VALUE,DATA_SOURCE,SOURCE_LINK
        |AFG,CME_MRY0T4,Female,2020,<1,,https://childmortality.org
        |AFG,CME_MRY0T4,Male,2020-06,44,UN IGME,
        |NAM,CME_MRY0T4,Total,2019,>95%,UN IGME,""".stripMargin
    pipelineNamed("unicef_sdmx_api", CannedTransport(Map(url -> csv)))
  }

  def iloSdmxApi: Pipeline = {
    val base = "https://sdmx.ilo.org/rest/data/ILO,DF_EMP_DWAP_SEX_AGE_RT"
    val key = SdmxSources.keyPath(Seq("FREQ", "REF_AREA", "SEX", "AGE"),
      Map("FREQ" -> Seq("A")))
    val url = Transport.withQuery(s"$base/$key",
      SdmxSources.periodParams(2005, 2030))
    val csv =
      """REF_AREA,FREQ,SEX,AGE,TIME_PERIOD,OBS_VALUE,SOURCE
        |AFG,A,SEX_M,AGE_AGGREGATE_TOTAL,2020,47.2,ILOSTAT
        |AFG,M,SEX_M,AGE_AGGREGATE_TOTAL,2020,48.0,ILOSTAT
        |NAM,A,SEX_F,,2019,51.5,ILOSTAT
        |KEN,A,SEX_F,AGE_5YRBANDS_Y15-19,2019,9.9,ILOSTAT""".stripMargin
    pipelineNamed("ilo_sdmx_api", CannedTransport(Map(url -> csv)))
  }

  def imfDatamapperApi: Pipeline = {
    val url = Transport.withQuery(
      "https://www.imf.org/external/datamapper/api/v1/NGDP_RPCH", Map.empty)
    val body = """{"values":{"NGDP_RPCH":{"USA":{"2019":2.3,"2020":-2.8},
      "NAM":{"2019":1.1}}}}"""
    pipelineNamed("imf_datamapper_api", CannedTransport(Map(url -> body)))
  }

  def sipriMilex: Pipeline = {
    val sheet1 =
      """SIPRI military expenditure database,,
        |Country,2019,2020
        |Afghanistan,1.9,xxx
        |Namibia,3.1,3.3""".stripMargin
    val sheet2 =
      """Country,2019,2020
        |Afghanistan,0.011,...""".stripMargin
    val wb = CsvWorkbook(Map(
      "Constant (2023) US$" -> sheet1, "Share of GDP" -> sheet2))
    pipelineNamed("sipri_milex", noTransport, sipri = wb)
  }

  def unaidsKpatlas: Pipeline = {
    val raw = Seq(
      ("HIV prevalence", "Total", "AFG", "2020", "0.1", "UNAIDS", "%", "HIV_PREV"),
      ("HIV prevalence", "Category: adults", "AFG", "2020", "0.2", "UNAIDS", "%", "HIV_PREV"),
      ("HIV prevalence", "Total", "NAM", "2020", "11.6", "UNAIDS", "%", "HIV_PREV"),
      ("Condom use", "Sex workers", "NAM", "2020", "81", "UNAIDS", "%", "CONDOM"),
      // duplicated key -> keep-none eliminates BOTH rows
      ("ART coverage", "Total", "KEN", "2020", "75", "UNAIDS", "%", "ART"),
      ("ART coverage", "Total", "KEN", "2020", "76", "UNAIDS", "%", "ART"))
      .toDF("Indicator", "Subgroup", "Area ID", "Time Period", "Data Value",
        "Source", "Unit", "Code")
    storage.write(raw, "unaids_kpatlas_raw", "csv")
    pipelineNamed("unaids_kpatlas", noTransport)
  }

  def healthdataGhdx: Pipeline = {
    val raw = Seq(
      ("Deaths", "Rate", "All causes", "Afghanistan", "male", "All ages", "2019", "717.5"),
      ("Deaths", "Rate", "All causes", "Vietnam", "both", "All ages", "2019", "546.1"),
      ("Deaths", "Rate", "All causes", "Atlantis", "female", "All ages", "2019", "1.0"))
      .toDF("measure_name", "metric_name", "cause_name", "location_name",
        "sex_name", "age_name", "year", "val")
    storage.write(raw, "healthdata_ghdx_raw", "csv")
    pipelineNamed("healthdata_ghdx", noTransport)
  }

  def energydataInfo: Pipeline = {
    val sheet =
      """Installed capacity (ELECCAP),,,,
        |Country,Technology,Grid,2019,2020
        |Afghanistan,Hydro,On,120,130
        |,Solar,On,..,15
        |Namibia,Hydro,On,340,..""".stripMargin
    val wb = CsvWorkbook(Map("Sheet1" -> sheet))
    pipelineNamed("energydata_info", noTransport, eleccap = wb)
  }

  def referenceFixtures: Seq[Pipeline] = Seq(worldBankWdi, worldBankApi, whoGhoApi,
    unstatsSdgApi, unstatsSdgDatabase, unicefSdmxApi, iloSdmxApi, imfDatamapperApi,
    sipriMilex, unaidsKpatlas, healthdataGhdx, energydataInfo)
}

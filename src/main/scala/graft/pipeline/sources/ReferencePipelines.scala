package graft.pipeline.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.pipeline.{Pipeline, Pipelines, Retriever, Settings}
import graft.sources._
import graft.storage.Storage
import graft.transform._

/** The twelve reference pipelines, re-expressed on this engine's
  * machinery (registry analogue of `pipelines/__init__.py`). Every
  * pipeline = a retriever over the driver-side fetch boundary (or
  * versioned storage for bulk-file sources) + a per-shape transformer;
  * the canonicalisation chain is [[Pipeline]]'s.
  *
  * API endpoints are the public base URLs the reference consumes.
  * Tests exercise every pipeline with canned transports/fixtures —
  * the engine itself never requires network.
  */
object ReferencePipelines {

  /** Bulk-file sources read their staged dataset from storage by
    * provider name (the reference's storage-injected retrievers). */
  final case class StorageCsvRetriever(name: String) extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame =
      storage.map(_.readName(spark, name, "csv")).getOrElse(
        throw new IllegalStateException(s"pipeline $name needs a storage backend"))
  }

  final case class WorldBankApiRetriever(
      transport: Transport,
      indicators: Seq[String],
      base: String = "https://api.worldbank.org/v2/country/all/indicator",
      yearMin: Int = 2005, yearMax: Int = 2030) extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame = {
      val rows = JsonSources.fetchPagePages(transport,
        (ind, page) => (s"$base/$ind", Map(
          "format" -> "json", "per_page" -> "1000",
          "date" -> s"$yearMin:$yearMax", "page" -> page.toString)),
        indicators)
      JsonSources.jsonToDf(spark, rows, Some(WorldBankApiRetriever.rowSchema))
    }
  }

  object WorldBankApiRetriever {
    /** The fields [[graft.transform.WorldBankApiTransformer]] reads, typed
      * as inference types them. */
    val rowSchema: StructType = StructType.fromDDL(
      "country STRUCT<id: STRING, value: STRING>, countryiso3code STRING, date STRING, " +
        "indicator STRUCT<id: STRING, value: STRING>, value DOUBLE")
  }

  final case class WhoGhoRetriever(
      transport: Transport,
      indicators: Map[String, String], // code -> display name
      base: String = "https://ghoapi.azureedge.net/api") extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame = {
      val frames = indicators.toSeq.sortBy(_._1).map { case (code, name) =>
        JsonSources.jsonToDf(spark, JsonSources.fetchOData(transport, s"$base/$code", Map.empty),
          Some(WhoGhoRetriever.rowSchema))
          .withColumn("indicator_name", lit(s"$name [$code]"))
      }
      frames.reduceOption(_.union(_)).getOrElse(spark.emptyDataFrame)
    }
  }

  object WhoGhoRetriever {
    /** The fields [[graft.transform.ODataObservationsTransformer]] reads,
      * typed as inference types them. A row that omits a `Dim` slot reads
      * it as null. */
    val rowSchema: StructType = StructType.fromDDL(
      "DataSourceDim STRING, Dim1 STRING, Dim1Type STRING, Dim2 STRING, Dim2Type STRING, " +
        "Dim3 STRING, Dim3Type STRING, NumericValue DOUBLE, SpatialDim STRING, TimeDim BIGINT")
  }

  final case class UnstatsSdgApiRetriever(
      transport: Transport,
      seriesCodes: Seq[String],
      base: String = "https://unstats.un.org/sdgapi/v1/sdg/Series/Data") extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame = {
      val rows = seriesCodes.flatMap(code =>
        JsonSources.fetchTotalPages(transport,
          page => (base, Map("seriesCode" -> code, "pageSize" -> "1000",
            "page" -> page.toString))))
      JsonSources.jsonToDf(spark, rows)
    }
  }

  final case class ImfDatamapperRetriever(
      transport: Transport,
      indicators: Seq[String],
      base: String = "https://www.imf.org/external/datamapper/api/v1") extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame =
      transport.get(s"$base/${indicators.mkString("/")}", Map.empty) match {
        case Some(body) => JsonSources.nestedMapToDf(spark, body)
        case None => spark.emptyDataFrame
      }
  }

  final case class SdmxCsvRetriever(
      transport: Transport,
      base: String,
      dimensionOrder: Seq[String],
      selections: Map[String, Seq[String]],
      startYear: Int = 2005, endYear: Int = 2030) extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame = {
      val key = SdmxSources.keyPath(dimensionOrder, selections)
      transport.get(s"$base/$key", SdmxSources.periodParams(startYear, endYear)) match {
        case Some(csv) => SdmxSources.csvToDf(spark, csv)
        case None => spark.emptyDataFrame
      }
    }
  }

  /** Multi-sheet workbook retriever (SIPRI shape): sheets staged as
    * CSV behind the [[Workbook]] abstraction. */
  final case class WorkbookRetriever(
      workbook: Workbook,
      sheetIndicators: Map[String, String],
      headerMarker: String = "Country") extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame =
      SheetOps.multiSheetUnion(spark, workbook, sheetIndicators,
        rows => SheetOps.inferHeaderRow(rows, headerMarker))
  }

  /** Fixed-header-offset sheet retriever (energydata shape) with the
    * order-pinning row index for forward-fill. */
  final case class OffsetSheetRetriever(
      workbook: Workbook, sheet: String, headerRow: Int) extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame =
      SheetOps.toDataFrame(spark, workbook.sheet(sheet), headerRow,
        naValues = Set("..", "...", "xxx"), withIndex = true)
  }

  /** Assemble all twelve pipelines. Parameters carry the per-source
    * configuration a caller would tune (indicator sets, workbooks). */
  def all(
      transport: Transport,
      settings: Settings = Settings(),
      wbIndicators: Seq[String] = Seq("SP.POP.TOTL", "NY.GDP.MKTP.CD"),
      whoIndicators: Map[String, String] = Map("WHOSIS_000001" -> "Life expectancy at birth (years)"),
      sdgSeries: Seq[String] = Seq("SI_POV_DAY1"),
      imfIndicators: Seq[String] = Seq("NGDP_RPCH"),
      sipriWorkbook: Workbook = CsvWorkbook(Map.empty),
      eleccapWorkbook: Workbook = CsvWorkbook(Map.empty)): Seq[Pipeline] = Seq(
    Pipeline("world_bank_wdi", StorageCsvRetriever("world_bank_wdi_raw"),
      WideYearColumnsTransformer(), settings),
    Pipeline("world_bank_api",
      WorldBankApiRetriever(transport, wbIndicators,
        yearMin = settings.yearMin, yearMax = settings.yearMax),
      WorldBankApiTransformer, settings),
    Pipeline("who_gho_api", WhoGhoRetriever(transport, whoIndicators),
      ODataObservationsTransformer(), settings),
    Pipeline("unstats_sdg_api", UnstatsSdgApiRetriever(transport, sdgSeries),
      UnstatsSdgApiTransformer, settings),
    Pipeline("unstats_sdg_database", StorageCsvRetriever("unstats_sdg_database_raw"),
      UnstatsSdgDatabaseTransformer(), settings),
    Pipeline("unicef_sdmx_api",
      SdmxCsvRetriever(transport,
        "https://sdmx.data.unicef.org/ws/public/sdmxapi/rest/data/UNICEF,GLOBAL_DATAFLOW,1.0",
        dimensionOrder = Seq("REF_AREA", "INDICATOR", "SEX"),
        selections = Map("INDICATOR" -> Seq("CME_MRY0T4")),
        startYear = settings.yearMin, endYear = settings.yearMax),
      SdmxAnnualTransformer(
        indicatorName = "Under-five mortality rate, deaths per 1,000 live births [CME_MRY0T4]",
        freqCol = None,
        dimCols = Map("Sex" -> "sex"),
        valueCol = "OBS_VALUE",
        sourceCols = Seq("DATA_SOURCE", "SOURCE_LINK")), settings),
    Pipeline("ilo_sdmx_api",
      SdmxCsvRetriever(transport,
        "https://sdmx.ilo.org/rest/data/ILO,DF_EMP_DWAP_SEX_AGE_RT",
        dimensionOrder = Seq("FREQ", "REF_AREA", "SEX", "AGE"),
        selections = Map("FREQ" -> Seq("A")),
        startYear = settings.yearMin, endYear = settings.yearMax),
      SdmxAnnualTransformer(
        indicatorName = "Employment-to-population ratio, % [EMP_DWAP_SEX_AGE_RT]",
        aggregateCols = Seq("AGE"),
        codelists = Map("SEX" -> Map("SEX_M" -> "Male", "SEX_F" -> "Female",
          "SEX_T" -> "Total")),
        dimCols = Map("SEX" -> "sex", "AGE" -> "age"),
        sourceCols = Seq("SOURCE")), settings),
    Pipeline("imf_datamapper_api", ImfDatamapperRetriever(transport, imfIndicators),
      NestedMapTransformer(Map("NGDP_RPCH" -> "Real GDP growth, %")), settings),
    Pipeline("sipri_milex",
      WorkbookRetriever(sipriWorkbook, Map(
        "Constant (2023) US$" -> "Military expenditure, constant US$m [MILEX_USD]",
        "Share of GDP" -> "Military expenditure, % of GDP [MILEX_GDP]")),
      SipriMilexTransformer, settings),
    Pipeline("unaids_kpatlas", StorageCsvRetriever("unaids_kpatlas_raw"),
      UnaidsKpatlasTransformer, settings),
    Pipeline("healthdata_ghdx", StorageCsvRetriever("healthdata_ghdx_raw"),
      HealthdataGhdxTransformer, settings),
    Pipeline("energydata_info", OffsetSheetRetriever(eleccapWorkbook, "Sheet1", 1),
      EnergydataInfoTransformer(), settings))

  /** Register the full set (names mirror the reference's module names —
    * the provider/name contract, `_base.py:62-71`). */
  def registerAll(transport: Transport, settings: Settings = Settings()): Unit =
    all(transport, settings).foreach(Pipelines.register)
}

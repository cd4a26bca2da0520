package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{CountryRef, Countries}
import graft.sources.{CannedTransport, CsvWorkbook, JsonSources, SdmxSources, Transport}
import graft.transform.CountryCodes

/** One canonical observation the R→T→L chain must emit (source null = absent). */
final case class Obs(
    provider: String, indicator: String, country: String, year: Int,
    dimension: String, value: Double, source: String) {
  def key: String =
    Seq(provider, indicator, country, year, dimension,
      java.lang.Double.toString(value), String.valueOf(source)).mkString("\u0001")
}

object Obs {
  /** Order-independent 64-bit digest of a row set: sum of per-row hashes. */
  def digest(keys: Iterable[String]): Long =
    keys.foldLeft(0L)((acc, k) => acc + rowHash(k))

  def rowHash(k: String): Long = {
    val b = k.getBytes(UTF_8)
    val hi = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val lo = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }
}

/** Sizes of the generated fan-in; every seed yields the same shape. */
final case class EtlSizes(
    wdiIndicators: Int = 6, wbApiIndicators: Int = 2, whoIndicators: Int = 2,
    sdgApiSeries: Int = 2, sdgDbSeries: Int = 4, unaidsIndicators: Int = 4,
    ghdxCauses: Int = 3, tpchSuppliers: Int = 100, tpchLines: Int = 20000)

/** The generated inputs of one fan-in: the payloads behind the canned
  * transport, the staged bulk files, the workbooks and the TPC-H tables,
  * plus the canonical rows the chain is specified to produce from them. */
final case class EtlInputs(
    transport: Transport,
    storageRoot: String,
    storageVersion: String,
    sipri: CsvWorkbook,
    eleccap: CsvWorkbook,
    tpchDir: String,
    wbIndicators: Seq[String],
    whoIndicators: Map[String, String],
    sdgSeries: Seq[String],
    imfIndicators: Seq[String],
    expected: Seq[Obs],
    fingerprint: Long)

/** Seeded source generator: canonical observations rendered into the
  * twelve reference source shapes plus the TPC-H shipments demo. Planted
  * rows are ones the chain drops (non-M49 areas, years outside the
  * window, sentinel or missing values, superseded duplicates), never rows
  * that make validation throw. */
object Gen {
  val YearMin = 2005
  val YearMax = 2030
  val Years: Seq[Int] = YearMin to YearMax
  val Version = "v00-01-01"

  /** Countries whose packaged name resolves back to their own code
    * through the name matcher (name-keyed shapes use only these). */
  lazy val countries: Seq[CountryRef] = Countries.all.sortBy(_.m49)
  lazy val named: Seq[CountryRef] = countries.filter(c =>
    CountryCodes.nameToIso3.get(normalize(c.name)).contains(c.iso3))

  private def normalize(s: String): String = {
    val from = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ"
    val to = "aaaaaaceeeeiiiinoooooouuuuyy"
    s.toLowerCase.map(c => { val i = from.indexOf(c); if (i >= 0) to(i) else c })
      .replaceAll("\\(.*?\\)", " ").replaceAll("[^a-z]+", " ").trim
  }

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L)

  /** A value with three decimals: exact through text, JSON and CSV. */
  def value(r: SplittableRandom): Double = r.nextInt(1, 100000000) / 1000.0

  def num(v: Double): String = java.lang.Double.toString(v)

  def q(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  def js(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def writeCsv(root: Path, name: String, lines: Iterator[String]): Unit = {
    val dir = root.resolve(Version).resolve(s"$name.csv")
    Files.createDirectories(dir)
    val w = Files.newBufferedWriter(dir.resolve("part-00000.csv"), UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Generate every input of the fan-in under `dir`; with `stage` off
    * only the expected rows are produced and nothing is written. */
  def etl(spark: SparkSession, seed: Long, dir: Path, sizes: EtlSizes = EtlSizes(),
      stage: Boolean = true): EtlInputs = {
    Files.createDirectories(dir)
    val staged = dir.resolve("storage")
    val expected = Vector.newBuilder[Obs]
    val payloads = Map.newBuilder[String, String]
    val fp = new StringBuilder
    def stageCsv(name: String, lines: Seq[String]): Unit =
      if (stage) writeCsv(staged, name, lines.iterator)

    // world_bank_wdi: wide year columns; 2012-2014 fall below the
    // transformer's cutoff, 2035 outside the window, blank cells drop.
    {
      val r = rng(seed, 1)
      val yearCols = (2012 to 2030) :+ 2035
      val header = (Seq("Country Name", "Country Code", "Indicator Name", "Indicator Code") ++
        yearCols.map(_.toString)).map(q).mkString(",")
      val areas = countries.map(c => (c.name, c.iso3, true)) ++
        Seq(("World", "WLD", false), ("Euro area", "EMU", false))
      val lines = Vector.newBuilder[String]
      lines += header
      for (i <- 0 until sizes.wdiIndicators; (name, code, real) <- areas) {
        val ind = s"WDI indicator $i"; val indCode = s"WDI.IND.$i"
        val cells = yearCols.map { y =>
          if (r.nextInt(8) == 0) ""
          else {
            val v = value(r)
            if (real && y >= 2015 && y <= YearMax)
              expected += Obs("world_bank_wdi", s"$ind [$indCode]", code, y, "Total", v, null)
            num(v)
          }
        }
        lines += (Seq(q(name), q(code), q(ind), q(indCode)) ++ cells).mkString(",")
      }
      val ls = lines.result()
      fp.append(ls.hashCode)
      stageCsv("world_bank_wdi_raw", ls)
    }

    // world_bank_api: page/pages JSON; quarterly periods, out-of-window
    // years, aggregates and unknown names drop; blank iso3 codes resolve
    // through the country name.
    val wbIndicators = (0 until sizes.wbApiIndicators).map(i => s"WB.API.$i")
    locally {
      val r = rng(seed, 2)
      val base = "https://api.worldbank.org/v2/country/all/indicator"
      val namedSet = named.map(_.iso3).toSet
      for ((code, i) <- wbIndicators.zipWithIndex) {
        val desc = s"WB api indicator $i"
        def row(iso2: String, name: String, iso3: String, date: String, v: String): String =
          s"""{"indicator":{"id":${js(code)},"value":${js(desc)}},""" +
            s""""country":{"id":${js(iso2)},"value":${js(name)}},""" +
            s""""countryiso3code":${js(iso3)},"date":${js(date)},"value":$v}"""
        val rows = Vector.newBuilder[String]
        for (c <- countries; y <- Years) {
          if (r.nextInt(10) == 0) rows += row(c.iso2, c.name, c.iso3, y.toString, "null")
          else {
            val v = value(r)
            val blankCode = namedSet(c.iso3) && r.nextInt(10) == 0
            rows += row(c.iso2, c.name, if (blankCode) "" else c.iso3, y.toString, num(v))
            expected += Obs("world_bank_api", s"$desc [$code]", c.iso3, y, "Total", v, null)
          }
        }
        for (c <- countries.take(20)) {
          rows += row(c.iso2, c.name, c.iso3, "2020Q1", num(value(r)))
          rows += row(c.iso2, c.name, c.iso3, "2003", num(value(r)))
        }
        rows += row("1W", "World", "WLD", "2020", num(value(r)))
        rows += row("ZZ", "Atlantis", "", "2020", num(value(r)))
        val all = rows.result()
        val pages = all.grouped(1000).toVector
        pages.zipWithIndex.foreach { case (page, p) =>
          val url = Transport.withQuery(s"$base/$code", Map(
            "format" -> "json", "per_page" -> "1000",
            "date" -> s"$YearMin:$YearMax", "page" -> (p + 1).toString))
          val body = s"""[{"page":${p + 1},"pages":${pages.size},"total":${all.size}},[""" +
            page.mkString(",") + "]]"
          payloads += url -> body
          fp.append(body.hashCode)
        }
      }
    }

    // who_gho_api: OData rows with a SEX dimension; each kept row has a
    // superseded twin (larger value) that keep-first drops.
    val whoIndicators = (0 until sizes.whoIndicators).map(i => s"WHO_IND_$i" -> s"WHO indicator $i").toMap
    locally {
      val r = rng(seed, 3)
      val base = "https://ghoapi.azureedge.net/api"
      for ((code, name) <- whoIndicators.toSeq.sortBy(_._1)) {
        def row(area: String, y: Int, sex: String, src: String, v: String): String =
          s"""{"SpatialDim":${js(area)},"TimeDim":$y,"Dim1":${js("SEX_" + sex)},"Dim1Type":"SEX",""" +
            s""""Dim2":null,"Dim2Type":null,"Dim3":null,"Dim3Type":null,""" +
            s""""DataSourceDim":${js("DATASOURCE_" + src)},"NumericValue":$v}"""
        val rows = Vector.newBuilder[String]
        for (c <- countries; y <- Years; sex <- Seq("MLE", "FMLE", "BTSX")) {
          if (r.nextInt(3) != 0) {
            val v = value(r)
            rows += row(c.iso3, y, sex, "WHS", num(v))
            if (r.nextInt(5) == 0) rows += row(c.iso3, y, sex, "ALT", num(v + 1.0))
            expected += Obs("who_gho_api", s"$name [$code]", c.iso3, y, sex, v, "WHS")
          }
        }
        rows += row("WLD", 2020, "MLE", "WHS", num(value(r)))
        rows += row(countries.head.iso3, 2035, "MLE", "WHS", num(value(r)))
        val all = rows.result()
        val url = Transport.withQuery(s"$base/$code",
          Map("$filter" -> JsonSources.odataFilter(Map.empty)))
        val body = all.mkString("""{"value":[""", ",", "]}")
        payloads += url -> body
        fp.append(body.hashCode)
      }
    }

    // unstats_sdg_api: totalPages JSON keyed by M49 area codes; "NaN"
    // values and the World aggregate (M49 1) drop.
    val sdgSeries = (0 until sizes.sdgApiSeries).map(i => s"SG_API_$i")
    locally {
      val r = rng(seed, 4)
      val base = "https://unstats.un.org/sdgapi/v1/sdg/Series/Data"
      for ((code, i) <- sdgSeries.zipWithIndex) {
        val desc = s"SDG api series $i"
        def row(area: String, y: Int, v: String, age: String, sex: String): String =
          s"""{"seriesDescription":${js(desc)},"series":${js(code)},"geoAreaCode":${js(area)},""" +
            s""""timePeriodStart":$y.0,"value":${js(v)},"attributes":{"Units":"PERCENT"},""" +
            s""""dimensions":{"Age":${js(age)},"Sex":${js(sex)}}}"""
        val rows = Vector.newBuilder[String]
        for (c <- countries; y <- Years; age <- Seq("ALLAGE", "15-24"); sex <- Seq("FEMALE", "MALE")) {
          val area = f"${c.m49}%03d"
          if (r.nextInt(12) == 0) rows += row(area, y, "NaN", age, sex)
          else if (r.nextInt(2) == 0) {
            val v = value(r)
            rows += row(area, y, num(v), age, sex)
            expected += Obs("unstats_sdg_api", s"$desc, PERCENT [$code]", c.iso3, y,
              s"$age; $sex", v, null)
          }
        }
        rows += row("001", 2020, num(value(r)), "ALLAGE", "MALE")
        rows += row(f"${countries.head.m49}%03d", 2035, num(value(r)), "ALLAGE", "MALE")
        val all = rows.result()
        val pages = all.grouped(1000).toVector
        pages.zipWithIndex.foreach { case (page, p) =>
          val url = Transport.withQuery(base, Map(
            "seriesCode" -> code, "pageSize" -> "1000", "page" -> (p + 1).toString))
          val body = s"""{"totalPages":${pages.size},"data":[""" + page.mkString(",") + "]}"
          payloads += url -> body
          fp.append(body.hashCode)
        }
      }
    }

    // unstats_sdg_database: bulk CSV with a dynamic Sex column and
    // bound-marked values; World rows, blank values and 2003 drop.
    {
      val r = rng(seed, 5)
      val lines = Vector.newBuilder[String]
      lines += "Goal,SeriesCode,SeriesDescription,GeoAreaCode,GeoAreaName,TimePeriod,Value,Units,Source,Sex"
      for (i <- 0 until sizes.sdgDbSeries) {
        val code = s"SG_DB_$i"; val desc = s"SDG database series $i"
        def line(m49: Int, area: String, y: Int, v: String, sex: String) =
          Seq("1", code, q(desc), m49.toString, q(area), y.toString, v, "PERCENT",
            "SDG global database", sex).mkString(",")
        for (c <- countries; y <- Years; sex <- Seq("FEMALE", "MALE", "BOTHSEX")) {
          r.nextInt(10) match {
            case 0 => lines += line(c.m49, c.name, y, "", sex)
            case 1 | 2 | 3 | 4 => ()
            case k =>
              val v = value(r)
              lines += line(c.m49, c.name, y, if (k == 9) "<" + num(v) else num(v), sex)
              expected += Obs("unstats_sdg_database", s"$desc, PERCENT [$code]", c.iso3, y,
                sex, v, "SDG global database")
          }
        }
        lines += line(1, "World", 2020, num(value(r)), "MALE")
        lines += line(countries.head.m49, countries.head.name, 2003, num(value(r)), "MALE")
      }
      val ls = lines.result()
      fp.append(ls.hashCode)
      stageCsv("unstats_sdg_database_raw", ls)
    }

    // unicef_sdmx_api: SDMX CSV; sub-annual periods and aggregates drop,
    // ">v%" bound markers strip, the source falls back to the link.
    locally {
      val r = rng(seed, 6)
      val base = "https://sdmx.data.unicef.org/ws/public/sdmxapi/rest/data/UNICEF,GLOBAL_DATAFLOW,1.0"
      val ind = "Under-five mortality rate, deaths per 1,000 live births [CME_MRY0T4]"
      val lines = Vector.newBuilder[String]
      lines += "REF_AREA,INDICATOR,Sex,TIME_PERIOD,OBS_VALUE,DATA_SOURCE,SOURCE_LINK"
      for (c <- countries; y <- Years; sex <- Seq("Female", "Male", "Total")) {
        if (r.nextInt(4) != 0) {
          val v = value(r)
          val marked = if (r.nextInt(10) == 0) ">" + num(v) + "%" else num(v)
          val (ds, link) = if (r.nextInt(4) == 0) ("", "https://childmortality.org") else ("UN IGME", "")
          lines += Seq(c.iso3, "CME_MRY0T4", sex, y.toString, marked, ds, link).mkString(",")
          val dim = if (sex == "Total") "All sex" else sex
          expected += Obs("unicef_sdmx_api", ind, c.iso3, y, dim, v,
            if (ds.nonEmpty) ds else link)
        }
      }
      for (c <- countries.take(20))
        lines += Seq(c.iso3, "CME_MRY0T4", "Male", "2020-06", num(value(r)), "UN IGME", "").mkString(",")
      lines += Seq("WLD", "CME_MRY0T4", "Male", "2020", num(value(r)), "UN IGME", "").mkString(",")
      lines += Seq(countries.head.iso3, "CME_MRY0T4", "Male", "2035", num(value(r)), "UN IGME", "").mkString(",")
      val ls = lines.result()
      val key = SdmxSources.keyPath(Seq("REF_AREA", "INDICATOR", "SEX"),
        Map("INDICATOR" -> Seq("CME_MRY0T4")))
      val body = ls.mkString("\n")
      payloads += Transport.withQuery(s"$base/$key", SdmxSources.periodParams(YearMin, YearMax)) -> body
      fp.append(body.hashCode)
    }

    // ilo_sdmx_api: SDMX CSV with FREQ and AGE; monthly rows and
    // non-aggregate age bands drop; SEX decodes through the codelist.
    locally {
      val r = rng(seed, 7)
      val base = "https://sdmx.ilo.org/rest/data/ILO,DF_EMP_DWAP_SEX_AGE_RT"
      val ind = "Employment-to-population ratio, % [EMP_DWAP_SEX_AGE_RT]"
      val sexes = Seq("SEX_M" -> "Male", "SEX_F" -> "Female", "SEX_T" -> "All sex")
      val ages = Seq("AGE_AGGREGATE_TOTAL", "AGE_AGGREGATE_Y15-24", "")
      val lines = Vector.newBuilder[String]
      lines += "REF_AREA,FREQ,SEX,AGE,TIME_PERIOD,OBS_VALUE,SOURCE"
      for (c <- countries; y <- Years; (sex, sexDim) <- sexes; age <- ages) {
        r.nextInt(6) match {
          case 0 => lines += Seq(c.iso3, "M", sex, age, y.toString, num(value(r)), "ILOSTAT").mkString(",")
          case 1 => lines += Seq(c.iso3, "A", sex, "AGE_5YRBANDS_Y15-19", y.toString,
            num(value(r)), "ILOSTAT").mkString(",")
          case 2 => ()
          case _ =>
            val v = value(r)
            lines += Seq(c.iso3, "A", sex, age, y.toString, num(v), "ILOSTAT").mkString(",")
            val dim = if (age.isEmpty) sexDim else s"$sexDim; $age"
            expected += Obs("ilo_sdmx_api", ind, c.iso3, y, dim, v, "ILOSTAT")
        }
      }
      lines += Seq("WLD", "A", "SEX_M", "", "2020", num(value(r)), "ILOSTAT").mkString(",")
      val ls = lines.result()
      val key = SdmxSources.keyPath(Seq("FREQ", "REF_AREA", "SEX", "AGE"), Map("FREQ" -> Seq("A")))
      val body = ls.mkString("\n")
      payloads += Transport.withQuery(s"$base/$key", SdmxSources.periodParams(YearMin, YearMax)) -> body
      fp.append(body.hashCode)
    }

    // imf_datamapper_api: nested map values[indicator][area][year].
    val imfIndicators = Seq("NGDP_RPCH")
    locally {
      val r = rng(seed, 8)
      val areas = countries.map(c => (c.iso3, true)) :+ (("WLD", false))
      val byArea = areas.map { case (area, real) =>
        val years = (Years :+ 2035).filter(_ => r.nextInt(5) != 0)
        val cells = years.map { y =>
          val v = value(r) - 50000.0
          if (real && y <= YearMax)
            expected += Obs("imf_datamapper_api", "Real GDP growth, % [NGDP_RPCH]", area, y, "Total", v, null)
          s"${js(y.toString)}:${num(v)}"
        }
        s"${js(area)}:{${cells.mkString(",")}}"
      }
      val body = s"""{"values":{"NGDP_RPCH":{${byArea.mkString(",")}}}}"""
      payloads += Transport.withQuery(
        "https://www.imf.org/external/datamapper/api/v1/NGDP_RPCH", Map.empty) -> body
      fp.append(body.hashCode)
    }

    // sipri_milex: two sheets behind a workbook; sentinels, an unknown
    // name and the 2003 column drop.
    val sipri = {
      val r = rng(seed, 9)
      val sheets = Seq(
        "Constant (2023) US$" -> "Military expenditure, constant US$m [MILEX_USD]",
        "Share of GDP" -> "Military expenditure, % of GDP [MILEX_GDP]")
      val yearCols = 2003 +: Years
      CsvWorkbook(sheets.zipWithIndex.map { case ((sheet, ind), si) =>
        val lines = Vector.newBuilder[String]
        if (si == 0) lines += "SIPRI military expenditure database,,"
        lines += ("Country" +: yearCols.map(_.toString)).mkString(",")
        for ((name, iso3) <- named.map(c => (c.name, c.iso3)) :+ (("Atlantis", null))) {
          val cells = yearCols.map { y =>
            r.nextInt(8) match {
              case 0 => "xxx"
              case 1 => "..."
              case _ =>
                val v = value(r)
                if (iso3 != null && y >= YearMin)
                  expected += Obs("sipri_milex", ind, iso3, y, "Total", v, null)
                num(v)
            }
          }
          lines += (q(name) +: cells).mkString(",")
        }
        val body = lines.result().mkString("\n")
        fp.append(body.hashCode)
        sheet -> body
      }.toMap)
    }

    // unaids_kpatlas: multi-subgroup indicators keep only Total rows,
    // Category subgroups drop, duplicated keys drop entirely.
    {
      val r = rng(seed, 10)
      val lines = Vector.newBuilder[String]
      lines += "Indicator,Subgroup,Area ID,Time Period,Data Value,Source,Unit,Code"
      for (i <- 0 until sizes.unaidsIndicators) {
        val multi = i % 2 == 0
        val ind = s"KP indicator $i"; val code = s"KP_$i"
        val indName = s"$ind, % [$code]"
        def line(sub: String, area: String, y: Int, v: String) =
          Seq(q(ind), q(sub), area, y.toString, v, "UNAIDS", "%", code).mkString(",")
        val sub = if (multi) "Total" else "Sex workers"
        val dim = if (multi) "All subgroup" else "Sex workers"
        for (c <- countries; y <- Years) {
          r.nextInt(10) match {
            case 0 | 1 | 2 => ()
            case 3 =>
              lines += line(sub, c.iso3, y, num(value(r)))
              lines += line(sub, c.iso3, y, num(value(r)))
            case _ =>
              val v = value(r)
              lines += line(sub, c.iso3, y, num(v))
              expected += Obs("unaids_kpatlas", indName, c.iso3, y, dim, v, "UNAIDS")
              if (multi && r.nextInt(3) == 0) lines += line("People who inject drugs", c.iso3, y, num(value(r)))
              if (multi && r.nextInt(3) == 0) lines += line("Category: adults", c.iso3, y, num(value(r)))
          }
        }
        lines += line(sub, "WLD", 2020, num(value(r)))
        lines += line(sub, countries.head.iso3, 2035, num(value(r)))
      }
      val ls = lines.result()
      fp.append(ls.hashCode)
      stageCsv("unaids_kpatlas_raw", ls)
    }

    // healthdata_ghdx: location names resolve through the name matcher,
    // sex labels standardise; unknown locations and 2035 drop.
    {
      val r = rng(seed, 11)
      val lines = Vector.newBuilder[String]
      lines += "measure_name,metric_name,cause_name,location_name,sex_name,age_name,year,val"
      val sexes = Seq("male" -> "Male", "female" -> "Female", "both" -> "Both")
      for (i <- 0 until sizes.ghdxCauses) {
        val cause = s"Cause $i"
        def line(loc: String, sex: String, age: String, y: Int, v: String) =
          Seq("Deaths", "Rate", q(cause), q(loc), sex, q(age), y.toString, v).mkString(",")
        for (c <- named; y <- Years; (sex, sexDim) <- sexes; age <- Seq("All ages", "15-49 years")) {
          if (r.nextInt(3) == 0) {
            val v = value(r)
            lines += line(c.name, sex, age, y, num(v))
            expected += Obs("healthdata_ghdx", s"Deaths, Rate [$cause]", c.iso3, y,
              s"$sexDim; $age", v, null)
          }
        }
        lines += line("Atlantis", "male", "All ages", 2020, num(value(r)))
        lines += line(named.head.name, "male", "All ages", 2035, num(value(r)))
      }
      val ls = lines.result()
      fp.append(ls.hashCode)
      stageCsv("healthdata_ghdx_raw", ls)
    }

    // energydata_info: fixed header offset, merged country cells left
    // blank (forward-filled), ".." sentinels, an unknown name.
    val eleccap = {
      val r = rng(seed, 12)
      val yearCols = 2003 +: Years
      val lines = Vector.newBuilder[String]
      lines += "Installed capacity (ELECCAP),,,"
      lines += (Seq("Country", "Technology", "Grid") ++ yearCols.map(_.toString)).mkString(",")
      for ((name, iso3) <- named.map(c => (c.name, c.iso3)) :+ (("Atlantis", null));
           (tech, ti) <- Seq("Hydro", "Solar", "Wind", "Nuclear").zipWithIndex) {
        val cells = yearCols.map { y =>
          if (r.nextInt(6) == 0) ".."
          else {
            val v = value(r)
            if (iso3 != null && y >= YearMin)
              expected += Obs("energydata_info", "Electricity installed capacity, MW [ELECCAP]",
                iso3, y, tech, v, null)
            num(v)
          }
        }
        lines += (Seq(if (ti == 0) q(name) else "", tech, "On") ++ cells).mkString(",")
      }
      val body = lines.result().mkString("\n")
      fp.append(body.hashCode)
      CsvWorkbook(Map("Sheet1" -> body))
    }

    // tpch_shipments: lineitem ⋈ supplier ⋈ nation summed per
    // (nation, year, returnflag); a nation outside the 25 mapped ones and
    // ship years before the 1990 window drop.
    val tpchDir = dir.resolve("tpch")
    locally {
      val r = rng(seed, 13)
      val nationIso3 = graft.pipeline.demo.TpchShipments.nationIso3
      val nations = (0 until 25) :+ 30
      val supplierNation = (1 to sizes.tpchSuppliers).map(s => s.toLong -> nations(r.nextInt(nations.size)))
      val sums = scala.collection.mutable.Map.empty[(String, Int, String), Double]
      val lines = (0 until sizes.tpchLines).map { _ =>
        val (supp, nat) = supplierNation(r.nextInt(supplierNation.size))
        val y = if (r.nextInt(50) == 0) 1985 else 1992 + r.nextInt(7)
        val flag = Seq("A", "N", "R")(r.nextInt(3))
        val qty = (1 + r.nextInt(50)).toDouble
        if (nat < 25 && y >= 1990) {
          val k = (nationIso3(nat), y, flag)
          sums(k) = sums.getOrElse(k, 0.0) + qty
        }
        val day = java.time.LocalDate.of(y, 1 + r.nextInt(12), 1 + r.nextInt(28))
        Row(supp, java.sql.Timestamp.valueOf(day.atTime(12, 0)), flag, qty)
      }
      sums.foreach { case ((iso3, y, flag), v) =>
        expected += Obs("tpch_shipments", graft.pipeline.demo.TpchShipments.indicatorName,
          iso3, y, flag, v, null)
      }
      fp.append(lines.hashCode)
      val liSchema = StructType(Seq(StructField("l_suppkey", LongType),
        StructField("l_shipdate", TimestampType), StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType)))
      val supSchema = StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_nationkey", IntegerType)))
      val natSchema = StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType)))
      def write(rows: Seq[Row], schema: StructType, name: String): Unit =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
          .write.mode("overwrite").parquet(tpchDir.resolve(s"$name.parquet").toString)
      if (stage) {
        write(lines, liSchema, "lineitem")
        write(supplierNation.map { case (s, n) => Row(s, n) }, supSchema, "supplier")
        write(nations.map(n => Row(n, s"NATION$n")), natSchema, "nation")
      }
    }

    val exp = expected.result()
    EtlInputs(CannedTransport(payloads.result()), staged.toString, Version, sipri, eleccap,
      tpchDir.toString, wbIndicators, whoIndicators, sdgSeries, imfIndicators, exp,
      fp.result().hashCode.toLong * 31 + Obs.digest(exp.map(_.key)))
  }
  /** Sizes of the generated corpus. */
  final case class CorpusSizes(
      docs: Int = 300, vecs: Int = 300, dim: Int = 64, files: Int = 1, redelivered: Int = 1)

  /** The generated corpus: documents (with the held-out share flagged)
    * and embeddings as rows, and the held-out share as JSON-lines
    * micro-batch files under `streamDir`, some of them delivered twice. */
  final case class CorpusInputs(
      docs: Seq[Row], embeddings: Seq[Row], streamDir: String, batches: Int, fingerprint: Long)

  val docSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType),
    StructField("held", IntegerType)))

  val embSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private val vocab = ("batch part spark line column order small sort fast value scan hash " +
    "slow group agg filter query big key window row table stream merge data vector join " +
    "customer index shard plan cache spill task stage record field").split(' ').toVector
  private val langs = Vector("en", "en", "en", "en", "fr", "es", "zh", "de")

  /** Generate the corpus; only the stream files are written (no Spark). */
  def corpus(seed: Long, dir: Path, sizes: CorpusSizes = CorpusSizes()): CorpusInputs = {
    val r = rng(seed, 20)
    val texts = new Array[String](sizes.docs)
    val rows = (0 until sizes.docs).map { id =>
      // one document in five is a near copy of an earlier one (one word
      // replaced), so near-dup pairs and multi-member components exist
      texts(id) =
        if (id > 10 && r.nextInt(5) == 0) {
          val w = texts(r.nextInt(id)).split(' ')
          w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size))
          w.mkString(" ")
        } else Vector.fill(20 + r.nextInt(60))(vocab(r.nextInt(vocab.size))).mkString(" ")
      val held = if (r.nextInt(10) == 0) 1 else 0
      Row(id.toLong, texts(id), langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}",
        texts(id).length.toLong, held)
    }

    // held-out share: one file per micro-batch; the first `redelivered`
    // files are delivered a second time under a new name
    val streamDir = dir.resolve("stream")
    Files.createDirectories(streamDir)
    val heldRows = rows.filter(_.getInt(5) == 1)
    val parts = (0 until sizes.files).map(f => heldRows.zipWithIndex.collect {
      case (row, i) if i % sizes.files == f => row })
    val deliveries = parts.zipWithIndex.map { case (p, f) => (p, s"b$f") } ++
      parts.take(sizes.redelivered).zipWithIndex.map { case (p, f) => (p, s"b${f}_again") }
    deliveries.foreach { case (p, name) =>
      // vocabulary words and ids only: nothing to escape
      val lines = p.map(row => s"""{"doc_id":${row.getLong(0)},"text":"${row.getString(1)}",""" +
        s""""lang":"${row.getString(2)}","source":"${row.getString(3)}",""" +
        s""""n_chars":${row.getLong(4)},"held":${row.getInt(5)}}""")
      Files.write(streamDir.resolve(s"$name.json"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }

    // embeddings: noisy copies of 16 seeded centres
    val centres = Vector.fill(16, sizes.dim)(r.nextDouble() * 2 - 1)
    val vecs = (0 until sizes.vecs).map { id =>
      val c = r.nextInt(centres.size)
      Row(id.toLong, centres(c).map(x => (x + (r.nextDouble() - 0.5) * 0.4).toFloat), c)
    }

    val fp = texts.toSeq.hashCode.toLong * 31 + heldRows.map(_.getLong(0)).hashCode +
      vecs.map(_.getSeq[Float](1).hashCode).hashCode
    CorpusInputs(rows, vecs, streamDir.toString, deliveries.size, fp)
  }
}

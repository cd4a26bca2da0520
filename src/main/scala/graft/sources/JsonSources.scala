package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** REST/JSON source scans (S7/S8/S9/S13/S16).
  *
  * Fetching is a driver-side boundary exactly as in the reference; the
  * payloads then become DataFrames via `spark.read.json` over an
  * in-memory Dataset[String], so parsing/flattening runs on executors.
  * Pagination-protocol fields are peeked with json4s (already on
  * Spark's classpath) — driver-side control flow only, never row data.
  */
object JsonSources {

  /** Rows-of-JSON → DataFrame, parsed on executors. With a declared
    * `schema` the read runs no job, and each row is parsed once, by the
    * action that reads it; a field the row omits reads as null. Without
    * one, an inference job parses every row first. The World Bank and
    * WHO GHO retrievers declare their row schema; the SDG API's stays
    * inferred, because its `dimensions` keys vary by series. */
  def jsonToDf(spark: SparkSession, rows: Seq[String],
      schema: Option[StructType] = None): DataFrame = {
    import spark.implicits._
    val reader = schema.map(spark.read.schema).getOrElse(spark.read)
    reader.json(spark.createDataset(rows))
  }

  /** S7 — page/pages protocol (reference `world_bank_api.py:105-145`):
    * payload `[ {page, pages, ...}, [row, ...] ]`. Loops until
    * page == pages; one outer loop per indicator with per-indicator
    * error isolation (log + continue). Returns the raw row objects as
    * JSON strings. */
  def fetchPagePages(
      transport: Transport,
      urlFor: (String, Int) => (String, Map[String, String]),
      indicators: Seq[String],
      maxPages: Int = 10000): Seq[String] =
    indicators.flatMap { ind =>
      try {
        var page = 1
        var pages = 1
        val acc = Seq.newBuilder[String]
        while (page <= math.min(pages, maxPages)) {
          val (url, params) = urlFor(ind, page)
          transport.get(url, params) match {
            case None => pages = 0 // fetch error: skip indicator remainder
            case Some(body) =>
              JsonMethods.parse(body) match {
                case JArray(List(header: JObject, JArray(rows))) =>
                  pages = (header \ "pages") match {
                    case JInt(p) => p.toInt
                    case _ => page
                  }
                  rows.foreach(r => acc += JsonMethods.compact(r))
                case _ => pages = 0 // message-only payload: skip
              }
              page += 1
          }
        }
        acc.result()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] indicator $ind failed: ${e.getMessage}")
          Nil
      }
    }

  /** S8 — totalPages protocol (reference `unstats_sdg_api.py:68-127`):
    * `{totalPages, data: [...]}`; fetch page 1, learn the count, fetch
    * the rest. */
  def fetchTotalPages(
      transport: Transport,
      urlFor: Int => (String, Map[String, String]),
      maxPages: Int = 10000): Seq[String] = {
    def rowsOf(body: String): (Int, Seq[String]) =
      JsonMethods.parse(body) match {
        case o: JObject =>
          val total = (o \ "totalPages") match {
            case JInt(p) => p.toInt
            case _ => 1
          }
          val rows = (o \ "data") match {
            case JArray(rs) => rs.map(JsonMethods.compact)
            case _ => Nil
          }
          (total, rows)
        case _ => (1, Nil)
      }
    val (u1, p1) = urlFor(1)
    transport.get(u1, p1) match {
      case None => Nil
      case Some(first) =>
        val (total, rows1) = rowsOf(first)
        rows1 ++ (2 to math.min(total, maxPages)).flatMap { p =>
          val (u, ps) = urlFor(p)
          transport.get(u, ps).toSeq.flatMap(b => rowsOf(b)._2)
        }
    }
  }

  /** S9/C13 — OData `$filter` string builder (reference
    * `who_gho_api.py:112-122`): scalar → `k eq 'v'`, seq → `k in (...)`,
    * always prefixed with the non-null-value guard. This is the
    * source-side *filter pushdown* — the predicate ships to the server
    * instead of post-filtering rows. */
  def odataFilter(kwargs: Map[String, Any]): String = {
    def render(v: Any): String = v match {
      // OData escapes a single quote by doubling it
      case s: String => "'" + s.replace("'", "''") + "'"
      case other => other.toString
    }
    val parts = "NumericValue ne null" +: kwargs.toSeq.sortBy(_._1).map {
      case (k, vs: Seq[_]) => s"$k in (${vs.map(render).mkString(", ")})"
      case (k, v) => s"$k eq ${render(v)}"
    }
    parts.mkString(" and ")
  }

  /** S9 — OData scan: payload `{"value": [row, ...]}`. */
  def fetchOData(
      transport: Transport, url: String,
      filterKwargs: Map[String, Any]): Seq[String] =
    transport.get(url, Map("$filter" -> odataFilter(filterKwargs))).toSeq
      .flatMap { body =>
        JsonMethods.parse(body) \ "value" match {
          case JArray(rows) => rows.map(JsonMethods.compact)
          case _ => Nil
        }
      }

  /** S13 — nested-map payload (reference `imf_datamapper_api.py:73-112`):
    * `values[indicator][country] = {year: value}`, read once under a
    * declared 3-level MapType and exploded natively — all executor-side,
    * no driver loops over countries. */
  def nestedMapToDf(spark: SparkSession, payload: String): DataFrame =
    jsonToDf(spark, Seq(payload), Some(StructType.fromDDL(
      "values MAP<STRING, MAP<STRING, MAP<STRING, DOUBLE>>>")))
      .select(explode(col("values")).as(Seq("indicator_code", "by_country")))
      .select(col("indicator_code"),
        explode(col("by_country")).as(Seq("country_code", "by_year")))
      .select(col("indicator_code"), col("country_code"),
        explode(col("by_year")).as(Seq("year_str", "value")))
}

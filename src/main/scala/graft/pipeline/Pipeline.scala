package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Countries
import graft.storage.Storage
import graft.validate.Validation

/** Engine settings (reference `settings.py`): global year window and
  * HTTP timeout, environment-overridable. */
final case class Settings(
    yearMin: Int = 2005,
    yearMax: Int = 2030,
    httpTimeoutSeconds: Int = 30)

object Settings {
  def fromEnv(env: Map[String, String] = sys.env): Settings = Settings(
    yearMin = env.get("GRAFT_YEAR_MIN").map(_.toInt).getOrElse(2005),
    yearMax = env.get("GRAFT_YEAR_MAX").map(_.toInt).getOrElse(2030),
    httpTimeoutSeconds = env.get("GRAFT_TIMEOUT").map(_.toInt).getOrElse(30))
}

/** A source retriever (reference `BaseRetriever`, `_base.py:34-104`):
  * produces the raw frame — from storage, HTTP, or packaged data.
  * Lazy DataFrame out; any driver-side fetching happens inside. */
trait Retriever {
  def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame
}

/** A source transformer (reference `BaseTransformer`,
  * `_base.py:178-224`): source-specific reshaping to the canonical
  * observation layout. The chain around it (provider stamp → country
  * membership filter → validation) is fixed in [[Pipeline]]. */
trait Transformer {
  def transform(df: DataFrame): DataFrame
}

/** R→T→L pipeline (reference `_pipeline.py`).
  *
  * transform order (reference `_base.py:191-218` + `_pipeline.py:98-106`):
  * source transform → assign provider → M49 membership filter (a
  * predicate over the packaged ISO3 set, which the optimizer plans as
  * a hash-set `InSet` inside the generated code: no join, no broadcast
  * job, no hash relation) → validation (§2.12) → global year window.
  */
final case class Pipeline(
    provider: String,
    retriever: Retriever,
    transformer: Transformer,
    settings: Settings = Settings()) {

  def retrieve(spark: SparkSession, storage: Option[Storage] = None): DataFrame =
    retriever.retrieve(spark, storage)

  def transform(spark: SparkSession, raw: DataFrame): DataFrame = {
    val shaped = transformer.transform(raw)
      .withColumn("provider", lit(provider))
    // null and non-member codes drop, and no row is duplicated: the
    // semantics of a semi-join against the country table
    val member = shaped.filter(col("country_code").isin(Countries.iso3Set.toSeq.sorted: _*))
    val validated = Validation.validate(member, Validation.dataSchema)
    validated.filter(col("year").between(settings.yearMin, settings.yearMax))
  }

  /** Full R→T→L run; returns the validated frame (also written if a
    * storage is given — file name = provider, the reference's
    * name-keyed output contract). */
  def run(spark: SparkSession, storage: Option[Storage] = None): DataFrame = {
    val out = transform(spark, retrieve(spark, storage))
    storage.foreach(_.write(out, provider))
    out
  }
}

/** Pipeline registry (reference `pipelines/__init__.py:14-58`): the
  * provider name doubles as the output dataset name — naming is part
  * of the data contract. */
object Pipelines {
  private var registry: Map[String, Pipeline] = Map.empty

  def register(p: Pipeline): Unit = synchronized { registry += p.provider -> p }

  def list: Seq[String] = registry.keys.toSeq.sorted

  def get(name: String): Pipeline =
    registry.getOrElse(name, throw new NoSuchElementException(
      s"unknown pipeline '$name'; available: ${list.mkString(", ")}"))
}

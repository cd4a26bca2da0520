package graft.validate

import graft.SparkSuite
import graft.validate.Validation.{ValidationError, dataSchema, metadataSchema}

class ValidationSpec extends SparkSuite {
  import spark.implicits._

  private def good = Seq(
    ("p1", "GDP [X]", "AFG", 2019, 1.0, "src1", "Male"),
    ("p1", "GDP [X]", "NAM", 2020, 2.0, null, "Female"))
    .toDF("provider", "indicator_name", "country_code", "year",
      "value", "source", "dimension_sex")

  test("valid frame passes: columns aligned, dimension folded, extra dropped") {
    val out = Validation.validate(good.withColumn("extra",
      org.apache.spark.sql.functions.lit("drop me")), dataSchema)
    assert(out.columns.toSeq == Seq("provider", "indicator_name",
      "country_code", "year", "dimension", "value", "source"))
    val dims = out.select("dimension").collect().map(_.getString(0)).toSet
    assert(dims == Set("Male", "Female"))
  }

  test("missing non-nullable column fails; missing nullable is created") {
    val noSource = good.drop("source")
    val out = Validation.validate(noSource, dataSchema) // source nullable: ok
    assert(out.columns.contains("source"))
    val noValue = good.drop("value")
    val e = intercept[ValidationError](Validation.validate(noValue, dataSchema))
    assert(e.report.exists(_._1 == "value_not_null"))
  }

  test("coercion: string year casts; bad cast becomes null then fails not-null") {
    val df = Seq(("p1", "GDP [X]", "AFG", "2019", 1.0, null: String),
      ("p1", "GDP [X]", "NAM", "not a year", 2.0, null: String))
      .toDF("provider", "indicator_name", "country_code", "year", "value", "source")
    val e = intercept[ValidationError](Validation.validate(df, dataSchema))
    assert(e.report.exists(_._1 == "year_not_null"))
  }

  test("field checks: bad country code and out-of-range year are reported with counts") {
    val df = Seq(
      ("p1", "GDP [X]", "afg", 2019, 1.0, null: String),
      ("p1", "GDP [X]", "WLD2", 1234, 2.0, null: String))
      .toDF("provider", "indicator_name", "country_code", "year", "value", "source")
    val e = intercept[ValidationError](Validation.validate(df, dataSchema))
    val names = e.report.map(_._1).toSet
    assert(names.contains("country_code_iso3"))
    assert(names.contains("year_1900_2100"))
  }

  test("composite-key uniqueness violation fails") {
    val dup = good.union(good)
    val e = intercept[ValidationError](Validation.validate(dup, dataSchema))
    assert(e.report.exists(_._1.startsWith("unique_")))
  }

  test("report: each rule's violation rows and the duplicate key groups, in rule order") {
    val row = (c: String, y: Int) => ("p1", "GDP [X]", c, y, 1.0, null: String)
    val df = (Seq.fill(3)(row("afg", 2019)) ++ Seq.fill(2)(row("NAM", 2020)) :+ row("AFG", 2021))
      .toDF("provider", "indicator_name", "country_code", "year", "value", "source")
    val e = intercept[ValidationError](Validation.validate(df, dataSchema))
    assert(e.report == Seq("country_code_iso3" -> 3L,
      s"unique_${graft.core.Model.observationKey.mkString("_")}" -> 2L))
    // without a key there is no uniqueness rule
    val keyless = dataSchema.copy(uniqueKey = Nil)
    val e2 = intercept[ValidationError](Validation.validate(df, keyless))
    assert(e2.report == Seq("country_code_iso3" -> 3L))
    assert(Validation.validate(good.union(good), keyless).count() == 4)
  }

  test("metadata schema: strip parser + nullable unit") {
    val df = Seq((" X1 ", "  Name one ", null: String)).toDF("code", "name", "unit")
    val out = Validation.validate(df, metadataSchema).collect()(0)
    assert(out.getString(0) == "X1")
    assert(out.getString(1) == "Name one")
    assert(out.isNullAt(2))
  }
}

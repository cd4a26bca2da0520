package graft.expr

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.SparkSuite

class ExprsSpec extends SparkSuite {
  import spark.implicits._

  test("selectRenamed keeps order, creates missing as typed null, drops extras") {
    val df = Seq(("a", 1, "junk")).toDF("x", "y", "z")
    val out = Exprs.selectRenamed(df,
      Seq("x" -> "col1", "missing" -> "col2", "y" -> "col3"), DoubleType)
    assert(out.columns.toSeq == Seq("col1", "col2", "col3"))
    assert(out.schema("col2").dataType == DoubleType)
    assert(out.collect()(0).toSeq == Seq("a", null, 1))
  }

  test("toSnakeCase: trim, lower, collapse whitespace, prefix/suffix") {
    val df = Seq("  Fossil fuel\t ENERGY  ").toDF("s")
    val got = df.select(
      Exprs.toSnakeCase($"s"),
      Exprs.toSnakeCase($"s", prefix = "dim_"),
      Exprs.toSnakeCase($"s", suffix = "_x")).collect()(0)
    assert(got.getString(0) == "fossil_fuel_energy")
    assert(got.getString(1) == "dim_fossil_fuel_energy")
    assert(got.getString(2) == "fossil_fuel_energy_x")
    assert(Exprs.snakeCaseName(" Fossil fuel ENERGY ") == "fossil_fuel_energy")
  }

  test("foldDimensions: null-drop, total→All, empty→Total, order and underscores") {
    import Exprs.Dim
    val df = Seq(1).toDF("i").select(
      Exprs.foldDimensions(Seq(
        Dim(lit("sex"), lit("Female")),
        Dim(lit("age_group"), lit("TOTAL")),
        Dim(lit("edu"), lit(null).cast("string")))).as("d1"),
      Exprs.foldDimensions(
        Seq(Dim(lit("a"), lit(null).cast("string")))).as("d2"))
    val r = df.collect()(0)
    assert(r.getString(0) == "Female; All age group")
    assert(r.getString(1) == "Total")
  }

  test("combineDimensions: dimension_* columns fold; none → Total; existing dimension wins") {
    val df = Seq(("AFG", "Male", "15+")).toDF("c", "dimension_sex", "dimension_age")
    val out = Exprs.combineDimensions(df)
    assert(out.columns.toSeq == Seq("c", "dimension"))
    assert(out.collect()(0).getString(1) == "Male; 15+")

    val none = Exprs.combineDimensions(Seq("x").toDF("c"))
    assert(none.collect()(0).getString(1) == "Total")

    val existing = Seq(("x", "Kept")).toDF("c", "dimension")
    assert(Exprs.combineDimensions(existing).collect()(0).getString(1) == "Kept")
  }

  test("boundedNumeric strips bound markers and coerces failures to null") {
    val df = Seq("<2.5", ">99", ">95%", "7.25", "n/a").toDF("v")
    val got = df.select(Exprs.boundedNumeric($"v")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getDouble(0))
    assert(got.toSeq == Seq(2.5, 99.0, 95.0, 7.25, null))
  }

  test("containsOrNull keeps nulls (F5 na=True semantics)") {
    val df = Seq(Some("X_AGGREGATE_Y"), Some("plain"), None).toDF("v")
    val kept = df.filter(Exprs.containsOrNull($"v", "AGGREGATE")).collect()
    assert(kept.length == 2)
  }

  test("exactSum is reproducible across partitionings") {
    val vals = (1 to 10000).map(i => (i % 7, i * 0.01))
    val a = vals.toDF("k", "v").repartition(1)
      .groupBy($"k").agg(Exprs.exactSum($"v").as("s"))
    val b = vals.toDF("k", "v").repartition(97)
      .groupBy($"k").agg(Exprs.exactSum($"v").as("s"))
    assert(rowsOf(a) == rowsOf(b))
  }
}

package graft.expr

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.expressions.{EqualTo, HigherOrderFunction, Lower, JsonToStructs, StructsToJson}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSuite
import graft.sources.JsonSources
import graft.transform.{ODataObservationsTransformer, UnstatsSdgApiTransformer}

/** [[Exprs.foldDimensions]] against the lambda-function fold it
  * replaced, kept here as the oracle: a `map` with Python-dict duplicate
  * semantics (`mapLastWins`) rendered by `resolveDimensions`, and, for
  * the SDG API, the `to_json`/`from_json` round trip that fed it. */
class DimensionFoldParitySpec extends SparkSuite {
  import Exprs.Dim

  // ---- the oracle: the former lambda-function fold ----

  private def resolveDimensions(dims: Column): Column = {
    val cleaned = map_filter(dims, (_, v) => v.isNotNull)
    val parts = transform(
      map_entries(cleaned),
      e => {
        val name = regexp_replace(e.getField("key"), "_", " ")
        val value = e.getField("value")
        when(lower(value) === "total", concat(lit("All "), name))
          .otherwise(value)
      })
    when(size(parts) === 0, lit("Total"))
      .otherwise(array_join(parts, "; "))
  }

  private def mapLastWins(entries: Column): Column = {
    val lastValued = transform(entries, e =>
      struct(
        e.getField("key").as("key"),
        element_at(
          filter(entries, e2 => e2.getField("key") === e.getField("key")), -1)
          .getField("value").as("value")))
    map_from_entries(filter(lastValued, (e, i) =>
      !exists(slice(entries, lit(1), i),
        prior => prior.getField("key") === e.getField("key"))))
  }

  /** The oracle over an entry list: the present entries, in order. */
  private def oracle(dims: Seq[Dim]): Column = {
    val entries = array(dims.map(d =>
      struct(d.key.as("key"), d.value.as("value"), d.present.as("present"))): _*)
    resolveDimensions(mapLastWins(transform(filter(entries, _.getField("present")),
      e => struct(e.getField("key").as("key"), e.getField("value").as("value")))))
  }

  /** The former WHO GHO `Dim1..Dim3` fold. */
  private def whoOracle(dims: Int): Column = resolveDimensions(mapLastWins(array(
    (1 to dims).map { i =>
      val t = col(s"Dim${i}Type")
      val v = col(s"Dim$i")
      val pattern = concat(lit("^"),
        regexp_replace(t, "([^A-Za-z0-9])", "\\\\$1"), lit("_"))
      struct(
        coalesce(lower(t), lit(s"__absent$i")).as("key"),
        when(t.isNotNull && v.isNotNull,
          regexp_replace(v, pattern, lit(""))).otherwise(lit(null)).as("value"))
    }: _*)))

  /** The former SDG API fold: the struct re-read as a map through JSON. */
  private val sdgOracle: Column = {
    val rawMap = from_json(to_json(col("dimensions")), MapType(StringType, StringType))
    resolveDimensions(mapLastWins(transform(map_entries(rawMap), e =>
      struct(
        regexp_replace(lower(trim(e.getField("key"))), "\\s+", "_").as("key"),
        e.getField("value").as("value")))))
  }

  /** Every row's fold beside the oracle's, over one action. */
  private def assertParity(df: DataFrame, fold: Column, want: Column): Unit = {
    val rows = df.select(fold.as("got"), want.as("want"), struct(df.columns.map(col): _*))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"on ${r.getStruct(2)}")
    }
  }

  private val values = Seq("Female", "TOTAL", "total", "Total ", "15_24", "x y", "", null)

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** `n` rows of `slots` entries: key, value and presence per entry. */
  private def entryRows(seed: Long, n: Int, slots: Int, keys: Seq[String]): DataFrame = {
    val r = new Random(seed)
    val schema = StructType((0 until slots).flatMap(i => Seq(
      StructField(s"k$i", StringType), StructField(s"v$i", StringType),
      StructField(s"p$i", BooleanType))))
    val rows = (0 until n).map(_ => Row.fromSeq((0 until slots).flatMap(_ =>
      Seq(pick(r, keys), pick(r, values), r.nextInt(4) != 0))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("runtime keys: duplicates, nulls, totals and underscores fold as the oracle does") {
    val keys = Seq("sex", "age_group", "Age", "sex", "edu_level")
    val df = entryRows(7L, 400, 6, keys)
    val dims = (0 until 6).map(i => Dim(col(s"k$i"), col(s"v$i"), col(s"p$i")))
    assertParity(df, Exprs.foldDimensions(dims), oracle(dims))
  }

  test("literal keys fold as the oracle does, and fold away at plan time") {
    val r = new Random(11L)
    val pool = Seq("sex", "age_group", "Age", "edu_level", "reporting_type")
    (1 to 12).foreach { round =>
      val slots = 1 + r.nextInt(6)
      val keys = Seq.fill(slots)(pick(r, pool))
      val df = entryRows(100L + round, 60, slots, Seq("unused"))
      val dims = keys.zipWithIndex.map { case (k, i) => Dim(lit(k), col(s"v$i"), col(s"p$i")) }
      assertParity(df, Exprs.foldDimensions(dims), oracle(dims))
      // no key comparison survives the optimizer, only the "total" tests
      val cmp = df.select(Exprs.foldDimensions(dims)).queryExecution.optimizedPlan
        .expressions.flatMap(_.collect {
          case e @ EqualTo(l, _) if !l.isInstanceOf[Lower] => e
        })
      assert(cmp.isEmpty, s"keys $keys")
    }
  }

  test("combineDimensions folds dimension_* columns as the map-based fold did") {
    val r = new Random(5L)
    val names = Seq("dimension_sex", "dimension_age_group", "dimension_Unit")
    val rows = (0 until 200).map(_ => Row.fromSeq(Seq.fill(3)(pick(r, values))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(names.map(StructField(_, StringType))))
    val old = resolveDimensions(map(names.flatMap(c =>
      Seq(lit(c.stripPrefix("dimension_")), col(c))): _*))
    val got = Exprs.combineDimensions(df.withColumn("want", old))
    got.collect().foreach(r => assert(r.getString(1) == r.getString(0), r))
  }

  test("WHO GHO Dim1..Dim3: same-type slots, a typed slot with a null value, prefix strips") {
    val r = new Random(3L)
    val types = Seq("SEX", "AGE", "sex", "AGE(GROUP)", null)
    val vals = Seq("SEX_MLE", "SEX_TOTAL", "AGE_Y15_24", "AGE(GROUP)_Y0", "TOTAL", "MLE", null)
    val names = (1 to 3).flatMap(i => Seq(s"Dim$i", s"Dim${i}Type"))
    val rows = (0 until 400).map(_ => Row.fromSeq(Seq.fill(3)(Seq(pick(r, vals), pick(r, types))).flatten)) ++
      Seq(Row("SEX_MLE", "SEX", null, "SEX", null, null), // last value null: the key drops
        Row(null, "SEX", "AGE_Y0", "AGE", "SEX_FMLE", "SEX")) // sex keeps the first position
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(names.map(StructField(_, StringType))))
    assertParity(df, ODataObservationsTransformer().dimension, whoOracle(3))
    val pinned = df.select(ODataObservationsTransformer().dimension).collect().takeRight(2)
    assert(pinned.map(_.getString(0)).toSeq == Seq("Total", "FMLE; Y0"))
  }

  test("SDG dimensions: presence decides position, colliding keys, non-string values") {
    val r = new Random(9L)
    def field(k: String, v: String) = Option(v).map(x => s""""$k":$x""")
    val rows = (0 until 300).map { _ =>
      Seq(
        field("Age Group", pick(r, Seq("\"ALLAGE\"", "\"TOTAL\"", "null", null))),
        field("age  group", pick(r, Seq("\"15-24\"", "\"a_b\"", null))),
        field("Sex", pick(r, Seq("\"FEMALE\"", "\"total\"", "null", null))),
        field("sex", pick(r, Seq("\"M\"", null, null))),
        field("Reporting_Type", pick(r, Seq("\"G\"", null))),
        field("Level", pick(r, Seq("3", "-12", null))),
        field("Ratio", pick(r, Seq("0.5", "1.0E10", "2.25e-7", "123456.789", null))),
        field("Flag", pick(r, Seq("true", "false", null))),
        field("Extra", pick(r, Seq("""{"a":1,"b":"x"}""", """{"a":null}""", null))),
        field("Codes", pick(r, Seq("""[1,2]""", "[]", null))))
        .flatten.mkString("""{"dimensions":{""", ",", "}}")
    } ++ Seq(
      """{"dimensions":{"Age Group":null,"age  group":"15-24","Sex":"MALE"}}""",
      """{"dimensions":{"Sex":"MALE","sex":"F","Age Group":"TOTAL"}}""",
      """{"dimensions":null}""")
    val df = JsonSources.jsonToDf(spark, rows)
    assertParity(df, UnstatsSdgApiTransformer.dimension(df.schema), sdgOracle)
    val pinned = df.select(UnstatsSdgApiTransformer.dimension(df.schema)).collect().takeRight(3)
    assert(pinned(0).getString(0) == "MALE; 15-24")
    // "Sex" and "sex" are two fields that snake-case to one key
    assert(pinned(1).getString(0) == "All age group; F")
    assert(pinned(2).isNullAt(0))
  }

  test("a 20-key SDG struct folds inside whole-stage codegen, with no lambda function or JSON") {
    val r = new Random(20L)
    val rows = (0 until 200).map { _ =>
      (0 until 20).flatMap(k => pick(r, Seq(Some(s""""Key $k":"V${r.nextInt(3)}""""),
        Some(s""""Key $k":"TOTAL""""), None))).mkString("""{"dimensions":{""", ",", "}}")
    }
    val df = JsonSources.jsonToDf(spark, rows)
    assert(df.schema("dimensions").dataType.asInstanceOf[StructType].size == 20)
    val fold = UnstatsSdgApiTransformer.dimension(df.schema)
    assertParity(df, fold, sdgOracle)
    val out = df.select(fold.as("dimension"))
    val lambdas = out.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case e @ (_: HigherOrderFunction | _: JsonToStructs | _: StructsToJson) => e
    })
    assert(lambdas.isEmpty, lambdas)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.exists(_.isInstanceOf[ProjectExec])), plan.treeString)
    // the generated method stays under the size past which Spark falls
    // back to interpreting the stage
    stages.foreach { w =>
      val (_, code) = w.doCodeGen()
      val stats = CodeGenerator.compile(code)._2
      assert(stats.maxMethodCodeSize <= spark.conf.get("spark.sql.codegen.hugeMethodLimit").toInt)
    }
  }
}

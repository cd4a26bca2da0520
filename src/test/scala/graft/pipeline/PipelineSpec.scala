package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, JsonToStructs, StructsToJson}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import graft.SparkSuite
import graft.core.Metrics
import graft.storage.{LocalStorage, Storage}
import graft.transform.WideYearColumnsTransformer

class PipelineSpec extends SparkSuite with ReferenceFixtures {
  import spark.implicits._

  private def wideFixture = Seq(
    ("AFG", "GDP (current US$)", "NY.GDP", "1.5", "2.5"),
    ("NAM", "GDP (current US$)", "NY.GDP", "3.5", null),
    ("WLD", "GDP (current US$)", "NY.GDP", "9.9", "9.9")) // aggregate row: filtered
    .toDF("Country Code", "Indicator Name", "Indicator Code", "2019", "2020")

  private case class FixtureRetriever(df: DataFrame) extends Retriever {
    override def retrieve(spark: SparkSession, storage: Option[Storage]): DataFrame = df
  }

  /** Every node of a physical plan, through adaptive stages and caches. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => other.children.flatMap(nodes)
  })

  test("full pipeline: transform → provider → membership filter → validate → year window → write") {
    val tmp = Files.createTempDirectory("graft-pipe").toString
    val storage = LocalStorage(tmp)
    val p = Pipeline("wdi_fixture", FixtureRetriever(wideFixture),
      WideYearColumnsTransformer())
    val out = p.run(spark, Some(storage))
    val rows = out.orderBy("country_code", "year").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(
      Seq("wdi_fixture", "GDP (current US$) [NY.GDP]", "AFG", 2019, "Total", 1.5, null),
      Seq("wdi_fixture", "GDP (current US$) [NY.GDP]", "AFG", 2020, "Total", 2.5, null),
      Seq("wdi_fixture", "GDP (current US$) [NY.GDP]", "NAM", 2019, "Total", 3.5, null)))
    // the WLD aggregate row did not survive the membership filter
    assert(!rows.exists(_.contains("WLD")))
    // versioned write landed under v{stamp}/{provider}.parquet
    val written = storage.readName(spark, "wdi_fixture")
    assert(written.count() == 3)
    assert(storage.pathFor("wdi_fixture").contains(storage.version))
  }

  test("membership filter keeps exactly the member rows, with no broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val long = Seq[(String, String, Int, Double)](
      ("AFG", "GDP", 2019, 1.0), ("AFG", "GDP", 2020, 2.0), ("NAM", "GDP", 2019, 3.0),
      (null, "GDP", 2019, 4.0), ("", "GDP", 2019, 5.0), ("WLD", "GDP", 2019, 6.0))
      .toDF("country_code", "indicator_name", "year", "value")
    val p = Pipeline("member_fixture", FixtureRetriever(long), new Transformer {
      def transform(df: DataFrame): DataFrame = df
    })
    val out = p.transform(spark, long)
    assert(out.select("country_code", "year").as[(String, Int)].collect().sorted.toSeq ==
      Seq(("AFG", 2019), ("AFG", 2020), ("NAM", 2019)))
    // every plan the transform ran, the validation cache's included
    val broadcasts = nodes(out.queryExecution.executedPlan)
      .collect { case b: BroadcastExchangeLike => b }
    assert(broadcasts.isEmpty, out.queryExecution.executedPlan.treeString)
  }

  test("plan audit: the fan-in folds in generated code; World Bank and WHO retrieve runs no job") {
    val fanIn = referenceFixtures :+
      Pipeline("wdi_fixture", FixtureRetriever(wideFixture), WideYearColumnsTransformer())
    // the optimized plan, and the plan of every cache it reads
    def expressions(df: DataFrame): Seq[Expression] =
      df.queryExecution.optimizedPlan.collect {
        case m: InMemoryRelation => nodes(m.cachedPlan).flatMap(_.expressions)
        case p => p.expressions
      }.flatten
    val m = Metrics.attach(sc)
    try fanIn.foreach { p =>
      val t0 = m.snapshot()
      val raw = p.retrieve(spark, Some(storage))
      val jobs = (m.snapshot() - t0).total.jobs
      if (Set("world_bank_api", "who_gho_api")(p.provider)) assert(jobs == 0, p.provider)
      val found = expressions(p.transform(spark, raw)).flatMap(_.collect {
        case e @ (_: HigherOrderFunction | _: JsonToStructs | _: StructsToJson) => e.prettyName
      })
      assert(found.isEmpty, s"${p.provider}: ${found.mkString(", ")}")
    } finally sc.removeSparkListener(m)
    assert(fanIn.map(_.provider).distinct.size == 13)
  }

  test("registry: register/list/get + unknown name error") {
    val p = Pipeline("reg_fixture", FixtureRetriever(wideFixture),
      WideYearColumnsTransformer())
    Pipelines.register(p)
    assert(Pipelines.list.contains("reg_fixture"))
    assert(Pipelines.get("reg_fixture") == p)
    intercept[NoSuchElementException](Pipelines.get("nope"))
  }

  test("settings read from env map") {
    val s = Settings.fromEnv(Map("GRAFT_YEAR_MIN" -> "1990"))
    assert(s.yearMin == 1990 && s.yearMax == 2030)
  }
}

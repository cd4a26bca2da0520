package graft.core

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Contract of [[Lineage.cut]] — the round-11 replacement for the
  * `createDataFrame(df.rdd, df.schema)` lineage cut at every iterative
  * operator site: identical rows and schema and a truncated
  * (leaf-sized) logical plan. A partitioning a loop input must keep
  * comes from persisting its repartition, not from the cut. */
class LineageSpec extends SparkSuite {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  /** Count NEW shuffles a plan would run — descends through the AQE
    * wrapper (a leaf to `collect`) but not into already-materialized
    * InMemoryRelations (their build shuffle already ran). */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case e: ShuffleExchangeLike => 1 + e.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("cut preserves rows, schema, and determinism") {
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("t"))
    val cut = Lineage.cut(df)
    assert(cut.schema === df.schema)
    assert(rowsOf(cut) === rowsOf(df))
    // a second action over the same cut frame re-executes identically
    assert(rowsOf(cut) === rowsOf(df))
  }

  test("cut truncates the logical plan to a leaf") {
    var df = spark.range(100).select(col("id"), (col("id") % 5).as("k"))
    // simulate an iterative loop: without a cut this nests 6 self-joins
    (1 to 6).foreach { _ =>
      df = Lineage.cut(
        df.groupBy("k").agg(max("id").as("id"))
          .select(col("id"), (col("id") % 5).as("k")))
    }
    // the analyzed plan of a cut frame is a single leaf (LogicalRDD)
    assert(df.queryExecution.analyzed.children.isEmpty,
      df.queryExecution.analyzed.treeString)
  }

  test("persisted repartition keeps its partitioning: no Exchange for the agg") {
    // The partitioning-preserving pattern for hot loop inputs (Logit's
    // feature table): persist the repartitioned frame — cached plans
    // keep their output partitioning (AQE does not re-plan them unless
    // canChangeCachedPlanOutputPartitioning is flipped), so every
    // round's groupBy/join on the key plans zero new Exchanges.
    OpCache.releaseAll(blocking = true)
    val base = spark.range(2000)
      .select(col("id").as("doc_id"), (col("id") % 13).as("x"))
    val uncut = spark.createDataFrame(
      base.repartition(4, col("doc_id")).rdd,
      base.schema)
    val part = OpCache.persist(base.repartition(4, col("doc_id")))
    try {
      part.count() // materialize the cache
      // the old RDD cut forgets the repartition: aggregate re-shuffles
      val aggUncut = uncut.groupBy("doc_id").agg(sum("x"))
      val aggPart = part.groupBy("doc_id").agg(sum("x"))
      assert(shuffles(aggUncut) === 1, aggUncut.queryExecution.executedPlan)
      assert(shuffles(aggPart) === 0, aggPart.queryExecution.executedPlan)
      assert(rowsOf(aggPart) === rowsOf(aggUncut))
    } finally OpCache.releaseAll(blocking = true)
  }

  test("cut frames persist and release through OpCache like any frame") {
    OpCache.releaseAll(blocking = true)
    val cut = OpCache.persist(
      Lineage.cut(spark.range(100).select(col("id"), (col("id") * 2).as("d"))))
    assert(cut.count() === 100)
    assert(OpCache.liveCount >= 1)
    OpCache.releaseAll(blocking = true)
    assert(OpCache.liveCount === 0)
    // still recomputable after release
    assert(cut.count() === 100)
  }
}

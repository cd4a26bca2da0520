package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Lineage truncation without the external-row round trip.
  *
  * The engine's iterative operators (CC label rounds, GD rounds, Lloyd
  * rounds, per-micro-batch state) must cut their logical plans each
  * round or Catalyst re-analyzes a tree that doubles per iteration
  * (see Dedup.connectedComponents). The original cut —
  * `spark.createDataFrame(df.rdd, df.schema)` — pays two full codec
  * passes per row (`df.rdd` decodes InternalRow → external Row objects
  * with per-field boxing; `createDataFrame` immediately encodes them
  * back).
  *
  * This helper is the cut `Dataset.checkpoint` itself uses internally
  * (public Spark API surface, `LogicalRDD.fromDataset`): wrap the
  * plan's OWN InternalRow RDD in a LogicalRDD leaf. No row conversion
  * happens at all. The leaf keeps the plan's statistics and
  * constraints but reports no output partitioning or ordering:
  * `fromDataset` carries them only from a final (non-AQE) physical
  * plan, which no cut of the registry's 263 queries planned (AQE on),
  * and a carried partitioning on a leaf that is later self-joined and
  * unioned failed Catalyst's union constraint rewrite (Spark 4.1,
  * NoSuchElementException, NN-Descent rounds). Callers that need a
  * partitioning-stable loop input use the cached-plan pattern
  * (`OpCache.persist(df.repartition(key))` — cached plans keep their
  * partitioning; see LineageSpec).
  *
  * The RDD is the lazy `queryExecution.toRdd` — same laziness contract
  * as the `df.rdd` cut: nothing materializes until an action, and a
  * multiply-consumed cut frame should be persisted (OpCache) exactly
  * as before. Rows flowing out of the leaf go through RDDScanExec's
  * UnsafeProjection like any scan, so downstream buffering operators
  * see the standard reuse contract.
  *
  * Lives under `org.apache.spark.sql` because `LogicalRDD`,
  * `Dataset.ofRows`, session cloning and the cache manager are
  * `private[sql]` — the standard extension-point packaging for
  * Catalyst-adjacent helpers. The session and cache helpers below
  * serve [[graft.core.Iterate]].
  */
object FastCut {

  private def classic(df: DataFrame): ClassicDataset[Row] =
    df.asInstanceOf[ClassicDataset[Row]]

  /** `df` with its logical plan replaced by a LogicalRDD leaf over the
    * plan's own InternalRow RDD — analysis-cost O(1). The leaf has
    * unknown partitioning (see the object doc). */
  def cut(df: DataFrame): DataFrame = {
    val ds = classic(df)
    val spark = ds.sparkSession
    val rdd = ds.queryExecution.toRdd
    val leaf = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    ClassicDataset.ofRows(spark, LogicalRDD(leaf.output, rdd)(
      spark, Some(leaf.computeStats()), Some(leaf.constraints)))
  }

  /** A private clone of `spark` with adaptive execution off (`spark`
    * itself when it is already off). Plans are prepared under the conf
    * of their own session, so frames re-bound here plan statically
    * while `spark` — and every query running in it — stays adaptive. */
  def withoutAqe(spark: SparkSession): SparkSession =
    ClassicSession.getOrCloneSessionWithConfigsOff(
      spark.asInstanceOf[ClassicSession], Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED))

  /** `df`'s plan as a frame of `spark` (the identity when it already is
    * one). Cached subtrees still hit: the cache manager is shared. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], classic(df).logicalPlan)

  /** Whether `df` is persisted and every partition of its cache is
    * filled. */
  def materialized(df: DataFrame): Boolean =
    classic(df).sparkSession.sharedState.cacheManager.lookupCachedData(classic(df))
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  /** How many times `df`'s plan reads `state`'s (a hint over the state
    * is the same read: hints drop out of canonical plans). */
  def reads(df: DataFrame, state: DataFrame): Int = {
    val s = classic(state).logicalPlan
    def in(p: LogicalPlan): Int =
      if (p.sameResult(s)) 1 else p.children.map(in).sum
    in(classic(df).logicalPlan)
  }

  /** Node count of `df`'s plan with each cached subtree counted as the
    * one scan it plans to, and a repeated subtree counted every time it
    * occurs — the tree a plan that reads `df` re-plans on every action.
    * Leaves `df`'s own cache substitution unforced, so a later persist
    * of `df` still serves `df`'s own actions. */
  def planSize(df: DataFrame): Int = {
    val ds = classic(df)
    var n = 0
    ds.sparkSession.sharedState.cacheManager
      .useCachedData(ds.queryExecution.analyzed).foreach(_ => n += 1)
    n
  }
}

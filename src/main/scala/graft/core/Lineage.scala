package graft.core

import org.apache.spark.sql.DataFrame

/** Engine-side entry point for lineage truncation — see
  * [[org.apache.spark.sql.graft.FastCut]] for the mechanism and why it
  * replaces `createDataFrame(df.rdd, df.schema)` at every iterative
  * cut site (no external-row codec).
  */
object Lineage {

  /** Truncate `df`'s logical plan to a leaf over its own InternalRow
    * RDD. Lazy (nothing runs until an action); persist the result via
    * [[OpCache]] when it is consumed more than once. */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.FastCut.cut(df)
}

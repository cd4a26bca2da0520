package graft.core

import org.apache.spark.sql.SparkSession

/** Job labeling (optimization-guide §1.5): every multi-action operator
  * phase sets a thread-local job description so the Spark UI — and
  * [[Metrics]]' per-phase counts (Bench's `phases` map) — attribute
  * each scheduled job to the operator phase that submitted it, instead
  * of the outermost call site (inside foreachBatch every job otherwise
  * reports the lambda line). Descriptions are inherited by AQE's per-stage
  * materialization jobs (submitted via SQLExecution's captured thread
  * locals), which is exactly what makes an AQE-heavy phase's job fan
  * visible. Restores the previous description, so nested scopes
  * compose. */
object Jobs {
  def described[A](spark: SparkSession, label: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f
    finally sc.setJobDescription(prev)
  }
}

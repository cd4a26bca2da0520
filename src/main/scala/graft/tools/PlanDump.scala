package graft.tools

import graft.queries.Registry

/** Dump `explain("formatted")` for registry queries to files — the
  * before/after plan evidence for optimization rounds.
  *
  * sbt -batch "runMain graft.tools.PlanDump <outDir> <suffix> q1,q2,..."
  *
  * Writes <outDir>/<query>_<suffix>.txt. Streaming (qst) queries
  * execute on construction; for those the dump is the final returned
  * frame's plan (the read-back), which is why optimization evidence
  * for them lives in operator-level plans instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val selected = Registry.select(args(2))
    val spark = graft.SparkEntry.localSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { q =>
      graft.core.OpCache.releaseAll()
      spark.catalog.clearCache()
      val df = q.run(spark, "/root/testdata/sf0.1")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${q.name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${q.name}_$suffix.txt")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

/** Sweep PQ codebook-training configurations and report the mean /
  * p10 cosine fidelity of the reconstruction (qs37's metric) per
  * (centroidStride, iters) point — the measurement that justifies the
  * production training recipe. Compression is CONSTANT across the
  * sweep (nSub byte codes per vector; maxCentroids caps K at 256, one
  * byte per code) — only training quality moves.
  *
  * sbt -batch "runMain graft.tools.PqSweep [sfDir]"
  */
object PqSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = graft.SparkEntry.localSession()
    val em = Tables.load(spark, sfDir, "embeddings")
    for ((stride, iters) <- Seq((40, 1), (40, 3), (10, 1), (10, 3),
        (5, 3), (2, 1), (2, 2), (2, 3))) {
      val t0 = System.nanoTime()
      val fid = Similarity.pqDistortionReport(
          em, "vec_id", "embedding", nSub = 8, dim = 64,
          centroidStride = stride, iters = iters)
        .agg(avg(col("fidelity")).as("mean_fid"),
          expr("percentile_approx(fidelity, 0.1)").as("p10_fid"))
        .collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      graft.core.OpCache.releaseAll()
      println(f"""{"metric":"pq_fidelity","stride":$stride,"iters":$iters,"mean":${fid.getDouble(0)}%.4f,"p10":${fid.getDouble(1)}%.4f,"sec":$sec%.1f}""")
    }
    spark.stop()
  }
}

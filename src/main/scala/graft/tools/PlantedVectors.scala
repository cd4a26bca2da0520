package graft.tools

/** Structure-bearing embeddings fixture (the round-10 verdict's
  * Missing #4): every ANN recall/fidelity number so far was measured
  * on deliberately structure-free synthetic vectors — pessimistic for
  * cluster-probing indexes (IVF) and, separately, the WRONG corpus to
  * test OPQ on (its per-dim variance is already uniform, so a learned
  * rotation has nothing to reallocate). This tool stages a PLANTED
  * fixture with the two properties a real learned embedder has:
  *
  *  - CLUSTER STRUCTURE: 16 planted centroids; vector `id` belongs to
  *    cluster `id mod 16` (also its `label`), at centroid + bounded
  *    noise;
  *  - ANISOTROPIC SPECTRUM: dim j scales by exp(−j/16) before the
  *    unit-L2 normalize, so per-dim energy decays ~2 700 : 1 across
  *    the 64 dims (a typical embedder's λ₁/λ₆₄ ≫ 10), giving an
  *    OPQ-style rotation something to reallocate if it ever helps.
  *
  * Every value is a pure formula over (vec_id, dim) via splitmix64 —
  * replayable by any engine, no RNG state: centroid component
  * cen(c, j) and noise nz(id, j) are uniform in [−1, 1),
  * raw = (cen(id mod 16, j) + 0.25·nz(id, j)) · exp(−j/16), and the
  * stored vector is raw / ‖raw‖₂ as float. Row counts match the
  * source embeddings table so curves are comparable scale-for-scale.
  *
  * Output: /tmp/graft_planted_{sf}/embeddings.parquet with the SAME
  * schema as the testdata table (vec_id BIGINT, embedding FLOAT[],
  * label INT) — AnnRecall / PqSweep / the qs34 datasheet run on it by
  * passing the planted dir as sfDir.
  *
  * sbt -batch "runMain graft.tools.PlantedVectors"
  */
object PlantedVectors {

  val Dim = 64
  val Clusters = 16
  val NoiseAmp = 0.25

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Deterministic uniform in [-1, 1) from a 64-bit key. */
  def u(key: Long): Double =
    (splitmix64(key) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0

  /** The planted vector for `id`: formulas only, unit L2, float. */
  def vector(id: Long): Array[Float] = {
    val c = (id % Clusters + Clusters) % Clusters
    val raw = new Array[Double](Dim)
    var j = 0
    var norm2 = 0.0
    while (j < Dim) {
      val cen = u(c * Dim + j)            // centroid component
      val nz = u((id + 1) * 131071L + j)  // per-vector noise
      val v = (cen + NoiseAmp * nz) * math.exp(-j / 16.0)
      raw(j) = v
      norm2 += v * v
      j += 1
    }
    val inv = 1.0 / math.sqrt(norm2)
    Array.tabulate(Dim)(j => (raw(j) * inv).toFloat)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession()
    import spark.implicits._
    Seq("sf0.01", "sf0.1").foreach { sf =>
      val n = graft.core.Tables
        .load(spark, s"/root/testdata/$sf", "embeddings").count()
      val out = s"/tmp/graft_planted_$sf"
      spark.range(n)
        .map { id => (id, vector(id), (id % Clusters).toInt) }
        .toDF("vec_id", "embedding", "label")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"""{"metric":"planted_fixture","sf":"$sf","n":$n,"dir":"$out"}""")
    }
    spark.stop()
  }
}

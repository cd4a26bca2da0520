package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

/** Measure IVF-flat recall against the exact brute-force baseline:
  * recall@k = |IVF top-k ∩ exact top-k| / (n·k). The accuracy/cost
  * dial of the ANN scale path, measured instead of guessed.
  *
  * sbt -batch "runMain graft.tools.AnnRecall [sfDir] [k] [stride]"
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val k = if (args.length > 1) args(1).toInt else 5
    val stride = if (args.length > 2) args(2).toInt else 40
    val nProbe = if (args.length > 3) args(3).toInt else 4 // library default
    val spark = graft.SparkEntry.localSession()
    val em = Tables.load(spark, sfDir, "embeddings")
    val exact = Similarity.bruteForceTopK(em, "vec_id", "embedding", k)
      .select(col("vec_id"), col("nbr_id"))
    val ivf = Similarity.ivfTopK(em, "vec_id", "embedding", k, stride, nProbe)
      .select(col("vec_id"), col("nbr_id"))
    val n = em.count()
    val hit = exact.intersect(ivf).count()
    val recall = hit.toDouble / (n * k)
    println(f"""{"metric":"ann_recall@$k","value":$recall%.4f,"n":$n,"stride":$stride,"nprobe":$nProbe,"sf":"$sfDir"}""")
    // same probe budget over the k-means-TRAINED quantizer: the recall
    // delta is the measured value of the Lloyd rounds
    val trained = Similarity.kmeansIvfIndex(em, "vec_id", "embedding", stride, 2)
    val ivfT = Similarity.ivfTopKWithIndex(trained, em, "vec_id", "embedding", k, nProbe)
      .select(col("vec_id"), col("nbr_id"))
    val hitT = exact.intersect(ivfT).count()
    val recallT = hitT.toDouble / (n * k)
    println(f"""{"metric":"ann_recall_trained@$k","value":$recallT%.4f,"n":$n,"stride":$stride,"nprobe":$nProbe,"sf":"$sfDir"}""")
    // scalar-quantized full scan: how much ranking quality the int8
    // codes keep relative to exact float cosine. Note SQ ranks by raw
    // integer DOT (inner product), exact by cosine — for unit-ish
    // vectors the orders nearly coincide; the measured gap is the
    // honest price of the 4× compression.
    val sq = Similarity.scalarQuantTopK(em, em, "vec_id", "embedding", k)
      .select(col("vec_id"), col("nbr_id"))
    val hitQ = exact.intersect(sq).count()
    val recallQ = hitQ.toDouble / (n * k)
    println(f"""{"metric":"sq_recall@$k","value":$recallQ%.4f,"n":$n,"sf":"$sfDir"}""")
    // PQ ADC (L2-ranked): measured against the exact L2 baseline —
    // PQ approximates DISTANCE, so its recall target is L2 top-k,
    // not the cosine baseline the tiers above use
    locally {
      val eL2 = {
        val e = em.select(col("vec_id"), col("embedding"))
        val scored = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
            call_function("graft_vec_l2sq", col("a.embedding"), col("b.embedding")).as("d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("d2"), col("nbr_id"))
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
          .select(col("vec_id"), col("nbr_id"))
      }
      graft.functions.GraftFunctions.register(spark)
      val eL2c = eL2.persist()
      Seq((40, 1), (10, 1), (10, 2), (5, 2)).foreach { case (pqStride, pqIters) =>
        val pq = Similarity.pqTopK(em, em, "vec_id", "embedding", k,
          nSub = 8, dim = 64, centroidStride = pqStride, iters = pqIters)
          .select(col("vec_id"), col("nbr_id"))
        val hitP = eL2c.intersect(pq).count()
        val recallP = hitP.toDouble / (n * k)
        println(f"""{"metric":"pq_adc_recall_l2@$k","value":$recallP%.4f,"stride":$pqStride,"iters":$pqIters,"n":$n,"sf":"$sfDir"}""")
        graft.core.OpCache.releaseAll(blocking = true)
      }
      // IVF-PQ raw vs RESIDUAL codebooks at the same budget: the
      // recall delta is the measured value of residual quantization
      Seq(false, true).foreach { residual =>
        val ipq = (if (residual)
          Similarity.ivfPqResidualTopK(em, "vec_id", "embedding", k,
            nProbe = 4, pqStride = 10, iters = 1)
        else
          Similarity.ivfPqTopK(em, "vec_id", "embedding", k,
            nProbe = 4, pqStride = 10, iters = 1))
          .select(col("vec_id"), col("nbr_id"))
        val hitI = eL2c.intersect(ipq).count()
        val recallI = hitI.toDouble / (n * k)
        val tag = if (residual) "residual" else "raw"
        println(f"""{"metric":"ivfpq_recall_l2@$k","value":$recallI%.4f,"codebooks":"$tag","n":$n,"sf":"$sfDir"}""")
        graft.core.OpCache.releaseAll(blocking = true)
      }
      // the qs20 composition: what exact rerank buys back at the
      // IVF-PQ rung for each over-fetch window
      Seq(2, 4).foreach { m =>
        val rr = Similarity.ivfPqRerankTopK(em, "vec_id", "embedding", k,
          overfetch = m, nProbe = 4, pqStride = 10, iters = 1)
          .select(col("vec_id"), col("nbr_id"))
        val hitRr = eL2c.intersect(rr).count()
        val recallRr = hitRr.toDouble / (n * k)
        println(f"""{"metric":"ivfpq_rerank_recall_l2@$k","value":$recallRr%.4f,"overfetch":$m,"n":$n,"sf":"$sfDir"}""")
        graft.core.OpCache.releaseAll(blocking = true)
      }
      eL2c.unpersist()
    }
    // quantized-candidates + exact-rerank composition: what the
    // overfetch window buys back of the SQ gap (qs13's operator)
    Seq(2, 4).foreach { m =>
      val rr = Similarity.scalarQuantRerankTopK(em, em, "vec_id", "embedding", k, m)
        .select(col("vec_id"), col("nbr_id"))
      val hitR = exact.intersect(rr).count()
      val recallR = hitR.toDouble / (n * k)
      println(f"""{"metric":"sq_rerank_recall@$k","value":$recallR%.4f,"overfetch":$m,"n":$n,"sf":"$sfDir"}""")
    }
    // filtered ANN (qs19): recall vs the label-filtered EXACT answer at
    // the same probe budget. The exact baseline runs brute force inside
    // each label partition (labels are few; each subset is small), so
    // the comparison isolates what IVF probing loses under a predicate.
    locally {
      val queries = em.filter(col("vec_id") % 101 === 0)
      val filt = Similarity.filteredIvfTopK(em, "vec_id", "embedding",
        "label", queries, k, stride, nProbe)
        .select(col("vec_id"), col("nbr_id"))
      val labels = em.select(col("label")).distinct()
        .collect().map(_.getInt(0)).sorted
      val exactF = labels.map { l =>
        Similarity.bruteForceTopK(em.filter(col("label") === l),
          "vec_id", "embedding", k)
          .join(queries.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("nbr_id"))
      }.reduce(_ unionByName _)
      val denom = exactF.count()
      val hitF = exactF.intersect(filt).count()
      val recallF = hitF.toDouble / denom
      println(f"""{"metric":"filtered_ann_recall@$k","value":$recallF%.4f,"nprobe":$nProbe,"n_exact":$denom,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}

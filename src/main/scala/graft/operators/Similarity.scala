package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FastCut
import graft.functions.VectorFunctions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact all-pairs cosine top-k — the O(n²)
  *    baseline, correct at any n but only viable when one side fits a
  *    broadcast (the classic "score corpus against a small query set"
  *    shape).
  *  - [[ivfTopK]]: IVF-flat — deterministic coarse quantizer (every
  *    `centroidStride`-th vector as a centroid), assign each vector to
  *    its nearest centroid, then search only within the cell. Turns
  *    O(n²) into O(n·C + Σ cell²); at 100 TB the cell join is an
  *    equi-join on cent_id, i.e. shuffle-partitionable, and the
  *    centroid table broadcasts.
  *
  * All cosine math follows VectorFunctions' fixed-fold determinism
  * contract, so ranks are reproducible across partitionings/engines.
  */
object Similarity {

  /** Scale-safe default entry point for top-k neighbor search: IVF
    * multi-probe unless `exact = true` is explicitly requested. The
    * exact path is an O(n²) nested-loop join — correct at any n,
    * viable only for small corpora or broadcast-sized query sets, and
    * deliberately opt-in so corpus-scale callers land on the bucketed
    * plan by default. */
  def topK(
      em: DataFrame, idCol: String, vecCol: String, k: Int,
      exact: Boolean = false): DataFrame =
    if (exact) bruteForceTopK(em, idCol, vecCol, k)
    else ivfTopK(em, idCol, vecCol, k)

  /** Scale-safe default entry point for embedding near-dup pairs:
    * sign-LSH bucketed unless `exact = true` (all-pairs) is explicitly
    * requested. */
  def nearDupPairs(
      em: DataFrame, idCol: String, vecCol: String, threshold: Double,
      exact: Boolean = false): DataFrame =
    if (exact) cosineNearDupPairs(em, idCol, vecCol, threshold)
    else lshBucketedNearDup(em, idCol, vecCol, threshold)

  /** End-to-end embedding dedup (the [[graft.operators.Dedup.dedupCorpus]]
    * analogue for vectors): sign-LSH bucketed near-dup pairs, then
    * greedy keep — drop the higher id of every verified pair. Returns
    * the kept ids (one `keep_id` column). One bucket equi-join + one
    * anti join; no cartesian anywhere. */
  def dedupEmbeddings(
      em: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val dropped = lshBucketedNearDup(em, idCol, vecCol, threshold, nPlanes, dim)
      .select(col("b_id").as(idCol)).distinct()
    em.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol).as("keep_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
    * deduplication: cluster the embedding space with the IVF coarse
    * quantizer, then treat any within-cluster pair with cosine ≥
    * `threshold` as duplicates and greedily keep the lower id. This is
    * the embedding-space complement of MinHash near-dedup: it removes
    * paraphrases and re-renderings that share no n-grams at all.
    *
    * The cluster restriction is the paper's scale move and its
    * documented recall tradeoff in one: pairwise work is O(Σ cell²)
    * instead of O(n²) — an equi-join on cent_id, shuffle-
    * partitionable — and cross-cluster duplicates are out of scope by
    * design (dial `centroidStride` up for bigger, higher-recall
    * cells). `maxCell` bounds the quadratic term per cell: each
    * cell's members rank by vec_id and only the first `maxCell`
    * participate in pair generation (the qd04/qd18 bounded-block
    * discipline — the cap is deterministic and replayed by the
    * oracle, never silent).
    *
    * Output: one `keep_id` row per surviving vector. */
  def semanticDedup(
      em: DataFrame, idCol: String, vecCol: String, threshold: Double,
      centroidStride: Int = 40, maxCell: Int = 512): DataFrame = {
    val cells = graft.core.OpCache.persist(
      buildIvfIndex(em, idCol, vecCol, centroidStride).cells
        .withColumn("cr", row_number().over(
          Window.partitionBy(col("cent_id")).orderBy(col("vec_id"))))
        .filter(col("cr") <= maxCell)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id")))
    val dropped = cells.as("a")
      .join(cells.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(cosineWithNorms(col("a.embedding"), col("b.embedding"),
        col("a.nrm"), col("b.nrm")) >= threshold)
      .select(col("b.vec_id").as(idCol)).distinct()
    em.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol).as("keep_id"))
  }

  /** Rows (vec_id, embedding, nrm) with precomputed L2 norm. */
  private def withNorm(em: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(em.sparkSession)
    graft.core.Partitioning.parallelize(em, col(idCol))
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        l2Norm(col(vecCol)).as("nrm"))
  }

  /** Exact cosine top-k neighbors for every vector (self excluded).
    * Output: (vec_id, nbr_id, rnk) — ids and rank only; ranking is by
    * (cos DESC, nbr_id) so it is total and deterministic. Top-k is the
    * mergeable [[graft.functions.TopKAgg]] heap, not a window: the
    * O(n²) scored stream collapses map-side to k-pair summaries
    * instead of shuffling+sorting in full (the q48 lesson applied to
    * the ANN family). */
  def bruteForceTopK(em: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val e = withNorm(em, idCol, vecCol)
    val scored = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        cosineWithNorms(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
    topKHeap(scored, "vec_id", col("cos"), col("nbr_id"), "nbr_id", k)
  }

  /** (groupCol, outIdCol, rnk): top-k rows per group by (score DESC,
    * id ASC) via the mergeable graft_topk aggregate — map-side
    * collapse to k-pair summaries, the scale-correct replacement for
    * the row_number window every ANN ranking here used to run. */
  private def topKHeap(
      scored: DataFrame, groupCol: String,
      score: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
      outIdCol: String, k: Int): DataFrame =
    scored.groupBy(col(groupCol))
      .agg(call_function("graft_topk", score, id, lit(k)).as("top"))
      .select(col(groupCol), posexplode(col("top")))
      .select(col(groupCol), col("col.id").as(outIdCol),
        (col("pos") + 1).cast("long").as("rnk"))

  /** Deterministic ±1 random-hyperplane set for sign-LSH: the sign of
    * plane j, dimension d is the parity of the first byte of
    * md5("j:d") — reproducible by any engine (and embedded as literals
    * into oracle SQL, so both sides share the exact floats). */
  def signPlanes(nPlanes: Int, dim: Int): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (j, d) =>
      val h = md.digest(s"$j:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0f else -1.0f
    }
  }

  /** Sign-LSH bucketed near-duplicate pairs (the LSH-flavoured ANN
    * scale path, sibling of [[ivfTopK]]): bucket = the sign bits of
    * `nPlanes` hyperplane projections (cosine-similar vectors collide
    * with probability 1 − θ/π per plane), pairs searched only within a
    * bucket. The bucket join is an equi-join on an int key — linear
    * shuffle, no cartesian; recall dials with fewer planes (bigger
    * buckets) or multi-table LSH (union over several plane sets). */
  def lshBucketedNearDup(
      em: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val e = withNorm(em, idCol, vecCol)
    val planes = signPlanes(nPlanes, dim)
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      when(call_function("graft_vec_dot", col("embedding"),
        typedLit(p)) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    val b = e.withColumn("bucket", bucket)
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        cosineWithNorms(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** [[signPlanes]] with a table seed — independent plane sets for
    * multi-table LSH (seed folds into the hash input, so every
    * (table, plane, dim) sign is reproducible anywhere). */
  def signPlanesSeeded(seed: Int, nPlanes: Int, dim: Int): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (j, d) =>
      val h = md.digest(s"$seed:$j:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0f else -1.0f
    }
  }

  private def signBucketExpr(planes: Array[Array[Float]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(call_function("graft_vec_dot", col("embedding"),
        typedLit(p)) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Multi-table sign-LSH near-dup pairs — the recall dial of
    * [[lshBucketedNearDup]] made concrete: `nTables` INDEPENDENT plane
    * sets (seeded per table), a candidate pair collides in at least
    * one table's bucket, verification (exact cosine) runs ONCE over
    * the distinct candidate union. Per-table collision probability for
    * angle θ is (1 − θ/π)^nPlanes; T tables lift it to 1−(1−p)^T while
    * cost grows linearly in T — buckets stay small (selective) and the
    * union recovers the recall that bigger buckets would have bought
    * quadratically. All per-table joins are equi-joins on an int
    * bucket; the distinct-candidate shuffle is pair-sized. */
  def multiTableLshNearDup(
      em: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 10, nTables: Int = 3,
      dim: Int = 64): DataFrame = {
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val withBuckets = e.select(
      col("vec_id") +: col("embedding") +: col("nrm") +:
        (0 until nTables).map(t =>
          signBucketExpr(signPlanesSeeded(t, nPlanes, dim)).as(s"bucket$t")): _*)
    val cands = (0 until nTables).map { t =>
      withBuckets.as("a").join(withBuckets.as("b"),
          col(s"a.bucket$t") === col(s"b.bucket$t") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    }.reduce(_ unionByName _).distinct()
    cands.as("c")
      .join(e.as("a"), col("c.a_id") === col("a.vec_id"))
      .join(e.as("b"), col("c.b_id") === col("b.vec_id"))
      .filter(cosineWithNorms(col("a.embedding"), col("b.embedding"),
        col("a.nrm"), col("b.nrm")) >= threshold)
      .select(col("c.a_id").as("a_id"), col("c.b_id").as("b_id"))
  }

  /** Embedding-cosine near-duplicate pairs: every unordered pair with
    * cosine ≥ threshold (the dedup-flavoured use of similarity — for
    * corpus-scale runs swap the n² pair source for the IVF cell join
    * of [[ivfTopK]]; the scoring/filter stage is identical). */
  def cosineNearDupPairs(
      em: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = withNorm(em, idCol, vecCol)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        cosineWithNorms(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** IVF-flat top-k: deterministic centroids (vec_id % stride == 0),
    * nearest-centroid assignment (ties → lowest cent_id), exact search
    * over the query's `nProbe` nearest cells. Index membership is
    * always the single nearest cell; probing more cells is the
    * standard recall dial (each probed cell is one more equi-join
    * partition's worth of candidates — cost grows linearly in nProbe,
    * never quadratically). Default nProbe=4: measured recall@5 on the
    * test embeddings is 0.21 / 0.53 / 0.82 at nProbe 1 / 4 / 8 —
    * single-probe is too lossy to be anyone's default. */
  def ivfTopK(
      em: DataFrame, idCol: String, vecCol: String,
      k: Int, centroidStride: Int = 40, nProbe: Int = 4): DataFrame =
    ivfTopKWithIndex(buildIvfIndex(em, idCol, vecCol, centroidStride),
      em, idCol, vecCol, k, nProbe)

  /** The materialized IVF artifacts a similarity service stores between
    * queries (the [[graft.operators.Dedup.CorpusIndex]] analogue for
    * vectors): the centroid table and the assigned cell table
    * (vec_id, embedding, nrm, cent_id). Build once per corpus
    * ([[buildIvfIndex]]), persist across queries
    * ([[writeIvfIndex]]/[[readIvfIndex]] — two parquet datasets), and
    * probe with [[ivfTopKWithIndex]]: nothing corpus-sized is
    * recomputed per query batch. Norms are stored, not recomputed, so
    * a reloaded index scores bit-identically to a fresh one. */
  final case class IvfIndex(
      centroids: DataFrame, // (cent_id, cemb, cnrm)
      cells: DataFrame) { // (vec_id, embedding, nrm, cent_id)
    /** Release any cached artifact frames (no-op on unpersisted ones). */
    def unpersist(blocking: Boolean = false): Unit =
      Seq(centroids, cells).foreach(graft.core.OpCache.release(_, blocking))
  }

  def buildIvfIndex(
      em: DataFrame, idCol: String, vecCol: String,
      centroidStride: Int = 40): IvfIndex = {
    val e = withNorm(em, idCol, vecCol)
    val cents = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    val assign = centroidRanks(e, broadcast(cents), maxRank = 1)
      .filter(col("rn") === 1).select(col("vec_id"), col("cent_id"))
    IvfIndex(cents, e.join(assign, Seq("vec_id")))
  }

  /** Incremental IVF ingest — append a batch to a stored index WITHOUT
    * rebuilding: the batch is assigned against the FROZEN stored
    * centroids (one broadcast-assign pass, O(batch·C)) and appended to
    * the cell table. The quantizer does not move, so insert-then-serve
    * is bit-identical to a full rebuild over the union whenever the
    * rebuild would pick the same centroid set — the parity qs28
    * oracles. This is the recurring-ingest shape
    * ([[graft.operators.Dedup.ingestDedup]]'s analogue for vectors):
    * per-batch cost is batch-proportional, never corpus-proportional;
    * re-train ([[trainIvfCentroids]]) only when drift accumulates.
    * Batch ids must be disjoint from the stored cells' ids — the
    * caller's key discipline, as everywhere in the index family. */
  def ivfInsert(
      index: IvfIndex, batch: DataFrame, idCol: String,
      vecCol: String): IvfIndex = {
    val b = withNorm(batch, idCol, vecCol)
    val assign = centroidRanks(b, broadcast(index.centroids), maxRank = 1)
      .filter(col("rn") === 1).select(col("vec_id"), col("cent_id"))
    IvfIndex(index.centroids,
      index.cells.unionByName(b.join(assign, Seq("vec_id"))))
  }

  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    index.cells.write.mode("overwrite").parquet(s"$dir/cells.parquet")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$dir/centroids.parquet"),
      spark.read.parquet(s"$dir/cells.parquet"))

  /** K-means (Lloyd) refinement of the deterministic stride seeds —
    * trained coarse quantization, the quality step between "every
    * 40th vector is a centroid" and a production IVF index. Runs a
    * FIXED number of rounds (no data-dependent convergence — plans
    * stay statically analyzable and re-runs bit-identical):
    * assignment = highest cosine (ties → lowest cent_id), update =
    * per-cell per-dimension DECIMAL(30,6)-exact mean (the
    * [[labelCentroids]] aggregation shape: posexplode + composite-key
    * hash agg, uniform shuffle keys) packed back in dimension order
    * and cast to float, so the trained centroids — and everything
    * probed through them — are bit-reproducible across engines.
    * Cells that lose every member drop out (k shrinks); cent_id stays
    * the seed's id. At 100 TB each round is one broadcast-assign pass
    * + one exploded aggregate — linear, no pairwise work anywhere. */
  def trainIvfCentroids(
      em: DataFrame, idCol: String, vecCol: String,
      centroidStride: Int = 40, iters: Int = 2): DataFrame = {
    // Cached PRE-PARTITIONED by vec_id: each Lloyd round's assignment
    // heap (groupBy vec_id over the broadcast-scored pairs) and the
    // means join (e ⋈ assign on vec_id) both reuse the cache layout —
    // unpartitioned, every round re-exchanged the corpus twice.
    val e = graft.core.OpCache.persist(
      withNorm(em, idCol, vecCol).repartition(col("vec_id")))
    val seeds = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    val cents = graft.core.Iterate.frames("kmeans", seeds, iters) { cents =>
      val assign = centroidRanks(e, broadcast(cents), maxRank = 1)
        .filter(col("rn") === 1).select(col("vec_id"), col("cent_id"))
      val means = e.join(assign, Seq("vec_id"))
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cent_id"), col("dim"))
        .agg((graft.expr.Exprs.exactSum(col("x").cast("double")) /
          count(lit(1)).cast("double")).as("m"))
      means.groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).cast("array<float>").as("cemb"))
        .select(col("cent_id"), col("cemb"), l2Norm(col("cemb")).as("cnrm"))
    }
    // persist the trained centroids: un-persisted, the caller's final
    // assignment pass re-executed the whole training once more.
    // Centroid tables are stride-derived (corpus/stride rows) —
    // cache-sized, never collected (k-means state legitimately grows
    // with the corpus; the Logit/PCA in-memory model trick does NOT
    // apply).
    graft.core.OpCache.persist(cents)
  }

  /** [[buildIvfIndex]] with k-means-trained centroids: the trained
    * quantizer assigns every vector, and the result is a regular
    * [[IvfIndex]] — persistable and probed via [[ivfTopKWithIndex]]. */
  def kmeansIvfIndex(
      em: DataFrame, idCol: String, vecCol: String,
      centroidStride: Int = 40, iters: Int = 2): IvfIndex = {
    val e = withNorm(em, idCol, vecCol)
    val cents = trainIvfCentroids(em, idCol, vecCol, centroidStride, iters)
    val assign = centroidRanks(e, broadcast(cents), maxRank = 1)
      .filter(col("rn") === 1).select(col("vec_id"), col("cent_id"))
    IvfIndex(cents, e.join(assign, Seq("vec_id")))
  }

  /** (vec_id, cent_id, rn) — each vector's top-`maxRank` centroids by
    * cosine (ties → lowest cent_id). rn=1 is the index assignment;
    * rn ≤ nProbe are the query-time probe cells. The rank is a
    * graft_topk heap, not a window: the corpus × centroids scored
    * stream (n·C rows) collapses map-side to maxRank pairs per vector
    * instead of being shuffled and sorted whole. */
  private def centroidRanks(
      e: DataFrame, cents: DataFrame, maxRank: Int): DataFrame =
    topKHeap(
      e.join(cents)
        .select(col("vec_id"), col("cent_id"),
          cosineWithNorms(col("embedding"), col("cemb"), col("nrm"), col("cnrm"))
            .as("ccos")),
      "vec_id", col("ccos"), col("cent_id"), "cent_id", maxRank)
      .withColumnRenamed("rnk", "rn")

  /** IVF top-k against a prebuilt (typically storage-read) index — the
    * recurring-query entry point: queries rank the broadcast stored
    * centroids for their probe cells, then equi-join the stored cell
    * table. Self-matches (same id on both sides) are excluded, so
    * probing with the corpus itself reproduces [[ivfTopK]] exactly. */
  def ivfTopKWithIndex(
      index: IvfIndex,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val q = withNorm(queries, idCol, vecCol)
    val probes = centroidRanks(q, broadcast(index.centroids), maxRank = nProbe)
      .select(col("vec_id"), col("cent_id"))
    val probe = q.join(probes, Seq("vec_id"))
    val scored = probe.as("p")
      .join(index.cells.as("q"),
        col("p.cent_id") === col("q.cent_id") && col("p.vec_id") =!= col("q.vec_id"))
      .select(col("p.vec_id").as("vec_id"), col("q.vec_id").as("nbr_id"),
        cosineWithNorms(col("p.embedding"), col("q.embedding"),
          col("p.nrm"), col("q.nrm")).as("cos"))
    topKHeap(scored, "vec_id", col("cos"), col("nbr_id"), "nbr_id", k)
  }

  /** FILTERED ANN — the metadata-predicate + vector-search composition
    * every vector store struggles with (pre- vs post-filtering): top-k
    * neighbors among corpus vectors sharing the query's `attrCol`
    * value. In Spark the filter is not a separate phase at all: the
    * attribute equality joins the probe↔cell equi-join as a SECOND
    * join key, so the shuffle partitions by (cent_id, attr) — buckets
    * THIN by the filter's selectivity instead of being scored and
    * discarded (post-filtering's waste), and no candidate list is
    * ever over-fetched to survive the filter (pre-filtering's recall
    * trap at low selectivity is the IVF recall dial, nProbe, which
    * stays independent of the predicate). Null-safe equality: null
    * attrs match each other, never non-nulls.
    *
    * Same IVF semantics as [[ivfTopKWithIndex]] otherwise; ranking by
    * the mergeable top-k heap. */
  def filteredIvfTopK(
      em: DataFrame, idCol: String, vecCol: String, attrCol: String,
      queries: DataFrame,
      k: Int, centroidStride: Int = 40, nProbe: Int = 4): DataFrame = {
    val idx = buildIvfIndex(em, idCol, vecCol, centroidStride)
    val attrs = em.select(col(idCol).as("vec_id"), col(attrCol).as("__attr"))
    val cellsA = idx.cells.join(attrs, Seq("vec_id"))
    val q = withNorm(queries, idCol, vecCol).join(attrs, Seq("vec_id"))
    val probes = centroidRanks(q, broadcast(idx.centroids), maxRank = nProbe)
      .select(col("vec_id"), col("cent_id"))
    val probe = q.join(probes, Seq("vec_id"))
    val scored = probe.as("p")
      .join(cellsA.as("c"),
        col("p.cent_id") === col("c.cent_id") &&
          col("p.__attr") <=> col("c.__attr") &&
          col("p.vec_id") =!= col("c.vec_id"))
      .select(col("p.vec_id").as("vec_id"), col("c.vec_id").as("nbr_id"),
        cosineWithNorms(col("p.embedding"), col("c.embedding"),
          col("p.nrm"), col("c.nrm")).as("cos"))
    topKHeap(scored, "vec_id", col("cos"), col("nbr_id"), "nbr_id", k)
  }

  /** HARD-NEGATIVE MINING — the contrastive-training data factory: for
    * each query vector, the top-k most similar corpus vectors whose
    * `labelCol` DIFFERS from the query's (similar-but-wrong examples,
    * the negatives that actually teach an embedding model).
    *
    * The label predicate is the mirror image of [[filteredIvfTopK]]'s:
    * an INEQUALITY cannot ride the probe↔cell join as a second equi-key,
    * and it should not — a negative predicate passes almost every pair
    * (selectivity ≈ (L−1)/L for L labels), so pre-partitioning by it
    * would buy nothing while post-filtering inside the cent_id equi-join
    * discards the tiny same-label fraction at zero extra shuffle. The
    * pre/post-filter decision is driven by predicate selectivity, not
    * dogma: equality → join key (qs19), inequality → in-join filter
    * (here). Null labels match nothing on either side (a vector of
    * unknown class is neither a positive nor a safe negative).
    *
    * Same IVF probing semantics as [[ivfTopKWithIndex]]; recall dial is
    * nProbe, independent of the predicate. */
  def hardNegatives(
      em: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queries: DataFrame,
      k: Int, centroidStride: Int = 40, nProbe: Int = 4): DataFrame = {
    val idx = buildIvfIndex(em, idCol, vecCol, centroidStride)
    val labels = em.select(col(idCol).as("vec_id"), col(labelCol).as("__lab"))
    val cellsL = idx.cells.join(labels, Seq("vec_id"))
    val q = withNorm(queries, idCol, vecCol).join(labels, Seq("vec_id"))
    val probes = centroidRanks(q, broadcast(idx.centroids), maxRank = nProbe)
      .select(col("vec_id"), col("cent_id"))
    val probe = q.join(probes, Seq("vec_id"))
    val scored = probe.as("p")
      .join(cellsL.as("c"),
        col("p.cent_id") === col("c.cent_id") &&
          col("p.__lab").isNotNull && col("c.__lab").isNotNull &&
          col("p.__lab") =!= col("c.__lab"))
      .select(col("p.vec_id").as("vec_id"), col("c.vec_id").as("nbr_id"),
        cosineWithNorms(col("p.embedding"), col("c.embedding"),
          col("p.nrm"), col("c.nrm")).as("cos"))
    topKHeap(scored, "vec_id", col("cos"), col("nbr_id"), "nbr_id", k)
  }

  /** IVF-PQ candidates + EXACT rerank — the full production serving
    * composition (what a 10¹⁰-vector deployment actually runs): the
    * memory-resident IVF-PQ tier over-fetches k·overfetch candidates
    * by ADC distance (codes only — nSub bytes/vector), then ONLY
    * those candidates touch the full float embeddings for an exact
    * fixed-fold L2 rerank. The [[scalarQuantRerankTopK]] argument at
    * the IVF-PQ rung: quantization error decides candidate MEMBERSHIP
    * (recoverable by over-fetch), never final RANKS. Rerank cost is
    * queries × k·overfetch — independent of corpus size. */
  def ivfPqRerankTopK(
      em: DataFrame, idCol: String, vecCol: String, k: Int,
      overfetch: Int = 4, centroidStride: Int = 40, nProbe: Int = 4,
      nSub: Int = 8, dim: Int = 64, pqStride: Int = 40,
      iters: Int = 1): DataFrame = {
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    val cands = ivfPqTopK(em, idCol, vecCol, k * overfetch,
      centroidStride, nProbe, nSub, dim, pqStride, iters)
      .select(col("vec_id"), col("nbr_id"))
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val scored = cands.as("c")
      .join(e.as("a"), col("c.vec_id") === col("a.vec_id"))
      .join(e.as("b"), col("c.nbr_id") === col("b.vec_id"))
      .select(col("c.vec_id").as("vec_id"), col("c.nbr_id").as("nbr_id"),
        call_function("graft_vec_l2sq",
          col("a.embedding"), col("b.embedding")).as("d2"))
    // rank by exact distance ASC (negated for the score-DESC heap)
    topKHeap(scored, "vec_id", -col("d2"), col("nbr_id"), "nbr_id", k)
  }

  /** Per-dimension symmetric int8 calibration table (dim, scale):
    * scale_d = max |x_d| over the corpus (1.0 for an identically-zero
    * dimension, so quantization never divides by zero). One
    * posexplode + hash-agg pass; partial aggregation collapses each
    * map task to dims-many rows, so the shuffle moves dims ×
    * partitions values no matter how large the corpus is. */
  def sqCalibrate(em: DataFrame, vecCol: String): DataFrame =
    em.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(max(abs(col("x").cast("double"))).as("mx"))
      .select(col("dim"),
        when(col("mx") === 0.0, lit(1.0)).otherwise(col("mx")).as("scale"))

  /** (vec_id, q) with q = the int8-quantized embedding:
    * q_d = clamp(⌊x_d / scale_d · 127 + 0.5⌋, −127, 127) stored as
    * `array<tinyint>` — 4× smaller than the float vector, the whole
    * point of scalar quantization at corpus scale. `scales` is the
    * dims-sized [[sqCalibrate]] table, folded to a single array row
    * and broadcast — the quantize pass itself is map-side only (the
    * one-row nested-loop join ships one array to every task; no
    * shuffle of the corpus). The expression shape (/, ·127, +0.5,
    * floor, clamp — all IEEE doubles) is mirrored verbatim in oracle
    * SQL, so quantized codes are bit-identical across engines. */
  def sqQuantize(
      em: DataFrame, idCol: String, vecCol: String,
      scales: DataFrame): DataFrame = {
    val scalesArr = scales.groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("scale")))),
        s => s.getField("scale")).as("scales"))
    em.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .crossJoin(broadcast(scalesArr))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("scales"), (x, s) =>
          least(greatest(floor(x.cast("double") / s * lit(127.0) + lit(0.5)),
            lit(-127L)), lit(127L)).cast("byte")).as("q"))
  }

  /** Scalar-quantized top-k scan (the memory-bound ANN tier, the
    * IndexScalarQuantizer shape): corpus and query batch are both
    * int8-quantized against CORPUS-calibrated scales, scored by the
    * exact integer dot product Σ qa_d·qb_d (widened to long — no
    * rounding anywhere, so ranks are engine-exact), ranked per query
    * by (score DESC, nbr_id).
    *
    * Scale story: the quantized corpus is 4× smaller than the floats
    * (tinyint codes), the scan is one linear pass of the corpus per
    * broadcast query batch (no pair shuffle — the classic "small query
    * set against a huge corpus" shape), and integer dot products
    * vectorize. Recall dial: take top-(k·m) by quantized score, then
    * exact-rerank the survivors with [[bruteForceTopK]]'s scorer —
    * composition left to the caller so the quantized ranking itself
    * stays oracle-checkable. */
  def scalarQuantTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    // build-and-search = the from-index path over a fresh build; the
    // scales persist inside buildSqIndex keeps the query-batch
    // quantize from re-aggregating the corpus
    scalarQuantTopKWithIndex(buildSqIndex(corpus, idCol, vecCol),
      queries, idCol, vecCol, k)

  /** The materialized scalar-quantization artifacts a similarity
    * service stores between query batches ([[IvfIndex]]'s sibling for
    * the SQ tier): the dims-sized calibration table and the int8 code
    * table. Build once per corpus ([[buildSqIndex]]), persist across
    * runs ([[writeSqIndex]]/[[readSqIndex]]), probe with
    * [[scalarQuantTopKWithIndex]] — the corpus is neither re-calibrated
    * nor re-quantized per batch, and the stored codes are 4× smaller
    * than the float vectors they replace (the index IS the compressed
    * corpus). Integer scoring means a reloaded index ranks
    * bit-identically to a fresh build, with no stored-norm subtlety. */
  final case class SqIndex(
      scales: DataFrame, // (dim, scale)
      codes: DataFrame) { // (vec_id, q)
    def unpersist(blocking: Boolean = false): Unit =
      Seq(scales, codes).foreach(graft.core.OpCache.release(_, blocking))
  }

  def buildSqIndex(em: DataFrame, idCol: String, vecCol: String): SqIndex = {
    graft.functions.GraftFunctions.register(em.sparkSession)
    val e = graft.core.Partitioning.parallelize(em, col(idCol))
    val scales = graft.core.OpCache.persist(sqCalibrate(e, vecCol))
    SqIndex(scales, sqQuantize(e, idCol, vecCol, scales))
  }

  def writeSqIndex(index: SqIndex, dir: String): Unit = {
    index.scales.write.mode("overwrite").parquet(s"$dir/scales.parquet")
    index.codes.write.mode("overwrite").parquet(s"$dir/codes.parquet")
  }

  def readSqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): SqIndex =
    SqIndex(
      spark.read.parquet(s"$dir/scales.parquet"),
      spark.read.parquet(s"$dir/codes.parquet"))

  /** [[scalarQuantTopK]] against a prebuilt (typically storage-read)
    * index: the query batch quantizes against the STORED calibration
    * (so codes are comparable by construction) and scans the stored
    * code table. */
  def scalarQuantTopKWithIndex(
      index: SqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val qq = sqQuantize(queries, idCol, vecCol, index.scales)
    val scored = broadcast(qq.as("a"))
      .join(index.codes.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        call_function("graft_byte_dot", col("a.q"), col("b.q")).as("score"))
    topKHeap(scored, "vec_id", col("score").cast("double"), col("nbr_id"),
      "nbr_id", k)
  }

  /** Quantized-candidates → exact-rerank composition (the shape every
    * production ANN service actually runs; previously "left to the
    * caller" in [[scalarQuantTopK]]'s scaladoc): the int8 scan
    * nominates top-(k·overfetch) candidates per query — one linear
    * pass of the 4×-compressed corpus — and only those k·overfetch
    * rows are re-scored with exact float cosine (stored norms, fixed
    * fold), ranked by (cos DESC, nbr_id), top-k kept.
    *
    * Scale story: the expensive float vectors are touched only for
    * candidate rows — two id equi-joins of a (queries × k·overfetch)-
    * sized candidate table back to the corpus, never a corpus-wide
    * float scan per query. Recall: the rerank buys back exactly the
    * neighbors quantization misranked within the overfetch window —
    * measured recall@5 0.794 (quantized, qs10) → 1.0 at overfetch=4
    * on the test embeddings (tools/AnnRecall). Determinism: candidate
    * choice is integer-exact, rerank cosine is the fixed-fold scorer —
    * both stages engine-exact, so the composition is oracle-checkable
    * end-to-end. */
  def scalarQuantRerankTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, overfetch: Int = 4): DataFrame = {
    val cands = scalarQuantTopK(corpus, queries, idCol, vecCol, k * overfetch)
      .select(col("vec_id"), col("nbr_id"))
    val e = graft.core.OpCache.persist(withNorm(corpus, idCol, vecCol))
    val q = withNorm(queries, idCol, vecCol)
    val scored = cands.as("c")
      .join(q.as("a"), col("c.vec_id") === col("a.vec_id"))
      .join(e.as("b"), col("c.nbr_id") === col("b.vec_id"))
      .select(col("c.vec_id").as("vec_id"), col("c.nbr_id").as("nbr_id"),
        cosineWithNorms(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
    topKHeap(scored, "vec_id", col("cos"), col("nbr_id"), "nbr_id", k)
  }

  /** IVF-SQ top-k — the production ANN configuration (the IVF+SQ8
    * shape): coarse quantization and probing stay in float (centroid
    * cosine ranks, exactly [[ivfTopK]]'s recall dial), but IN-CELL
    * scoring runs over int8 codes with the exact integer dot product —
    * the cell tables ship 4× less data through the probe join and the
    * scoring kernel is integer math. Ranks are engine-exact: float
    * cosine decides only WHICH cells are probed; every tie-able
    * comparison inside a cell is integer. Composes [[buildIvfIndex]]'s
    * structure with [[sqQuantize]]'s codes; at corpus scale both the
    * centroid table and the calibration array broadcast, and the cell
    * join stays the one equi-join shuffle. */
  def ivfSqTopK(
      em: DataFrame, idCol: String, vecCol: String,
      k: Int, centroidStride: Int = 40, nProbe: Int = 4): DataFrame = {
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val cents = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    val ranks = centroidRanks(e, broadcast(cents), maxRank = nProbe)
    val assign = ranks.filter(col("rn") === 1).select(col("vec_id"), col("cent_id"))
    val probes = ranks.filter(col("rn") <= nProbe).select(col("vec_id"), col("cent_id"))
    val qv = graft.core.OpCache.persist(
      sqQuantize(e, "vec_id", "embedding", sqCalibrate(e, "embedding")))
    val cells = qv.join(assign, Seq("vec_id"))
    val probe = qv.join(probes, Seq("vec_id"))
    val scored = probe.as("p").join(cells.as("c"),
        col("p.cent_id") === col("c.cent_id") && col("p.vec_id") =!= col("c.vec_id"))
      .select(col("p.vec_id").as("vec_id"), col("c.vec_id").as("nbr_id"),
        call_function("graft_byte_dot", col("p.q"), col("c.q")).as("score"))
    topKHeap(scored, "vec_id", col("score").cast("double"), col("nbr_id"),
      "nbr_id", k)
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ) — the ANN ladder's compression endgame
  // ---------------------------------------------------------------

  /** (vec_id, m, sv): each vector split into `nSub` contiguous
    * subvectors of `subDim` dimensions — the decomposition PQ
    * quantizes independently. */
  private def subvectors(e: DataFrame, nSub: Int, subDim: Int): DataFrame =
    e.select(col("vec_id"), posexplode(array((0 until nSub).map(m =>
      slice(col("embedding"), m * subDim + 1, subDim)): _*)).as(Seq("m", "sv")))

  /** (vec_id, m, cent_id): each (vector, subquantizer)'s nearest
    * codebook entry by squared L2 (ties → lowest cent_id) — the PQ
    * code. Computed as an ARGMIN AGGREGATE (lexicographic min of
    * (d2, cent_id) structs), not a ranking window: partial aggregation
    * collapses the corpus × K scored rows map-side, so nothing
    * K-proportional ever shuffles — the window form sorted 100M+ rows
    * at ScaleSmoke ×10 where this shuffles 400K. Distance runs in the
    * native [[graft.functions.FloatVecL2]] kernel — fixed-fold,
    * engine-exact, so the argmin matches the oracle's rank-1 row. */
  private def pqEncode(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(cb, Seq("m"))
      .select(col("vec_id"), col("m"),
        struct(call_function("graft_vec_l2sq", col("sv"), col("cvec")).as("d2"),
          col("cent_id")).as("sc"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("sc")).as("best"))
      .select(col("vec_id"), col("m"), col("best.cent_id").as("cent_id"))

  /** Per-subvector PQ codebooks (m, cent_id, cvec), trained with the
    * same bit-reproducible k-means discipline as [[trainIvfCentroids]]
    * but over ALL subquantizers in ONE composite-keyed job: seeds are
    * the deterministic stride vectors' subvectors, each Lloyd round is
    * one broadcast-assign (squared-L2 rank, ties → lowest cent_id) +
    * one exploded (m, cent_id, dim)-keyed DECIMAL(30,6)-exact mean
    * repacked in dim order and cast to float. No per-subquantizer
    * driver loop — nSub inflates the key space, not the job count.
    *
    * `maxCentroids` caps K (the codebook size) independent of corpus
    * size: stride-only seeding makes K ∝ n, which silently turns
    * encoding (a per-(vector, m) rank over K entries) quadratic as
    * the corpus grows and bloats every per-query distance table —
    * production PQ runs a FIXED K (256 = one byte per code, the
    * standard). Seeds are the lowest-id stride vectors, so the cap is
    * a pure predicate both engines replay (a no-op when the corpus
    * has fewer than stride·K rows). */
  def pqTrainCodebooks(
      em: DataFrame, idCol: String, vecCol: String,
      nSub: Int = 8, dim: Int = 64, centroidStride: Int = 40,
      iters: Int = 1, maxCentroids: Int = 256): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subvectors")
    graft.functions.GraftFunctions.register(em.sparkSession)
    val subDim = dim / nSub
    val e = graft.core.Partitioning.parallelize(em, col(idCol))
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val sv = graft.core.OpCache.persist(subvectors(e, nSub, subDim))
    val seeds = sv.filter(col("vec_id") % centroidStride === 0 &&
        col("vec_id") < centroidStride.toLong * maxCentroids)
      .select(col("m"), col("vec_id").as("cent_id"), col("sv").as("cvec"))
    graft.core.Iterate.frames("pq", seeds, iters) { cb =>
      val assign = pqEncode(sv, broadcast(cb))
      val means = sv.join(assign, Seq("vec_id", "m"))
        .select(col("m"), col("cent_id"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("cent_id"), col("dim"))
        .agg((graft.expr.Exprs.exactSum(col("x").cast("double")) /
          count(lit(1)).cast("double")).as("mu"))
      means.groupBy(col("m"), col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("mu")))),
          s => s.getField("mu")).cast("array<float>").as("cvec"))
    }
  }

  /** The materialized PQ artifacts ([[IvfIndex]]/[[SqIndex]]'s sibling
    * for the PQ tier): the trained codebooks (nSub·K subvector
    * centroids — KBs, always broadcastable) and the code table
    * (vec_id, codes) with codes(m) = the id of subquantizer m's
    * nearest centroid. Codes here are the centroid ids themselves
    * (bigint, transparent to the oracle); the production packing is a
    * trivial dictionary remap to dense int8 — nSub bytes per vector,
    * 32× smaller than the 64-float embedding it replaces. The corpus
    * floats are NOT part of the index: ADC search never touches them. */
  final case class PqIndex(
      codebooks: DataFrame, // (m, cent_id, cvec)
      codes: DataFrame) { // (vec_id, codes array<bigint>)
    def unpersist(blocking: Boolean = false): Unit =
      Seq(codebooks, codes).foreach(graft.core.OpCache.release(_, blocking))
  }

  def buildPqIndex(
      em: DataFrame, idCol: String, vecCol: String,
      nSub: Int = 8, dim: Int = 64, centroidStride: Int = 40,
      iters: Int = 1): PqIndex = {
    val subDim = dim / nSub
    val cb = graft.core.OpCache.persist(
      pqTrainCodebooks(em, idCol, vecCol, nSub, dim, centroidStride, iters))
    val e = graft.core.Partitioning.parallelize(em, col(idCol))
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val codes = pqEncode(subvectors(e, nSub, subDim), broadcast(cb))
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("cent_id")))),
        s => s.getField("cent_id")).as("codes"))
    PqIndex(cb, codes)
  }

  def writePqIndex(index: PqIndex, dir: String): Unit = {
    index.codebooks.write.mode("overwrite").parquet(s"$dir/codebooks.parquet")
    index.codes.write.mode("overwrite").parquet(s"$dir/codes.parquet")
  }

  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqIndex =
    PqIndex(
      spark.read.parquet(s"$dir/codebooks.parquet"),
      spark.read.parquet(s"$dir/codes.parquet"))

  /** Asymmetric-distance (ADC) top-k against a PQ index — the 100 TB
    * default ANN configuration (IVF-PQ's scoring half): each query
    * precomputes its distance TABLE d2(q, m, cent_id) against the
    * broadcast codebooks (queries × nSub × K rows — query-batch-sized,
    * broadcastable), and a corpus vector's approximate distance is the
    * table lookup sum Σ_m d2(q, m, code_m) — the corpus contributes
    * only its codes, never floats.
    *
    * Scale shape: one equi-join of the exploded code table with the
    * broadcast distance table on (m, cent_id) + one hash agg on
    * (query, vector) with map-side partials — linear in corpus × nSub,
    * zero corpus shuffle beyond the agg of 16-byte rows. Determinism:
    * each d2 is the fixed-fold L2 kernel (bit-exact both engines); the
    * per-pair sum quantizes each term to DECIMAL(30,6) and folds the
    * unscaled integers in primitive longs
    * ([[graft.expr.Exprs.exactSumBounded]] — bit-equal to the decimal
    * fold for bounded fan-in, ~2× cheaper, order-invariant), so ranks
    * (dist ASC, nbr_id) are engine-exact. Approximation error is the
    * PQ reconstruction error; compose with [[scalarQuantRerankTopK]]'s
    * rerank pattern when exact final ranks are needed.
    *
    * Measured recall@5 vs exact L2 (tools/AnnRecall, synthetic
    * near-random test embeddings — PQ's worst case, no cluster
    * structure to exploit): 0.17 / 0.28 / 0.32 / 0.37 at
    * (stride, iters) = (40,1) / (10,1) / (10,2) / (5,2). Codebook
    * resolution is the dial (production uses K=256/subquantizer);
    * the sanity anchor is exact: an exhaustive codebook reproduces
    * true L2 ranks bit-for-bit (SimilaritySpec). */
  def pqAdcTopKWithIndex(
      index: PqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nSub: Int = 8, dim: Int = 64): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subvectors")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val subDim = dim / nSub
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val qd = subvectors(q, nSub, subDim)
      .join(broadcast(index.codebooks), Seq("m"))
      .select(col("vec_id").as("q_id"), col("m"), col("cent_id"),
        call_function("graft_vec_l2sq", col("sv"), col("cvec")).as("d2"))
    val cc = index.codes.select(col("vec_id").as("nbr_id"),
      posexplode(col("codes")).as(Seq("m", "cent_id")))
    // no broadcast hint on the distance table: it is query-batch ×
    // nSub × K rows — AQE broadcasts it when the batch is small (the
    // serving case) and falls back to a shuffled join when a caller
    // scores the whole corpus against itself (the audit case), where
    // forcing a corpus-sized broadcast would be the bottleneck
    val scored = cc.join(qd, Seq("m", "cent_id"))
      .filter(col("q_id") =!= col("nbr_id"))
      .groupBy(col("q_id"), col("nbr_id"))
      .agg(graft.expr.Exprs.exactSumBounded(col("d2")).as("dist"))
    // dist ASC via the heap's (score DESC, id ASC) order: negate —
    // monotone, so ranks are identical to the former sort
    topKHeap(scored.withColumn("negd", (-col("dist")).cast("double")),
      "q_id", col("negd"), col("nbr_id"), "nbr_id", k)
      .select(col("q_id").as("vec_id"), col("nbr_id"), col("rnk"))
  }

  /** Build-and-search PQ ADC top-k (the from-index path over a fresh
    * build, like [[scalarQuantTopK]]). */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nSub: Int = 8, dim: Int = 64, centroidStride: Int = 40,
      iters: Int = 1): DataFrame =
    pqAdcTopKWithIndex(
      buildPqIndex(corpus, idCol, vecCol, nSub, dim, centroidStride, iters),
      queries, idCol, vecCol, k, nSub, dim)

  /** IVF-PQ top-k — the canonical 100 TB ANN configuration assembled
    * from its two audited halves: IVF coarse quantization restricts
    * each query to its `nProbe` nearest cells (float cosine ranks,
    * exactly [[ivfTopK]]'s recall dial), and IN-CELL scoring is PQ's
    * ADC table lookup — the probed cells contribute only their codes,
    * so the per-probe data volume is nSub bytes/vector instead of the
    * full float embedding (what makes a 10¹⁰-vector index fit a
    * cluster's memory).
    *
    * Plan shape: centroids and codebooks broadcast; the probe join is
    * one equi-join on cent_id; the code→distance-table join is one
    * equi-join on (query, m, code) against the broadcast per-query
    * table; the final agg is hash-partitioned on (query, vector) with
    * map-side partials. Every join is an equi-join; nothing pairwise.
    *
    * Simplification vs textbook IVF-PQ, documented: codebooks train on
    * RAW vectors, not per-cell residuals (residual training subtracts
    * the broadcast cell centroid before encoding — same mechanics, one
    * more zip_with — and buys quantization accuracy; the plan shape is
    * unchanged). Determinism matches [[pqAdcTopKWithIndex]]: fixed-fold
    * L2 kernel + DECIMAL(30,6) sums, ranks (dist ASC, nbr_id). */
  def ivfPqTopK(
      em: DataFrame, idCol: String, vecCol: String, k: Int,
      centroidStride: Int = 40, nProbe: Int = 4,
      nSub: Int = 8, dim: Int = 64, pqStride: Int = 40,
      iters: Int = 1): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subvectors")
    graft.functions.GraftFunctions.register(em.sparkSession)
    val subDim = dim / nSub
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val cents = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    val ranks = centroidRanks(e, broadcast(cents), maxRank = nProbe)
    val assign = ranks.filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell_id"))
    val probes = ranks.filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell_id"))
    val cb = graft.core.OpCache.persist(
      pqTrainCodebooks(em, idCol, vecCol, nSub, dim, pqStride, iters))
    val ev = e.select(col("vec_id"), col("embedding"))
    val codes = pqEncode(subvectors(ev, nSub, subDim), broadcast(cb))
    val qd = subvectors(ev, nSub, subDim)
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("q_id"), col("m"), col("cent_id"),
        call_function("graft_vec_l2sq", col("sv"), col("cvec")).as("d2"))
    // distance table un-hinted for the same reason as
    // [[pqAdcTopKWithIndex]]: AQE broadcasts a small query batch,
    // shuffles the corpus-sized self-query audit case
    val scored = codes
      .join(assign, Seq("vec_id"))
      .withColumnRenamed("vec_id", "nbr_id")
      .join(probes, Seq("cell_id"))
      .filter(col("q_id") =!= col("nbr_id"))
      .join(qd, Seq("q_id", "m", "cent_id"))
      .groupBy(col("q_id"), col("nbr_id"))
      .agg(graft.expr.Exprs.exactSumBounded(col("d2")).as("dist"))
    // dist ASC via the heap's (score DESC, id ASC) order: negate —
    // monotone, so ranks are identical to the former sort
    topKHeap(scored.withColumn("negd", (-col("dist")).cast("double")),
      "q_id", col("negd"), col("nbr_id"), "nbr_id", k)
      .select(col("q_id").as("vec_id"), col("nbr_id"), col("rnk"))
  }

  /** RESIDUAL IVF-PQ top-k — [[ivfPqTopK]] upgraded to the textbook
    * formulation: PQ quantizes each vector's RESIDUAL against its
    * assigned cell centroid (r = x − c), not the raw vector. Residuals
    * concentrate near the origin, so the same codebook budget spends
    * its resolution where the data actually lives — the accuracy step
    * every production IVF-PQ (FAISS-style) takes.
    *
    * The query side makes this per-cell: probing cell c means scoring
    * with the QUERY'S residual against c (q − c_c), so the distance
    * table is keyed (query, cell, m, cent_id) — query-batch × nProbe ×
    * nSub × K rows, still batch-proportional, and each corpus vector
    * scores only inside its own cell (one equi-join on the cell plus
    * the (m, code) lookup, exactly [[ivfPqTopK]]'s joins with one more
    * key column). Residual subtraction is double-exact per element and
    * rounds once to float — deterministic IEEE in both engines — so
    * codes, tables, and ranks stay engine-exact end-to-end.
    *
    * Measured honestly (tools/AnnRecall, pqStride=10, nProbe=4,
    * recall@5 vs exact L2): raw codebooks 0.240, residual 0.164 on
    * the SYNTHETIC near-random test vectors — residuals only
    * concentrate when cells capture real cluster structure, which
    * structure-free data by construction lacks; on production
    * embedding corpora the concentration is the whole premise of the
    * formulation (and why FAISS defaults to it). Both variants stay
    * oracle-checked; pick by measuring on the target corpus. */
  def ivfPqResidualTopK(
      em: DataFrame, idCol: String, vecCol: String, k: Int,
      centroidStride: Int = 40, nProbe: Int = 4,
      nSub: Int = 8, dim: Int = 64, pqStride: Int = 40,
      iters: Int = 1): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subvectors")
    graft.functions.GraftFunctions.register(em.sparkSession)
    val subDim = dim / nSub
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val cents = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    val ranks = centroidRanks(e, broadcast(cents), maxRank = nProbe)
    val assign = ranks.filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell_id"))
    val probes = ranks.filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell_id"))
    val cellCents = broadcast(
      cents.select(col("cent_id").as("cell_id"), col("cemb")))
    def residual(x: org.apache.spark.sql.Column,
        c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      zip_with(x, c, (xi, ci) =>
        (xi.cast("double") - ci.cast("double")).cast("float"))
    val res = graft.core.OpCache.persist(
      e.join(assign, Seq("vec_id")).join(cellCents, Seq("cell_id"))
        .select(col("vec_id"), residual(col("embedding"), col("cemb")).as("rv")))
    val cb = graft.core.OpCache.persist(
      pqTrainCodebooks(res, "vec_id", "rv", nSub, dim, pqStride, iters))
    val codes = pqEncode(
      subvectors(res.select(col("vec_id"), col("rv").as("embedding")),
        nSub, subDim), broadcast(cb))
    val qres = e.select(col("vec_id").as("q_id"), col("embedding"))
      .join(probes, Seq("q_id")).join(cellCents, Seq("cell_id"))
      .select(col("q_id"), col("cell_id"),
        residual(col("embedding"), col("cemb")).as("rv"))
    val qsv = qres.select(col("q_id"), col("cell_id"),
      posexplode(array((0 until nSub).map(m =>
        slice(col("rv"), m * subDim + 1, subDim)): _*)).as(Seq("m", "sv")))
    val qd = qsv.join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("cell_id"), col("m"), col("cent_id"),
        call_function("graft_vec_l2sq", col("sv"), col("cvec")).as("d2"))
    // distance table un-hinted: AQE broadcasts small batches, shuffles
    // the corpus-sized self-query audit case (same as ivfPqTopK)
    val scored = codes
      .join(assign, Seq("vec_id"))
      .withColumnRenamed("vec_id", "nbr_id")
      .join(qd, Seq("cell_id", "m", "cent_id"))
      .filter(col("q_id") =!= col("nbr_id"))
      .groupBy(col("q_id"), col("nbr_id"))
      .agg(graft.expr.Exprs.exactSumBounded(col("d2")).as("dist"))
    // dist ASC via the heap's (score DESC, id ASC) order: negate —
    // monotone, so ranks are identical to the former sort
    topKHeap(scored.withColumn("negd", (-col("dist")).cast("double")),
      "q_id", col("negd"), col("nbr_id"), "nbr_id", k)
      .select(col("q_id").as("vec_id"), col("nbr_id"), col("rnk"))
  }

  /** Per-label centroid table: element-wise mean of the embedding
    * vectors of each label, one row per (label, dimension).
    *
    * The distributed shape for vector aggregation: posexplode to
    * (label, dim, x) rows and hash-aggregate on the COMPOSITE
    * (label, dim) key — partial aggregation absorbs everything
    * map-side and the shuffle key space is labels × dims, uniform by
    * construction, so a hot label never bottlenecks a single reducer
    * the way aggregating whole arrays per label would. Sums run in
    * DECIMAL(30,6) (order-invariant, engine-exact) with one final
    * IEEE division — bit-reproducible under any partitioning. */
  def labelCentroids(
      embeddings: DataFrame,
      labelCol: String,
      vecCol: String): DataFrame =
    embeddings
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        graft.expr.Exprs.exactSum(col("x").cast("double")).as("sum_x"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        (col("sum_x") / col("n").cast("double")).as("centroid"),
        col("n").as("n_vectors"))

  /** Random-projection (Johnson–Lindenstrauss) tier for the ANN
    * ladder: project d-dim float vectors onto `kProj` deterministic
    * ±1 hyperplanes ([[signPlanes]] — the dense-sign variant of
    * Achlioptas' database-friendly projections) and rank by cosine in
    * the PROJECTED space. 64→16 dims cuts per-pair scoring and the
    * broadcast/shuffle bytes 4×; JL bounds the angle distortion by
    * O(√(log n / kProj)), and the cheap ranking composes with the
    * exact rerank exactly like qs13 does for int8 codes.
    *
    * Projections are exact: each is a codegen'd float-dot
    * ([[graft.functions.FloatVecDot]], double accumulator, ascending
    * fold) against a ±1 literal, and projected-space scoring folds
    * ascending over doubles — bit-reproducible under any partitioning,
    * so an external engine replays ranks exactly from the same plane
    * literals. One linear corpus pass per broadcast query batch; no
    * pair shuffle. Output: (vec_id, nbr_id, rnk), rank by
    * (projected cos DESC, nbr_id). */
  def randomProjectTopK(
      em: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      kProj: Int = 16, k: Int = 10, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(em.sparkSession)
    val planes = signPlanes(kProj, dim)
    def proj(c: Column): Column =
      array(planes.map(p => call_function("graft_vec_dot", c, typedLit(p))): _*)
    def pnorm(c: Column): Column =
      sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x * x))
    val corpus = graft.core.Partitioning.parallelize(em, col(idCol))
      .select(col(idCol).as("nbr_id"), proj(col(vecCol)).as("pv"))
      .withColumn("pn", pnorm(col("pv")))
    val qb = queries.select(col(idCol).as("vec_id"), proj(col(vecCol)).as("qv"))
      .withColumn("qn", pnorm(col("qv")))
    val scored = corpus.join(broadcast(qb), col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        (aggregate(zip_with(col("qv"), col("pv"), (x, y) => x * y), lit(0.0),
          (acc, x) => acc + x) / (col("qn") * col("pn"))).as("pcos"))
    topKHeap(scored, "vec_id", col("pcos"), col("nbr_id"), "nbr_id", k)
  }

  /** Recall@k REPORT — the ANN quality measurement as a first-class,
    * oracle-checkable query instead of a side tool: join an
    * approximate ranking against the exact baseline on
    * (vec_id, nbr_id) and reduce to one row
    * (n_queries, n_hits, recall_at_k). Recall is computed as a SINGLE
    * division of exact integers (total hits / k·queries — the
    * micro-averaged recall), so the number is bit-reproducible — the
    * discipline every ratio in this library follows. Inputs are any
    * two (vec_id, nbr_id, …) rankings: exact-vs-IVF, exact-vs-PQ,
    * yesterday-vs-today (a serving regression check).
    *
    * Scale shape: one equi-join on (vec_id, nbr_id) over k·n rows per
    * side + two global single-row aggregates; the 1-row × 1-row
    * cross join at the end is trivially broadcast. */
  def recallReport(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hits = approx.select(col("vec_id"), col("nbr_id"))
      .join(exact.select(col("vec_id"), col("nbr_id")),
        Seq("vec_id", "nbr_id"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_hits"))
    val nq = exact.agg(countDistinct(col("vec_id")).cast("long").as("n_queries"))
    nq.crossJoin(hits).select(col("n_queries"), col("n_hits"),
      (col("n_hits").cast("double") /
        (lit(k).cast("double") * col("n_queries").cast("double")))
        .as(s"recall_at_$k"))
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein's MMR): retrieve `candK` exact-cosine candidates per
    * query, then greedily select `k` of them, each step maximizing
    * `lambda·rel(q,d) − (1−lambda)·max_{s∈selected} sim(d,s)` — the
    * serving-side rerank that stops a near-duplicate cluster from
    * monopolizing a result list (retrieval-augmented pipelines dedup
    * their context this way). Ties break on ascending id at every
    * step, so selection is total-ordered and engine-invariant; with
    * `lambda = 0.5` the arithmetic is an exact IEEE halving of
    * `rel − maxsim`, reproducible bit-for-bit.
    *
    * Scale shape: the query batch broadcasts (serving batches are
    * small by construction); candidate generation is the audited
    * brute/heap path (swap in [[ivfTopKWithIndex]] upstream for
    * corpus-scale candidate generation); the greedy loop touches ONLY
    * candidate-sized data — pairwise sims are candK² per query,
    * computed once and reused across the k steps (both frames
    * persist), each step one bounded join + one per-query window. The
    * steps run on [[graft.core.Iterate]] as `mmr: round N`; a step
    * reads the selection more than once, so every step's selection is
    * settled (≤ one row per query) and later steps never re-execute
    * earlier argmax windows.
    *
    * Output: (q_id, d_id, step) — step 1..k in selection order. */
  def mmrTopK(
      em: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      candK: Int = 20,
      k: Int = 3,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && candK >= k, s"need candK >= k >= 1, got candK=$candK k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val corpus = withNorm(em, idCol, vecCol)
    val qs = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val scored = corpus.join(broadcast(qs), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("d_id"),
        cosineWithNorms(col("qv"), col("embedding"), col("qn"), col("nrm")).as("rel"))
    val topIds = topKHeap(scored, "q_id", col("rel"), col("d_id"), "d_id", candK)
    // rejoin for vectors + rel: candK rows per query, cosine recomputed
    // once per candidate — cheaper than shuffling vectors through the heap
    val cand = graft.core.OpCache.persist(
      topIds.select(col("q_id"), col("d_id"))
        .join(corpus.select(col("vec_id").as("d_id"), col("embedding").as("dv"),
          col("nrm").as("dn")), Seq("d_id"))
        .join(broadcast(qs), Seq("q_id"))
        .select(col("q_id"), col("d_id"), col("dv"), col("dn"),
          cosineWithNorms(col("qv"), col("dv"), col("qn"), col("dn")).as("rel")))
    val ps = graft.core.OpCache.persist(
      cand.as("a").join(cand.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.d_id") =!= col("b.d_id"))
        .select(col("a.q_id").as("q_id"), col("a.d_id").as("a_id"),
          col("b.d_id").as("b_id"),
          cosineWithNorms(col("a.dv"), col("b.dv"), col("a.dn"), col("b.dn"))
            .as("sim")))
    val wRel = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("d_id"))
    val selected0 = graft.core.OpCache.persist(cand
      .withColumn("rn", row_number().over(wRel)).filter(col("rn") === 1)
      .select(col("q_id"), col("d_id"), lit(1L).as("step")))
    // Adaptive: with AQE off qs21's steps ran 13 jobs instead of 26 but
    // 97 tasks instead of 85 and 10.3–10.8 task-seconds instead of
    // 7.6–8.1 (sf0.01, local[4], three runs each)
    var step = 1L
    graft.core.Iterate.frames("mmr", selected0, k - 1) { selected =>
      step += 1
      val selSet = selected.select(col("q_id"), col("d_id").as("s_id"))
      val pen = ps.join(selSet,
          ps("q_id") === selSet("q_id") && ps("b_id") === selSet("s_id"))
        .groupBy(ps("q_id"), col("a_id")).agg(max(col("sim")).as("pen"))
      val remaining = cand
        .join(selected.select(col("q_id"), col("d_id")), Seq("q_id", "d_id"), "left_anti")
      val mmr = remaining
        .join(pen, remaining("q_id") === pen("q_id") &&
          remaining("d_id") === pen("a_id"))
        .select(remaining("q_id"), remaining("d_id"),
          (lit(lambda) * col("rel") - lit(1.0 - lambda) * col("pen")).as("mmr"))
      val wMmr = Window.partitionBy(col("q_id")).orderBy(col("mmr").desc, col("d_id"))
      val pick = mmr.withColumn("rn", row_number().over(wMmr))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("d_id"), lit(step).as("step"))
      selected.unionByName(pick)
    }
  }

  /** NN-Descent (Dong, Moses & Li, WWW'11, "Efficient K-Nearest
    * Neighbor Graph Construction for Generic Similarity Measures") —
    * build the full k-NN GRAPH (every vector's top-k neighbors, the
    * precursor of graph-ANN serving, SemDeDup-style clustering and
    * qt26's leakage-safe splits) without the O(n²) all-pairs scan.
    * The insight: a neighbor of a neighbor is likely a neighbor. Each
    * round, every node scores only {current neighbors} ∪ {neighbors of
    * neighbors} ∪ {reverse neighbors} and keeps the best k — candidate
    * volume is O(n·k²) per round instead of O(n²), and each round is
    * pure equi-joins + one mergeable top-k aggregate, so the whole
    * refinement is shuffle-partitionable on 8-byte ids at any n.
    *
    * Determinism (no sampled init, no RNG): ids are required DENSE
    * 0..n−1 (asserted, one metadata-sized aggregate) and the seed
    * graph is the RING u → (u+j) mod n for j = 1..k — trivially bad
    * on purpose (recall ≈ k/n), so every bit of final recall is the
    * descent's doing and the whole run replays on any engine.
    * Candidates de-dup via distinct before scoring (set semantics,
    * engine-neutral); ranking is (cos DESC, nbr_id) via the mergeable
    * [[graft.functions.TopKAgg]] heap — map-side collapse, no window.
    * Zero-norm vectors are rejected up front (cosine undefined).
    *
    * @return (vec_id, nbr_id, rnk) — the round-`rounds` k-NN graph */
  def nnDescentGraph(
      em: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = em.sparkSession
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val stats = e.agg(min(col("vec_id")), max(col("vec_id")),
      count(lit(1)), min(col("nrm"))).head()
    val n = stats.getLong(2)
    require(n > 0, "nnDescentGraph needs at least one vector")
    require(stats.getLong(0) == 0L && stats.getLong(1) == n - 1,
      s"ids must be dense 0..n-1 (got [${stats.getLong(0)}, " +
        s"${stats.getLong(1)}] over $n rows) — the ring init needs them")
    require(stats.getDouble(3) > 0, "zero-norm vector: cosine undefined")
    // ring seed: u -> (u+j) mod n, j = 1..k (self-free when k < n)
    val ring = graft.core.OpCache.persist(
      e.select(col("vec_id").as("u"),
          explode(sequence(lit(1), lit(math.min(k.toLong, n - 1)))).as("j"))
        .select(col("u"), ((col("u") + col("j")) % n).as("v")))
    // Each round reads the graph three times, so every round's graph is
    // cached — and a cached plan compiles statically anyway: adaptive
    // rounds would only add the eager stage-by-stage jobs of their cuts.
    val g = graft.core.Iterate("nndescent", spark, adaptive = false) { it =>
      val es = it.adopt(e)
      it.frames(it.adopt(ring), rounds) { g =>
        val fwd = g.select(col("u"), col("v"))
        val nn = g.as("a").join(g.as("b"), col("a.v") === col("b.u"))
          .select(col("a.u").as("u"), col("b.v").as("v"))
          .filter(col("u") =!= col("v"))
        val rev = g.select(col("v").as("u"), col("u").as("v"))
        val cand = fwd.unionByName(nn).unionByName(rev).distinct()
        val scored = cand
          .join(es.select(col("vec_id").as("u"), col("embedding").as("ue"),
            col("nrm").as("un")), Seq("u"))
          .join(es.select(col("vec_id").as("v"), col("embedding").as("ve"),
            col("nrm").as("vn")), Seq("v"))
          .select(col("u"), col("v"),
            cosineWithNorms(col("ue"), col("ve"), col("un"), col("vn"))
              .as("cos"))
        topKHeap(scored, "u", col("cos"), col("v"), "v", k)
          .select(col("u"), col("v"))
      }
    }
    // rank the final graph's edges for output (re-score: the graph
    // itself stores only ids, the engine-neutral currency)
    val fin = g
      .join(e.select(col("vec_id").as("u"), col("embedding").as("ue"),
        col("nrm").as("un")), Seq("u"))
      .join(e.select(col("vec_id").as("v"), col("embedding").as("ve"),
        col("nrm").as("vn")), Seq("v"))
      .select(col("u"), col("v"),
        cosineWithNorms(col("ue"), col("ve"), col("un"), col("vn")).as("cos"))
    topKHeap(fin, "u", col("cos"), col("v"), "nbr_id", k)
      .select(col("u").as("vec_id"), col("nbr_id"), col("rnk"))
  }

  /** Semantic clustering over the [[nnDescentGraph]] k-NN graph —
    * SemDeDup without the IVF cell boundary: [[semanticDedup]]
    * restricts duplicate pairs to vectors sharing a coarse cell
    * (cross-cluster duplicates are out of scope by design there);
    * here the pair candidates are the k-NN graph's edges, which
    * follow the data wherever it is dense — no cell to straddle. The
    * graph's directed top-k edges are re-scored, kept where cosine ≥
    * `threshold`, symmetrized (undirected pair = the (min, max)
    * orientation), unioned with self-edges so isolated vectors keep
    * singleton labels, and closed with the same connected-components
    * contract every dedup clustering here emits: (vec_id, component),
    * component = min member id. Keep-one dedup is the
    * component-representative read.
    *
    * Scale shape: everything after the graph build is edge-linear —
    * ≤ n·k re-score joins, one threshold filter, the standard
    * label-prop closure. The graph build itself is [[nnDescentGraph]]'s
    * O(n·k²)-per-round candidate propagation — never all-pairs. */
  def knnGraphClusters(
      em: DataFrame, idCol: String, vecCol: String, threshold: Double,
      k: Int = 5, rounds: Int = 2): DataFrame = {
    val g = nnDescentGraph(em, idCol, vecCol, k, rounds)
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val strong = g.select(col("vec_id").as("u"), col("nbr_id").as("v"))
      .join(e.select(col("vec_id").as("u"), col("embedding").as("ue"),
        col("nrm").as("un")), Seq("u"))
      .join(e.select(col("vec_id").as("v"), col("embedding").as("ve"),
        col("nrm").as("vn")), Seq("v"))
      .filter(cosineWithNorms(col("ue"), col("ve"), col("un"), col("vn"))
        >= threshold)
      .select(least(col("u"), col("v")).as("a_id"),
        greatest(col("u"), col("v")).as("b_id"))
      .distinct()
    val self = e.select(col("vec_id").as("a_id"), col("vec_id").as("b_id"))
    Dedup.connectedComponents(strong.unionByName(self), "a_id", "b_id")
      .select(col("node").as("vec_id"), col("component"))
  }

  /** Graph-navigating ANN search over the [[nnDescentGraph]] k-NN
    * graph — the HNSW-family serve shape (Malkov & Yashunin's greedy
    * graph walk) re-expressed as a FIXED number of bulk-synchronous
    * hops, which is how a navigating search distributes: instead of
    * one query walking one edge at a time (pointer-chasing a remote
    * graph — latency-bound, unshardable), EVERY query advances one hop
    * per superstep through two equi-joins.
    *
    * Per hop: frontier (query, node) expands by the graph's out-edges
    * (one equi-join on node id), the expansion is scored against the
    * query vector (one join to the embedding table), and the best
    * `beam` nodes per query survive as the next frontier. Everything
    * scored along the way accumulates into the visited set; the answer
    * is the top-k of visited (self excluded), ranked (cos DESC, id) —
    * total and deterministic.
    *
    * Two structural guards make the walk complete on clustered data,
    * both standard in production graph-ANN systems: (1) the serve
    * graph is the k-NN edges UNIONED with a ring backbone
    * (u → (u+1) mod n) — a k-NN graph over clustered vectors is
    * typically DISCONNECTED across clusters, and a greedy walk cannot
    * cross a gap that has no edge (HNSW's level-0 connectivity /
    * Vamana's long-range edges play this role); (2) entry points are
    * `nSeeds` HASH-SPREAD fixed ids (md5(j) mod n — [[Dedup.hash60]]
    * of the literal seed index), not evenly-spaced ones, because any
    * arithmetic spacing can alias with a periodic id layout and land
    * every seed in the same region. Both are query-independent and
    * engine-neutral, so the oracle replays the identical search;
    * beam > 1 plus multiple seeds is the standard greedy-walk
    * local-minimum hedge.
    *
    * Scale shape: hop cost is bounded by |Q|·beam·(graphK+1) candidate
    * rows — linear in queries, independent of corpus size; the graph
    * (n·graphK edges) shuffles on 8-byte node ids. Nothing is
    * all-pairs and nothing is corpus × query. The graph build itself
    * is [[nnDescentGraph]]'s O(n·k²)-per-round refinement; in
    * production it is built once and served many times (the
    * stored-index discipline of [[writeIvfIndex]] applies — edges are
    * an id-pair table, trivially parquet-persistable). */
  def graphSearchTopK(
      em: DataFrame, idCol: String, vecCol: String, k: Int,
      beam: Int = 8, hops: Int = 3, graphK: Int = 5,
      graphRounds: Int = 2, nSeeds: Int = 4): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 1 && nSeeds >= 1)
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val n = e.count()
    val knn = nnDescentGraph(em, idCol, vecCol, graphK, graphRounds)
      .select(col("vec_id").as("gu"), col("nbr_id").as("gv"))
    val ring = e.select(col("vec_id").as("gu"),
      ((col("vec_id") + 1) % n).as("gv"))
    // cut the graph's lineage, don't just persist it: the k-NN edges
    // arrive under the whole NN-Descent build plan, and every hop's
    // expansion join would re-ANALYZE that tree (the
    // Dedup.connectedComponents entry-cut rationale)
    val gPlan = knn.unionByName(ring)
    val g = graft.core.OpCache.persist(FastCut.cut(gPlan))
    // hash-spread entry ids: top-15-hex-of-md5(j) mod n — the driver-
    // side replica of Dedup.hash60, embedded identically in the oracle
    val md = java.security.MessageDigest.getInstance("MD5")
    val seeds = (0 until nSeeds).map { j =>
      val hex = md.digest(j.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % n
    }.distinct
    val frontier0 = e.select(col("vec_id").as("qid"),
      explode(array(seeds.map(lit(_)): _*)).as("node"))
    greedyWalkTopK(e, g, frontier0, hops, beam, k)
  }

  /** The bulk-synchronous greedy walk shared by [[graphSearchTopK]]
    * (hash-spread entries) and [[ivfRoutedGraphTopK]] (IVF-routed
    * entries): per hop, expand the frontier over out-edges, score vs
    * the query, keep the beam; answer = top-k of everything visited.
    * `frontier0` = (qid, node) entry pairs; `g` = (gu, gv) edges with
    * lineage already cut. */
  private def greedyWalkTopK(
      e: DataFrame, g: DataFrame, frontier0: DataFrame,
      hops: Int, beam: Int, k: Int): DataFrame = {
    def score(cand: DataFrame): DataFrame = cand
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")), Seq("qid"))
      .join(e.select(col("vec_id").as("node"), col("embedding").as("ne"),
        col("nrm").as("nn")), Seq("node"))
      .select(col("qid"), col("node"),
        cosineWithNorms(col("qe"), col("ne"), col("qn"), col("nn"))
          .as("cos"))
    var frontier: DataFrame = frontier0
    var visited: DataFrame = null
    (1 to hops).foreach { _ =>
      val expanded = frontier
        .unionByName(frontier.join(g, frontier("node") === g("gu"))
          .select(col("qid"), col("gv").as("node")))
        .distinct()
      val scored = graft.core.OpCache.persist(score(expanded))
      visited =
        if (visited == null) scored else visited.unionByName(scored)
      frontier = topKHeap(scored, "qid", col("cos"), col("node"),
        "node", beam).select(col("qid"), col("node"))
    }
    val uniq = visited
      .groupBy(col("qid"), col("node")).agg(max(col("cos")).as("cos"))
      .filter(col("qid") =!= col("node"))
    topKHeap(uniq, "qid", col("cos"), col("node"), "nbr_id", k)
      .select(col("qid").as("vec_id"), col("nbr_id"), col("rnk"))
  }

  /** IVF-ROUTED graph search — the hierarchical-entry step separating
    * HNSW-class serving from a flat greedy walk: instead of fixed
    * hash-spread seeds (which cost hops crossing the space toward the
    * query's region), each query enters the graph AT its region — the
    * min-id member of each of its `nProbe` nearest IVF cells (the
    * coarse quantizer IS the upper layer; HNSW's top levels play
    * exactly this role). The walk then refines locally over the
    * NN-Descent k-NN graph ∪ ring backbone.
    *
    * Scale shape: entry routing is qs02's broadcast centroid scoring
    * (queries × C, linear) + one dim-sized cell-representative
    * aggregate; the walk inherits [[graphSearchTopK]]'s bounded hop
    * cost |Q|·beam·(graphK+2) — independent of corpus size. Both the
    * IVF index and the graph are parquet-persistable stored
    * artifacts; the query-time work never scans the corpus. */
  def ivfRoutedGraphTopK(
      em: DataFrame, idCol: String, vecCol: String,
      queriesFilter: Column, k: Int,
      beam: Int = 8, hops: Int = 3, graphK: Int = 5,
      graphRounds: Int = 2, centroidStride: Int = 40,
      nProbe: Int = 4): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 1 && nProbe >= 1)
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val n = e.count()
    val knn = nnDescentGraph(em, idCol, vecCol, graphK, graphRounds)
      .select(col("vec_id").as("gu"), col("nbr_id").as("gv"))
    val ring = e.select(col("vec_id").as("gu"),
      ((col("vec_id") + 1) % n).as("gv"))
    val gPlan = knn.unionByName(ring)
    val g = graft.core.OpCache.persist(FastCut.cut(gPlan))
    val cents = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    // cell representative = min member id (deterministic entry point)
    val assign = centroidRanks(e, broadcast(cents), maxRank = 1)
      .filter(col("rn") === 1)
    val reps = assign.groupBy(col("cent_id"))
      .agg(min(col("vec_id")).as("node"))
    val probes = centroidRanks(e.filter(queriesFilter),
        broadcast(cents), maxRank = nProbe)
      .select(col("vec_id").as("qid"), col("cent_id"))
    val frontier0 = probes.join(broadcast(reps), Seq("cent_id"))
      .select(col("qid"), col("node")).distinct()
    greedyWalkTopK(e, g, frontier0, hops, beam, k)
  }

  /** Deterministic top principal component via POWER ITERATION — the
    * learned 1-D summary of an embedding corpus (drift axes, whitening
    * prep, the "what direction explains this cluster" probe), trained
    * with the same bit-reproducible discipline as
    * [[trainIvfCentroids]]' Lloyd rounds and [[graft.operators.Logit]]:
    *
    *  - v₀ is the exact constant 1/√dim wherever dim is a power of 4
    *    (0.125 for dim 64) — no seed, nothing random;
    *  - every cross-row sum (the per-vector dot, the per-dim
    *    back-projection, the squared norm) quantizes each TERM to
    *    DECIMAL(30,6) before an order-invariant exact sum;
    *  - sqrt and division are correctly-rounded IEEE ops, and each
    *    round's component re-quantizes through round(·, 6) — so the
    *    unrolled DuckDB oracle replays training bit-for-bit.
    *
    * The covariance matrix is never materialized: one iteration is
    * c = (X−μ)v (a broadcast 64-row join + per-vector hash agg) then
    * u = (X−μ)ᵀc (the same join transposed, per-dim hash agg), i.e.
    * two linear passes per round, shuffles keyed on vec_id / dim.
    * Mean-centering folds algebraically (c = Xv − μ·v,
    * u = Xᵀc − (Σc)·μ), so no centered copy of the data exists. Model
    * state is a dim-sized in-memory array (the Logit discipline).
    */
  def pcaComponent(
      em: DataFrame, idCol: String, vecCol: String,
      iters: Int = 3): DataFrame =
    pcaLoop(em, idCol, vecCol, iters)._1

  /** The trained axis plus its mean-dot — the SERVE-side constants of
    * the projection (what a streaming drift monitor broadcasts:
    * proj(x) = ⟨x, v⟩ − muv). Both frames are dim-row / 1-row
    * broadcast tables, persistable like any stored index here. */
  def pcaAxisWithMean(
      em: DataFrame, idCol: String, vecCol: String,
      iters: Int = 3): (DataFrame, DataFrame) = {
    val (v, mu, _) = pcaLoop(em, idCol, vecCol, iters)
    val muv = graft.core.OpCache.persist(
      mu.join(v, Seq("dim"))
        .agg(graft.expr.Exprs.exactSum(col("mu") * col("v")).as("muv")))
    (v, muv)
  }

  /** Embedding-drift row for one batch of vectors: each projects onto
    * the frozen [[pcaAxisWithMean]] axis, and the batch yields one
    * (grp, n, mean_proj, var_proj) row. A new embedding-model version,
    * a mix shift or an upstream preprocessing change moves the
    * projection distribution within one batch: the embedding-space
    * twin of the profile-drift canary.
    *
    * One dim-keyed broadcast join + per-vector hash agg (the
    * [[pcaProjection]] pass), then the exact-sum variance dag:
    * projections quantize to DECIMAL(30,6) before the order-invariant
    * sums, so the row is bit-reproducible at any partitioning.
    *
    * @param axis (dim, v) — the trained component
    * @param muv  1-row (muv) — the axis·mean dot from training
    * @param grp  batch identifier expression (constant within `vecs`)
    */
  def pcaDriftStats(
      vecs: DataFrame, idCol: String, vecCol: String,
      axis: DataFrame, muv: DataFrame, grp: Column): DataFrame = {
    import graft.expr.Exprs.exactSum
    val cq = vecs
      .select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"),
        col("xf").cast("double").as("x"))
      .join(broadcast(axis), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(exactSum(col("x") * col("v")).as("xv"))
      .crossJoin(broadcast(muv))
      .select((col("xv") - col("muv"))
        .cast(org.apache.spark.sql.types.DecimalType(30, 6))
        .as("cq"))
    val stats = cq.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("cq")).cast("double").as("sx"),
      exactSum(col("cq").cast("double") * col("cq").cast("double"))
        .as("sxx"))
      .select(col("n"),
        round(col("sx") / col("n"), 6).as("mean_proj"),
        round((col("sxx") - col("sx") * col("sx") / col("n"))
          / col("n"), 6).as("var_proj"))
    stats.crossJoin(broadcast(vecs.agg(min(grp).as("grp"))))
      .select(col("grp"), col("n"), col("mean_proj"), col("var_proj"))
  }

  /** Per-vector projection onto the [[pcaComponent]] axis:
    * (vec_id, proj) with proj = ⟨x − μ, v⟩ rounded to 6 — the 1-D
    * coordinate used for drift histograms and extreme-sample audits.
    * One extra linear pass after training. */
  def pcaProjection(
      em: DataFrame, idCol: String, vecCol: String,
      iters: Int = 3): DataFrame = {
    val (v, mu, dims) = pcaLoop(em, idCol, vecCol, iters)
    val muv = mu.join(v, Seq("dim"))
      .agg(graft.expr.Exprs.exactSum(col("mu") * col("v")).as("muv"))
    dims.join(broadcast(v), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(graft.expr.Exprs.exactSumBounded(col("x") * col("v")).as("xv"))
      .crossJoin(broadcast(muv))
      .select(col("vec_id"), round(col("xv") - col("muv"), 6).as("proj"))
  }

  /** Scalar-quantization DISTORTION audit — per-vector cosine
    * fidelity between the original embedding and its int8
    * round-trip (quantize with the corpus-calibrated scales, then
    * dequantize q·s/127): the "how lossy is my index tier" datasheet
    * read before qs10's codes serve traffic. Recall (qs22/qs35)
    * measures end-to-end ranking damage; this localizes it per
    * vector, so outlier-heavy dimensions that crush the code range
    * show up as a low-fidelity tail (compose qt21's percentile cut
    * or q38's histogram over the output).
    *
    * One calibration aggregate + a map-side quantize/dequantize pass
    * (the one-row scales array broadcast, no corpus shuffle); folds
    * are the engine-wide ascending-index double discipline.
    *
    * @return (vec_id, fidelity) — cos(x, deq(q(x))) rounded to 6. */
  def sqDistortionReport(
      em: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(em.sparkSession)
    val scalesArr = sqCalibrate(em, vecCol).groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("scale")))),
        s => s.getField("scale")).as("scales"))
    val deq = em.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .crossJoin(broadcast(scalesArr))
      .select(col("vec_id"), col("embedding"),
        zip_with(col("embedding"), col("scales"), (x, s) =>
          least(greatest(floor(x.cast("double") / s * lit(127.0) + lit(0.5)),
            lit(-127L)), lit(127L)).cast("double") * s / lit(127.0))
          .as("deq"))
    val dotxy = aggregate(
      zip_with(col("embedding"), col("deq"), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)
    val ny = sqrt(aggregate(col("deq"), lit(0.0), (acc, y) => acc + y * y))
    deq.select(col("vec_id"),
      round(dotxy / (graft.functions.VectorFunctions.l2Norm(col("embedding"))
        * ny), 6).as("fidelity"))
  }

  /** Product-quantization DISTORTION audit — [[sqDistortionReport]]'s
    * twin for the PQ tier: per-vector cosine fidelity between the
    * original embedding and its PQ reconstruction (each subvector
    * replaced by its codebook centroid — the decode ADC search never
    * actually performs, materialized here only to measure the loss).
    * Together the two reports price the whole quantization ladder:
    * SQ (4× smaller, per-dim loss) vs PQ (32× smaller, per-subspace
    * loss).
    *
    * Training/encoding reuse [[pqTrainCodebooks]]/pqEncode verbatim;
    * reconstruction is one (m, cent_id) equi-join against the
    * broadcast codebooks + a per-vector sorted-struct flatten —
    * map-side, no new shuffle shape.
    *
    * @return (vec_id, fidelity) rounded to 6. */
  def pqDistortionReport(
      em: DataFrame, idCol: String, vecCol: String,
      nSub: Int = 8, dim: Int = 64, centroidStride: Int = 40,
      iters: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(em.sparkSession)
    val subDim = dim / nSub
    val cb = graft.core.OpCache.persist(
      pqTrainCodebooks(em, idCol, vecCol, nSub, dim, centroidStride, iters))
    val e = graft.core.Partitioning.parallelize(em, col(idCol))
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val codes = pqEncode(subvectors(e, nSub, subDim), broadcast(cb))
    val recon = codes.join(broadcast(cb), Seq("m", "cent_id"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("m"), col("cvec")))),
        s => s.getField("cvec"))).as("deq"))
    import graft.functions.VectorFunctions.{dotProduct, l2Norm}
    e.join(recon, Seq("vec_id"))
      .select(col("vec_id"),
        round(dotProduct(col("embedding"), col("deq")) /
          (l2Norm(col("embedding")) * l2Norm(col("deq"))), 6).as("fidelity"))
  }

  /** IVF OPERATING CURVE in one amortized pass — recall@k for several
    * nProbe settings at once, the table an index owner reads to pick
    * the latency/recall point (qs22 measures one configuration; a
    * sweep re-run per probe count would rescore the same candidates
    * p times). Candidates score ONCE against the full probe fan-out
    * (maxRank = max(probes), each corpus vector lives in exactly one
    * cell so (query, candidate) pairs are unique and carry their
    * cell's probe rank); each sweep point is then a cheap filter
    * (prn ≤ p) + mergeable top-k + one semi-join against the exact
    * truth — no rescoring, no rescanning. Exact truth is the
    * documented O(n²) audit baseline (qs22's contract: sample-sized
    * query sets at scale).
    *
    * @return (n_probe, n_queries, n_truth, n_hits, recall) — one row
    *         per swept probe count; recall = hits / exact-truth pairs
    *         (NOT k·queries — a short exact list, e.g. a corpus with
    *         ≤ k vectors, would make 1.0 unreachable and understate
    *         the curve), rounded 6, NULL when the truth is empty. */
  def probeSweepRecall(
      em: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, centroidStride: Int = 40,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1), "probes must be >= 1")
    val maxP = probes.max
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val cents = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    val ranked = graft.core.OpCache.persist(
      centroidRanks(e, broadcast(cents), maxRank = maxP))
    val cells = e.join(
      ranked.filter(col("rn") === 1).select(col("vec_id"), col("cent_id")),
      Seq("vec_id"))
      .select(col("cent_id"), col("vec_id").as("cand"),
        col("embedding").as("cemb2"), col("nrm").as("cnrm2"))
    val cand = graft.core.OpCache.persist(
      e.select(col("vec_id").as("qid"), col("embedding").as("qemb"),
          col("nrm").as("qnrm"))
        .join(ranked.select(col("vec_id").as("qid"), col("cent_id"),
          col("rn").as("prn")), Seq("qid"))
        .join(cells, Seq("cent_id"))
        .filter(col("qid") =!= col("cand"))
        .select(col("qid"), col("cand"), col("prn"),
          cosineWithNorms(col("qemb"), col("cemb2"),
            col("qnrm"), col("cnrm2")).as("cos")))
    val exact = graft.core.OpCache.persist(
      bruteForceTopK(em, idCol, vecCol, k)
        .select(col("vec_id").as("qid"), col("nbr_id").as("cand")))
    // denominator = the exact-truth PAIR count, not k·queries: on a
    // corpus with ≤ k vectors (or any query whose exact list comes up
    // short) k·queries overstates the reachable hits and recall 1.0
    // becomes unreachable — the truth side defines what "all" means
    val nq = exact.agg(
      countDistinct(col("qid")).cast("long").as("n_queries"),
      count(lit(1)).cast("long").as("n_truth"))
    probes.map { p =>
      val top = topKHeap(
        cand.filter(col("prn") <= p).select(col("qid"), col("cand"), col("cos")),
        "qid", col("cos"), col("cand"), "cand", k)
      top.join(exact, Seq("qid", "cand"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_hits"))
        .select(lit(p).cast("long").as("n_probe"), col("n_hits"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(nq))
      .select(col("n_probe"), col("n_queries"), col("n_truth"), col("n_hits"),
        when(col("n_truth") > 0,
          round(col("n_hits").cast("double") /
            col("n_truth").cast("double"), 6)).as("recall"))
  }

  /** SAMPLED-truth ANN recall — qs22's audit made runnable at
    * production scale (the qd40 discipline applied to vectors): exact
    * truth is computed ONLY for a deterministic bottom-k-of-hash
    * sample of query vectors — O(sample · corpus) as one
    * broadcast-query scan collapsed by the mergeable top-k heap,
    * never the O(n²) all-pairs baseline — and the served IVF ranking
    * is evaluated on the same sampled queries. Micro-averaged recall
    * over the sampled truth pairs estimates full recall unbiasedly
    * under uniform query sampling (binomial se ≈ √(r(1−r)/n_truth) —
    * n_truth is reported for the error bar). Denominator is the truth
    * PAIR count (the [[probeSweepRecall]] discipline).
    *
    * @return one row (sample_n, n_truth, n_hits, recall) — recall
    *         NULL when the sampled truth is empty. */
  def recallReportSampled(
      em: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, centroidStride: Int = 40, nProbe: Int = 4,
      sampleSize: Int = 100): DataFrame = {
    require(sampleSize >= 1, s"sampleSize must be >= 1, got $sampleSize")
    val e = graft.core.OpCache.persist(withNorm(em, idCol, vecCol))
    val hashed = e.select(col("vec_id"),
      graft.operators.Dedup.hash60(col("vec_id").cast("string")).as("__h"))
    val picked = hashed
      .agg(call_function("graft_bottom_k", col("__h"), lit(sampleSize)).as("hs"))
      .select(explode(col("hs")).as("__h"))
    val sample = graft.core.OpCache.persist(
      hashed.join(picked, Seq("__h"), "left_semi").select(col("vec_id")))
    val q = e.join(sample, Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"))
    val truth = graft.core.OpCache.persist(
      topKHeap(
        e.join(broadcast(q), col("qid") =!= col("vec_id"))
          .select(col("qid"), col("vec_id").as("cand"),
            cosineWithNorms(col("qemb"), col("embedding"),
              col("qnrm"), col("nrm")).as("cos")),
        "qid", col("cos"), col("cand"), "cand", k)
        .select(col("qid"), col("cand")))
    val served = ivfTopKWithIndex(
      buildIvfIndex(em, idCol, vecCol, centroidStride),
      e.join(sample, Seq("vec_id"))
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k, nProbe)
      .select(col("vec_id").as("qid"), col("nbr_id").as("cand"))
    val nS = sample.agg(count(lit(1)).cast("long").as("sample_n"))
    val nT = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val nH = served.join(truth, Seq("qid", "cand"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_hits"))
    nS.crossJoin(broadcast(nT)).crossJoin(broadcast(nH))
      .select(col("sample_n"), col("n_truth"), col("n_hits"),
        when(col("n_truth") > 0,
          round(col("n_hits").cast("double") /
            col("n_truth").cast("double"), 6)).as("recall"))
  }

  /** IVF index HEALTH datasheet — the one-row report an index owner
    * reads before trusting (or retraining) a quantizer: cell-count /
    * vector-count totals, min/max/mean cell population, the
    * max-to-mean SKEW ratio (a hot cell serves most probes slowly —
    * the signal to retrain or split), and how many centroids own no
    * vectors at all (dead cells waste probe budget). Pure metadata
    * aggregation over the stored cell table: one hash agg on cent_id
    * + one broadcast anti-join against the centroid list — never
    * touches embedding floats. Mean/skew are single end divisions
    * rounded to 6; NULL skew on an empty index. */
  def ivfIndexStats(index: IvfIndex): DataFrame = {
    val perCell = index.cells.groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("members"))
    val dead = index.centroids.select(col("cent_id"))
      .join(perCell.select(col("cent_id")), Seq("cent_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("empty_cells"))
    perCell.agg(
      count(lit(1)).cast("long").as("n_cells"),
      sum(col("members")).cast("long").as("n_vectors"),
      min(col("members")).as("min_cell"),
      max(col("members")).as("max_cell"))
      .crossJoin(broadcast(dead))
      .select(col("n_cells"), col("n_vectors"), col("min_cell"),
        col("max_cell"), col("empty_cells"),
        when(col("n_cells") > 0,
          round(col("n_vectors").cast("double") /
            col("n_cells").cast("double"), 6)).as("mean_cell"),
        when(col("n_vectors") > 0,
          round(col("max_cell").cast("double") * col("n_cells").cast("double") /
            col("n_vectors").cast("double"), 6)).as("skew"))
  }

  /** HOT-CELL SPLIT — the rebalance ACTION [[ivfIndexStats]]'s skew
    * row signals: every cell holding more than `maxCell` members
    * splits in two. Deterministic 2-means inside each hot cell: the
    * cell's two lowest-id members seed the children, ONE Lloyd round
    * trains them (cosine assignment among the cell's members, ties →
    * lower seed rank; per-dim DECIMAL(30,6)-exact means cast to
    * float — the [[trainIvfCentroids]] discipline), and members
    * re-assign to the nearer trained child. Cold cells pass through
    * untouched. Ids stay collision-free by construction: a cold cell
    * keeps 2·cent_id, the children of hot cell p take 2·p and
    * 2·p + 1 (p is hot, never cold, so no even-id collision). A
    * child that wins no member in the final re-assignment stays in
    * the centroid table and shows up in [[ivfIndexStats]]'s dead
    * count — the honest outcome of a degenerate split.
    *
    * Scale shape: everything keys on cent_id / (cent_id, vec_id) —
    * sizes are one hash agg, seeds a per-hot-cell window over
    * member-count-bounded partitions, training one equi-join pass ×
    * one exploded exact-mean agg, re-assignment one more equi-join.
    * Only hot-cell members move; the corpus never re-shuffles. */
  def splitHotCells(index: IvfIndex, maxCell: Int): IvfIndex = {
    require(maxCell >= 2, s"maxCell must be >= 2, got $maxCell")
    import org.apache.spark.sql.expressions.Window
    val sizes = index.cells.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n"))
    val hot = sizes.filter(col("n") > maxCell).select(col("cent_id"))
    val hotCells = graft.core.OpCache.persist(
      index.cells.join(broadcast(hot), Seq("cent_id"), "left_semi"))
    val coldCells = index.cells.join(broadcast(hot), Seq("cent_id"), "left_anti")
    val w = Window.partitionBy(col("cent_id")).orderBy(col("vec_id"))
    val seeds = hotCells.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(col("cent_id"), col("rk"),
        col("embedding").as("semb"), col("nrm").as("snrm"))
    // one Lloyd round: seed-assignment (ties → lower seed rank) …
    val a1 = hotCells.join(seeds, Seq("cent_id"))
      .select(col("cent_id"), col("vec_id"), col("rk"),
        cosineWithNorms(col("embedding"), col("semb"),
          col("nrm"), col("snrm")).as("c"))
      .groupBy(col("cent_id"), col("vec_id"))
      .agg(max(struct(col("c"), (-col("rk")).as("nrk"))).as("m"))
      .select(col("cent_id"), col("vec_id"), (-col("m.nrk")).as("rk"))
    // … then per-(cell, child, dim) exact means, repacked in dim order
    val children = graft.core.OpCache.persist(
      hotCells.join(a1, Seq("cent_id", "vec_id"))
        .select(col("cent_id"), col("rk"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cent_id"), col("rk"), col("dim"))
        .agg((graft.expr.Exprs.exactSum(col("x").cast("double")) /
          count(lit(1)).cast("double")).as("mu"))
        .groupBy(col("cent_id"), col("rk"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("mu")))),
          s => s.getField("mu")).cast("array<float>").as("cvec"))
        .select(col("cent_id"), col("rk"), col("cvec"),
          l2Norm(col("cvec")).as("cnrm")))
    // final re-assignment of hot members against the TRAINED children
    val a2 = hotCells.join(children, Seq("cent_id"))
      .select(col("cent_id"), col("vec_id"), col("rk"),
        cosineWithNorms(col("embedding"), col("cvec"),
          col("nrm"), col("cnrm")).as("c"))
      .groupBy(col("cent_id"), col("vec_id"))
      .agg(max(struct(col("c"), (-col("rk")).as("nrk"))).as("m"))
      .select(col("cent_id"), col("vec_id"), (-col("m.nrk")).as("rk"))
    val newHotCells = hotCells.join(a2, Seq("cent_id", "vec_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (col("cent_id") * 2 + col("rk") - 1).as("cent_id"))
    val newCells = coldCells
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (col("cent_id") * 2).as("cent_id"))
      .unionByName(newHotCells)
    val newCents = index.centroids
      .join(broadcast(hot), Seq("cent_id"), "left_anti")
      .select((col("cent_id") * 2).as("cent_id"), col("cemb"), col("cnrm"))
      .unionByName(children.select(
        (col("cent_id") * 2 + col("rk") - 1).as("cent_id"),
        col("cvec").as("cemb"), col("cnrm")))
    IvfIndex(newCents, newCells)
  }

  /** Per-dimension embedding DATASHEET — qw16's column profile for
    * vector data: n, DECIMAL-exact mean, population variance, min,
    * max per dimension. The pre-flight audit before quantization or
    * indexing (a dead dimension wastes SQ code range; a runaway scale
    * breaks max-abs calibration; drift between embedding versions
    * shows up as mean/variance movement dim by dim).
    *
    * One posexplode + hash aggregate (map-side combined, keyed on the
    * 64-value dim — broadcast-tiny output); variance derives from the
    * two exact sums in a fixed IEEE dag, so rows are bit-reproducible
    * at any partitioning. */
  def embeddingDimStats(
      em: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.expr.Exprs.exactSum
    em.select(posexplode(col(vecCol)).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        exactSum(col("x")).as("sx"),
        exactSum(col("x") * col("x")).as("sxx"),
        min(col("x")).as("min_x"),
        max(col("x")).as("max_x"))
      .select(col("dim"), col("n"),
        round(col("sx") / col("n"), 6).as("mean"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"), 6)
          .as("variance"),
        col("min_x"), col("max_x"))
  }

  /** SEMANTIC leakage audit — the embedding-space complement of the
    * winnowing contamination ops (qd08/qd17 catch shared SURFACE
    * text; paraphrased or translated benchmark items share no
    * n-grams but sit next to their source in embedding space): for
    * every benchmark vector, its nearest corpus neighbor by cosine
    * and whether that proximity crosses the leak threshold.
    *
    * Scale shape: the benchmark side broadcasts (eval sets are
    * KB–MB), the corpus side is ONE linear scan, and the per-query
    * max collapses map-side (a struct-max aggregate, no window, no
    * pair shuffle) — the qs10 broadcast-query discipline. For a
    * benchmark too big to broadcast, route through the stored IVF
    * index ([[ivfTopKWithIndex]]) and apply the same threshold.
    *
    * @return (vec_id, nbr_id, max_cos, leaked) — one row per
    *         benchmark vector; ties on cosine break to the smallest
    *         neighbor id; max_cos rounds to 6. */
  def semanticLeakageReport(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = 0.5): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol)
    val q = withNorm(bench, idCol, vecCol)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"))
    c.join(broadcast(q))
      .select(col("qid"), col("vec_id").as("nbr"),
        cosineWithNorms(col("qemb"), col("embedding"),
          col("qnrm"), col("nrm")).as("cos"))
      .groupBy(col("qid"))
      .agg(max(struct(col("cos"), (-col("nbr")).as("nn"))).as("m"))
      .select(col("qid").as("vec_id"), (-col("m.nn")).as("nbr_id"),
        round(col("m.cos"), 6).as("max_cos"))
      .withColumn("leaked", col("max_cos") >= threshold)
  }

  /** INDEXED semantic leakage — [[semanticLeakageReport]] routed
    * through a stored [[IvfIndex]] instead of a linear corpus scan:
    * the benchmark ranks the broadcast centroids for its nProbe probe
    * cells and only the matching cells' members are scored (the
    * qs07 probe discipline). This is the shape for a benchmark too
    * big to broadcast, or a corpus that already serves ANN traffic
    * from the stored index: per-bench-item cost is probed-cells-
    * sized, never corpus-sized, and the index artifacts are the ones
    * the service already maintains. Approximation contract is IVF's:
    * a source document assigned to an unprobed cell is invisible —
    * nProbe is the recall dial ([[probeSweepRecall]] prices it).
    *
    * Same output and tie discipline as [[semanticLeakageReport]];
    * bench items with no candidate in any probed cell emit no row.
    *
    * `excludeSelf` (default FALSE) drops candidate pairs whose ids
    * are equal. Leave it off for decontamination: bench and corpus
    * come from SEPARATE tables with independent id spaces, so an id
    * collision is a coincidence, and excluding it would silently
    * suppress a true semantic leak ([[semanticLeakageReport]] scores
    * all pairs — parity requires scoring them here too). Turn it on
    * ONLY when the query set is drawn from the index's own members
    * (recall audits probing their own corpus), where the id equality
    * genuinely identifies the same stored vector. */
  def semanticLeakageReportIndexed(
      index: IvfIndex, bench: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = 0.5, nProbe: Int = 4,
      excludeSelf: Boolean = false): DataFrame = {
    val q = withNorm(bench, idCol, vecCol)
    val probes = centroidRanks(q, broadcast(index.centroids), maxRank = nProbe)
      .select(col("vec_id"), col("cent_id"))
    val probe = q.join(probes, Seq("vec_id"))
    val cellCond = col("p.cent_id") === col("c.cent_id")
    probe.as("p").join(index.cells.as("c"),
        if (excludeSelf) cellCond && col("p.vec_id") =!= col("c.vec_id")
        else cellCond)
      .select(col("p.vec_id").as("qid"), col("c.vec_id").as("nbr"),
        cosineWithNorms(col("p.embedding"), col("c.embedding"),
          col("p.nrm"), col("c.nrm")).as("cos"))
      .groupBy(col("qid"))
      .agg(max(struct(col("cos"), (-col("nbr")).as("nn"))).as("m"))
      .select(col("qid").as("vec_id"), (-col("m.nn")).as("nbr_id"),
        round(col("m.cos"), 6).as("max_cos"))
      .withColumn("leaked", col("max_cos") >= threshold)
  }

  /** Variance-explained report for the [[pcaComponent]] axis: one row
    * (total_ss, pc1_ss, explained) — total centered sum of squares,
    * the projection's sum of squares, and their ratio (NULL on a
    * degenerate zero-variance corpus). The number that says whether
    * the trained axis actually summarizes the corpus, and when more
    * components are worth their passes. Two linear passes past the
    * shared training loop, same decimal-term discipline. */
  def pcaVarianceReport(
      em: DataFrame, idCol: String, vecCol: String,
      iters: Int = 3): DataFrame = {
    import graft.expr.Exprs.exactSum
    val (v, mu, dims) = pcaLoop(em, idCol, vecCol, iters)
    val muv = mu.join(v, Seq("dim"))
      .agg(exactSum(col("mu") * col("v")).as("muv"))
    val cf = dims.join(broadcast(v), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(exactSum(col("x") * col("v")).as("xv"))
      .crossJoin(broadcast(muv))
      .select((col("xv") - col("muv"))
        .cast(org.apache.spark.sql.types.DecimalType(30, 6)).as("cq"))
    val t1 = dims.join(broadcast(mu), Seq("dim"))
      .agg(exactSum((col("x") - col("mu")) * (col("x") - col("mu")))
        .as("total_ss"))
    val t2 = cf.agg(
      exactSum(col("cq").cast("double") * col("cq").cast("double"))
        .as("pc1_ss"))
    t1.crossJoin(broadcast(t2))
      .select(round(col("total_ss"), 6).as("total_ss"),
        round(col("pc1_ss"), 6).as("pc1_ss"),
        when(col("total_ss") > 0,
          round(col("pc1_ss") / col("total_ss"), 6)).as("explained"))
  }

  /** Shared training loop: returns (component v = (dim, v), mean
    * μ = (dim, mu), and the persisted (vec_id, dim, x) long table).
    *
    * ROUND-11 SHAPE (the Logit driver-model discipline applied to the
    * power iteration): the axis v and the mean μ are dim-row tables at
    * ANY corpus size, so the loop holds them on the driver and emits v
    * as a broadcast LocalRelation per round. Each round runs exactly
    * ONE distributed action — a union aggregate that returns the
    * per-dim second-pass sums AND the Σc total under reserved dim −1
    * (the Logit bias-bucket trick) — instead of the previous ~7 jobs
    * (muv agg, c materialize, s agg, ct agg, nrm agg, vNext cut +
    * persist). The corpus-sized frames (`dims`, the per-round
    * projection c) stay distributed, exactly as before.
    *
    * DETERMINISM UNCHANGED, bit-for-bit: the distributed expressions
    * are the same plan text; the driver replays the scalar folds with
    * Spark's own `Decimal` (quantize-to-DECIMAL(30,6) = the Cast path,
    * order-invariant BigDecimal sums = the decimal Sum path, non-finite
    * terms drop as Cast-to-null does) and Spark's `round` semantics
    * for doubles (`BigDecimal(d).setScale(6, HALF_UP)`, non-finite
    * passthrough). PcaSpec (partitioning invariance) + the qs31/qs32
    * oracles pin it. */
  private def pcaLoop(
      em: DataFrame, idCol: String, vecCol: String,
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, StructField, StructType}
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = em.sparkSession
    // Cached PRE-PARTITIONED by vec_id (the Logit featureTable layout
    // discipline): every round groups the projection by vec_id AND
    // joins dims ⋈ c on vec_id — unpartitioned, each round re-exchanged
    // the exploded corpus frame (rows × dim, the loop's largest) twice;
    // partitioned, both reuse the cache layout and the round's only
    // exchange is the dim-bounded stats aggregate. μ's one-off
    // groupBy(dim) pays a ≤dim-rows-per-partition partial-agg exchange.
    val dims = graft.core.OpCache.persist(
      em.select(col(idCol).as("vec_id"),
          posexplode(col(vecCol)).as(Seq("dim", "xf")))
        .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
        .repartition(col("vec_id")))
    val nd = em.agg(count(lit(1)).cast("double").as("nd"))
    val mu = graft.core.OpCache.persist(
      dims.groupBy(col("dim"))
        .agg(graft.expr.Exprs.exactSum(col("x")).as("sx"))
        .crossJoin(broadcast(nd))
        .select(col("dim"), (col("sx") / col("nd")).as("mu")))
    // dim-sized driver read (the calibration-read discipline); doubles
    // as the mu frame computes them. A NULL mean (sum over an empty dim
    // — degenerate) reads as NaN, NOT 0.0: NaN fails loudly at the next
    // quantization exactly like the distributed ANSI cast would,
    // whereas 0.0 would silently invent a value the SQL path never had
    // (round-11 VERDICT item 8).
    val muArr = mu.collect().map(r =>
      r.getInt(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    val dim = muArr.size
    // exactSum replica: quantize each term through Spark's own Cast
    // (Exprs.quantize6 — under this engine's ANSI default a non-finite
    // or overflowing term THROWS exactly as the distributed cast would;
    // under non-ANSI it yields null, dropped by Sum. DecimalReplicaSpec
    // pins both), fold with exact BigDecimal addition, read back like
    // Cast(dec AS DOUBLE).
    def q6(d: Double): Option[java.math.BigDecimal] =
      Option(graft.expr.Exprs.quantize6(d)).map(_.toJavaBigDecimal)
    def decSum(ts: Iterator[Double]): Option[Double] = {
      var acc: java.math.BigDecimal = null
      ts.foreach(t => q6(t).foreach(b =>
        acc = if (acc == null) b else acc.add(b)))
      Option(acc).map(_.doubleValue)
    }
    // Spark round(double, 6): HALF_UP via BigDecimal.valueOf semantics,
    // non-finite passthrough (RoundBase's float/double guard)
    def r6(d: Double): Double =
      if (d.isNaN || d.isInfinite) d
      else scala.math.BigDecimal(d)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val vSchema = StructType(Seq(
      StructField("dim", IntegerType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    def vFrame(a: Array[Double]): DataFrame = {
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](a.length)
      a.indices.foreach(d =>
        rows.add(org.apache.spark.sql.Row(d, a(d))))
      spark.createDataFrame(rows, vSchema)
    }
    val v0 = 1.0 / math.sqrt(dim.toDouble)
    // Non-adaptive rounds (the CC/GD-round pattern): after the dims
    // layout fix the round's only exchange is the dim-bounded stats
    // aggregate, the axis is an explicit LocalRelation broadcast, and
    // the scans keep their cached partitioning — nothing to adapt at
    // any scale, while AQE's stage-by-stage materialization costs
    // several scheduler jobs per round where one collect suffices.
    val vArr = graft.core.Iterate("pca", spark, adaptive = false) { it =>
      val ds = it.adopt(dims)
      it.fold(Array.fill(dim)(v0), iters) { vArr =>
      // muv = exactSum(mu · v) over the dim rows — driver fold
      val muv = decSum(muArr.iterator.map { case (d, m) => m * vArr(d) })
        .getOrElse(Double.NaN)
      val c = it.persist(
        ds.join(broadcast(vFrame(vArr)), Seq("dim"))
          .groupBy(col("vec_id"))
          .agg(graft.expr.Exprs.exactSum(col("x") * col("v")).as("xv"))
          .select(col("vec_id"),
            (col("xv") - lit(muv)).cast(DecimalType(30, 6)).as("cq")))
      // ONE distributed action: per-dim s = Σ cq·x rides with the
      // global Σ cq under reserved dim −1 (posexplode dims are ≥ 0)
      val stats = ds.join(c, Seq("vec_id"))
        .select(col("dim"),
          (col("cq").cast("double") * col("x"))
            .cast(DecimalType(30, 6)).as("t"))
        .unionByName(c.select(lit(-1).as("dim"), col("cq").as("t")))
        .groupBy(col("dim"))
        .agg(sum(col("t")).cast("double").as("sd"))
        .collect()
      var ct = Double.NaN
      val sArr = scala.collection.mutable.Map.empty[Int, Double]
      stats.foreach { row =>
        val d = row.getInt(0)
        val sd = if (row.isNullAt(1)) Double.NaN else row.getDouble(1)
        if (d == -1) ct = sd else sArr(d) = sd
      }
      // u = s − ct·μ per dim; nrm = sqrt(exactSum(u²)); v' = round(u/nrm, 6)
      val u = Array.tabulate(dim)(d =>
        sArr.getOrElse(d, Double.NaN) - ct * muArr(d))
      val nrm = math.sqrt(
        decSum(u.iterator.map(x => x * x)).getOrElse(Double.NaN))
      u.map(x => r6(x / nrm))
      }
    }
    (vFrame(vArr), mu, dims)
  }
}

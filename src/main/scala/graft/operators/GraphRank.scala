package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an undirected pair graph — the graph
  * analytics sibling of [[Dedup]]'s connected components. In a
  * training-data pipeline, centrality over the near-duplicate /
  * similarity graph is a curation signal: a document sitting in the
  * middle of a dense template cluster ranks high (boilerplate), an
  * isolated document keeps the base rank.
  *
  * Determinism: the whole iteration runs in BIGINT fixed-point
  * (`scale` = 1e12 ≙ rank 1.0). Per-edge contributions are integer
  * floor divisions (pr div deg), the per-node combine is an exact
  * BIGINT sum (order-invariant — no IEEE addition anywhere), and the
  * damping step is (pct · s) div 100. Two runs — or two engines —
  * produce identical integers; the floor rounding loses a bounded,
  * deterministic dust mass per iteration (≤ deg ulps per node), the
  * standard price of fixed-point PR. Dangling mass is NOT
  * redistributed (the simplified formulation); the oracle replays the
  * same choice.
  *
  * Scale shape: each iteration is one equi-join of the edge list with
  * the rank table (both partitioned by src) plus one hash aggregation
  * on dst — linear in |E| per iteration, the power-iteration shape
  * that runs at web scale. A FIXED iteration count keeps the plan
  * statically analyzable (no data-dependent convergence loop), same
  * policy as [[Similarity.trainIvfCentroids]].
  */
object GraphRank {

  /** @param nodes  one row per node (ranks cover nodes with no edges);
    *               must be non-empty
    * @param edges  undirected pairs (aCol, bCol); each pair counts as
    *               one edge in each direction. Pairs must be DISTINCT —
    *               a duplicated pair silently inflates both endpoints'
    *               degree and contribution (pass `edges.distinct()` if
    *               the source may repeat pairs)
    * @param dampingPct damping factor as an integer percentage (85 =
    *               the classic 0.85) so the damping step stays exact
    * @return (node_id, pr_int) with pr_int ≙ rank · scale */
  def pageRank(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      iters: Int = 2, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val ids = graft.core.OpCache.persist(
      graft.core.Partitioning.parallelize(nodes, col(idCol))
        .select(col(idCol).as("node_id")))
    val n = ids.count()
    require(n > 0, "pageRank needs at least one node (empty node table)")
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    val e = graft.core.OpCache.persist(sym.join(
      sym.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg")),
      Seq("src")))
    val base = (scale * (100 - dampingPct) / 100) / n
    val pr0 = ids.select(col("node_id"), lit(scale / n).as("pr"))
    val pr = graft.core.Iterate.frames("pagerank", pr0, iters) { pr =>
      val contrib = e.join(pr, col("src") === col("node_id"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).cast("long").as("s"))
      ids.join(contrib, col("node_id") === col("dst"), "left")
        .select(col("node_id"),
          (lit(base) +
            expr(s"($dampingPct * coalesce(s, CAST(0 AS BIGINT))) div 100"))
            .as("pr"))
    }
    pr.select(col("node_id"), col("pr").cast("long").as("pr_int"))
  }

  /** Bounded-round k-core peel over an undirected pair graph: round r
    * computes degrees over the surviving edge set, drops every node
    * with degree < k, and keeps only edges whose BOTH endpoints
    * survive. After `rounds` rounds, returns the remaining nodes with
    * their degrees over the final edge set. With enough rounds this
    * is exactly the k-core (the fixed point where every degree ≥ k);
    * a FIXED round count keeps the plan statically analyzable and
    * engine-replayable — the same bounded-iteration policy as
    * [[pageRank]] and `Similarity.trainIvfCentroids`. Peeling
    * converges fast in practice (most mass drops in round 1: a node
    * that loses its low-degree neighbours rarely cascades far), and
    * the curation reading is direct: the 2-core of a near-dup graph
    * is the set of documents in non-trivial duplication structure —
    * chains and isolated pairs peel away, template cliques stay.
    *
    * Scale shape per round: one hash agg for degrees + two semi-joins
    * to filter edges — linear in |E|, all equi on 8-byte node ids.
    * The edge set only SHRINKS, so later rounds get cheaper.
    *
    * @param edges distinct undirected pairs (the [[pageRank]] edge
    *              contract: duplicates would inflate degrees)
    * @return (node_id, degree) for nodes surviving `rounds` peels,
    *         degree over the final surviving edge set */
  def kCore(
      edges: DataFrame, k: Int, rounds: Int,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def degrees(es: DataFrame): DataFrame =
      es.unionByName(es.select(col("v").as("u"), col("u").as("v")))
        .groupBy(col("u")).agg(count(lit(1)).cast("long").as("d"))
        .select(col("u").as("n"), col("d"))
    val e0 = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    val e = graft.core.Iterate.frames("kcore", e0, rounds) { e =>
      val surv = degrees(e).filter(col("d") >= k).select(col("n"))
      e.join(surv.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(surv.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }
    degrees(e).select(col("n").as("node_id"), col("d").as("degree"))
  }

  /** Bounded-round synchronous label propagation (Raghavan et al.
    * 2007) — community detection over the similarity graph, the
    * DENSITY-aware complement to connected components: CC merges
    * everything reachable (one bridge edge fuses two template
    * families); LPA labels converge to majority neighborhoods, so
    * loosely-bridged dense groups keep distinct labels at small round
    * counts. Deterministic throughout: initial label = node id, each
    * round every node adopts the (count DESC, label ASC) argmax of
    * its neighbors' labels — an exact-integer argmin of
    * (-count, label) structs, partial-aggregated map-side (the
    * argmin-vs-window discipline) — and isolated nodes keep their own
    * id. Fixed rounds, engine-replayable (synchronous LPA can
    * oscillate on bipartite structure; bounded rounds make that a
    * defined, replayed outcome rather than a convergence hazard).
    *
    * Scale shape per round: one equi-join of the symmetrized edge
    * list with the label table + two hash aggs, linear in |E| —
    * power-iteration cost, same as [[pageRank]]. */
  def labelPropagation(
      nodes: DataFrame, idCol: String, edges: DataFrame,
      rounds: Int = 3, aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val ids = graft.core.OpCache.persist(
      nodes.select(col(idCol).cast("long").as("node_id")).distinct())
    val e0 = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    val sym = graft.core.OpCache.persist(
      e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"))))
    val lab0 = ids.select(col("node_id"), col("node_id").as("label"))
    graft.core.Iterate.frames("lpa", lab0, rounds) { lab =>
      val votes = sym
        .join(lab.select(col("node_id").as("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("u").as("node_id"), col("m.label").as("new_label"))
      ids.join(votes, Seq("node_id"), "left")
        .select(col("node_id"),
          coalesce(col("new_label"), col("node_id")).as("label"))
    }
  }

  /** Per-node triangle counts over an undirected pair graph — the
    * clustering-density signal of the graph family (a document inside
    * a dense template clique participates in many triangles; a chance
    * near-dup pair participates in none), computed with the
    * DEGREE-ORIENTED algorithm that runs at web scale: orient every
    * edge from its lower (degree, id) endpoint to the higher, generate
    * wedges only from common SOURCES, and close each wedge with one
    * oriented-edge lookup. Orientation bounds wedge generation by
    * O(|E|^1.5) regardless of hot nodes (a star's hub receives its
    * edges and sources none of them — the skew that kills the naive
    * Σdeg² wedge join is structurally removed), and counts each
    * triangle exactly once. Three equi-joins + one hash agg; the
    * (degree, id) total order makes the result partition-independent.
    *
    * @param edges distinct undirected pairs (aCol < bCol), the
    *              [[pageRank]] edge contract
    * @return (node_id, n_triangles) covering every node in `nodes`,
    *         zero-participation nodes included */
  def triangleCounts(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val e0 = graft.core.OpCache.persist(
      edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    val dg = graft.core.OpCache.persist(
      sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .select(col("u").as("n"), col("d")))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = graft.core.OpCache.persist(
      e0.join(dg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(dg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
        .select(when(lower, col("u")).otherwise(col("v")).as("s"),
          when(lower, col("v")).otherwise(col("u")).as("t")))
    val otd = o.join(dg.select(col("n").as("t"), col("d").as("dt")), Seq("t"))
    val wedgeOrder = col("w1.dt") < col("w2.dt") ||
      (col("w1.dt") === col("w2.dt") && col("w1.t") < col("w2.t"))
    val tris = otd.as("w1").join(otd.as("w2"),
        col("w1.s") === col("w2.s") && wedgeOrder)
      .select(col("w1.s").as("tu"), col("w1.t").as("tv"), col("w2.t").as("tw"))
      .join(o.select(col("s").as("tv"), col("t").as("tw")), Seq("tv", "tw"))
    val perNode = tris
      .select(explode(array(col("tu"), col("tv"), col("tw"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("n_triangles"))
    nodes.select(col(idCol).cast("long").as("node_id")).distinct()
      .join(perNode, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }
}

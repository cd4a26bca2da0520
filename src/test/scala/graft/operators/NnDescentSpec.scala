package graft.operators

import graft.SparkSuite

class NnDescentSpec extends SparkSuite {
  import spark.implicits._

  // Deterministic clustered vectors over dense ids 0..n-1: five planted
  // clusters (id % 5) with a strong shared component plus a small
  // id-dependent wobble, so true neighbors are (mostly) same-cluster —
  // structure the ring seed is maximally wrong about (the ring pairs
  // consecutive ids, which alternate clusters).
  private val dim = 8
  private val n = 60
  private val vecs: Seq[(Long, Array[Float])] = (0L until n.toLong).map { id =>
    val c = (id % 5).toInt
    val arr = Array.tabulate(dim)(j =>
      (if (j % 5 == c) 4.0f else 0.1f) +
        math.sin(id * 31 + j * 7).toFloat * 0.3f)
    id -> arr
  }

  private def recallVsBrute(graph: Map[Long, Seq[Long]], k: Int): Double = {
    val df = vecs.toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(df, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = vecs.map { case (id, _) =>
      graph.getOrElse(id, Seq.empty).count(truth(id).contains)
    }.sum
    hits.toDouble / (n * k)
  }

  private def run(rounds: Int, k: Int): Map[Long, Seq[Long]] =
    Similarity.nnDescentGraph(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = k, rounds = rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

  test("descent rounds strictly improve recall over the ring seed") {
    val k = 5
    val r0 = recallVsBrute(run(0, k), k)
    val r1 = recallVsBrute(run(1, k), k)
    val r2 = recallVsBrute(run(2, k), k)
    val r4 = recallVsBrute(run(4, k), k)
    info(s"recall by rounds: r0=$r0 r1=$r1 r2=$r2 r4=$r4")
    // ring seed is near-random by construction; candidate propagation
    // must climb monotonically and converge high on clustered data
    assert(r0 < 0.5, s"ring seed unexpectedly good: $r0")
    assert(r1 > r0, s"round 1 did not improve: $r0 -> $r1")
    assert(r2 >= r1, s"round 2 regressed: $r1 -> $r2")
    assert(r4 > r2, s"round 4 did not keep improving: $r2 -> $r4")
    assert(r4 > 0.8, s"round-4 recall too low: $r4")
  }

  test("output is k rows per node, self-free, rank-contiguous") {
    val g = Similarity.nnDescentGraph(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 5, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(g.length == n * 5)
    assert(g.forall { case (u, v, _) => u != v })
    g.groupBy(_._1).foreach { case (u, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to 5L), s"ranks of $u")
    }
  }

  test("deterministic: two runs produce the identical graph") {
    val df = vecs.toDF("vec_id", "embedding")
    val a = rowsOf(Similarity.nnDescentGraph(df, "vec_id", "embedding", 4, 2))
    val b = rowsOf(Similarity.nnDescentGraph(df, "vec_id", "embedding", 4, 2))
    assert(a == b)
  }

  test("knnGraphClusters recovers the planted clusters, singletons kept") {
    // thresholded at a level only same-cluster pairs reach; 4 rounds so
    // the graph itself has converged (recall 1.0 per the test above)
    val labels = Similarity.knnGraphClusters(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.75, k = 5, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L until n.toLong).toSet) // covering
    // same planted cluster -> same component; the component label is
    // the min member id (= the cluster index, since clusters are id % 5)
    (0L until n.toLong).foreach { id =>
      assert(labels(id) == id % 5,
        s"node $id labeled ${labels(id)}, want ${id % 5}")
    }
  }

  test("knnGraphClusters with an unreachable threshold yields singletons") {
    val labels = Similarity.knnGraphClusters(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 1.1, k = 3, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.forall { case (id, c) => id == c })
  }

  test("graphSearchTopK serves complete, self-free, high-recall top-k") {
    val df = vecs.toDF("vec_id", "embedding")
    val served = Similarity.graphSearchTopK(df, "vec_id", "embedding",
        k = 5, beam = 8, hops = 3, graphK = 5, graphRounds = 2, nSeeds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = Similarity.bruteForceTopK(df, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(served.keySet == (0L until n.toLong).toSet)
    assert(served.forall { case (q, s) => s.size == 5 && !s.contains(q) })
    val hits = vecs.map { case (id, _) => served(id).count(truth(id).contains) }.sum
    val recall = hits.toDouble / (n * 5)
    info(s"graph-search recall@5 = $recall")
    assert(recall > 0.8, s"graph-serve recall too low: $recall")
  }

  test("ivfRoutedGraphTopK: routed entry beats hash seeds at equal hops") {
    import org.apache.spark.sql.functions.lit
    val df = vecs.toDF("vec_id", "embedding")
    // stride 12 plants one centroid per cluster (0,12,24,36,48 cover
    // all five id%5 classes) — the regime routing is FOR: entries land
    // in the query's region, so a SHORT walk suffices where the
    // hash-spread entries still need hops to cross the space
    def recallOf(served: Array[(Long, Long)]): Double = {
      val m = served.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      recallVsBrute(m.view.mapValues(_.toSeq).toMap, 5)
    }
    val routed = recallOf(
      Similarity.ivfRoutedGraphTopK(df, "vec_id", "embedding",
        queriesFilter = lit(true), k = 5, beam = 8, hops = 2,
        graphK = 5, graphRounds = 2, centroidStride = 12, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
    val flat = recallOf(
      Similarity.graphSearchTopK(df, "vec_id", "embedding",
        k = 5, beam = 8, hops = 2, graphK = 5, graphRounds = 2, nSeeds = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
    info(s"routed recall@5 = $routed, flat recall@5 = $flat (hops = 2)")
    assert(routed >= flat,
      s"routing should not lose to hash seeds on clustered data: $routed < $flat")
    assert(routed > 0.8, s"routed recall too low: $routed")
  }

  test("graphSearchTopK is deterministic across runs") {
    val df = vecs.toDF("vec_id", "embedding")
    val a = rowsOf(Similarity.graphSearchTopK(df, "vec_id", "embedding",
      k = 3, beam = 4, hops = 2, graphK = 4, graphRounds = 1, nSeeds = 2))
    val b = rowsOf(Similarity.graphSearchTopK(df, "vec_id", "embedding",
      k = 3, beam = 4, hops = 2, graphK = 4, graphRounds = 1, nSeeds = 2))
    assert(a == b)
  }

  test("non-dense ids are rejected loudly") {
    val sparse = Seq((0L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.nnDescentGraph(sparse, "vec_id", "embedding", 1, 1)
    }
    assert(e.getMessage.contains("dense"))
  }

  test("zero-norm vectors are rejected loudly") {
    val z = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.nnDescentGraph(z, "vec_id", "embedding", 1, 1)
    }
    assert(e.getMessage.contains("zero-norm"))
  }
}

package graft.operators

import graft.SparkSuite

class GraphRankSpec extends SparkSuite {
  import spark.implicits._

  test("pageRank: exact fixed-point values on a path + isolated node") {
    // path 1-2-3, node 4 isolated; n=4, scale 1e12, damping 85%, 2 iters
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val got = GraphRank.pageRank(nodes, "id", edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-computed: pr0 = 250e9 each; base = 37.5e9
    // iter1: s(1)=s(3)=125e9, s(2)=500e9
    //   p1(1)=p1(3)=143.75e9, p1(2)=462.5e9, p1(4)=base
    // iter2: s(2)=287.5e9, s(1)=s(3)=231.25e9
    assert(got == Map(
      1L -> 234062500000L, 2L -> 281875000000L,
      3L -> 234062500000L, 4L -> 37500000000L))
    // the hub of the path outranks the leaves; isolation = base rank only
    assert(got(2L) > got(1L) && got(4L) < got(1L))
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("pageRank: deterministic across runs and partitionings") {
    val nodes = (1L to 40L).toDF("id")
    val edges = (1L until 40L).map(i => (i, i % 7 + 34L)).toDF("a_id", "b_id")
    def run() = GraphRank.pageRank(nodes, "id", edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(); val b = run()
    assert(a == b)
    // integer mass never exceeds the injected total (floor dust only shrinks)
    assert(a.values.sum <= 1000000000000L)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("pageRank: deep iteration runs under the lineage cut") {
    // iters=12: the loop cuts the rank table's lineage once its plan
    // outgrows Iterate's budget, else nests 12 join+agg layers. The
    // result must still be the convergent ranking (hub > leaf > isolated).
    val nodes = (1L to 20L).toDF("id")
    val edges = (2L to 10L).map(i => (1L, i)).toDF("a_id", "b_id")
    val ranked = GraphRank.pageRank(nodes, "id", edges, iters = 12)
    assert(org.apache.spark.sql.graft.FastCut.planSize(ranked) <=
      graft.core.Iterate.PlanBudget, "the rank table was never cut")
    val got = ranked.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 20)
    assert(got(1L) > got(2L) && got(2L) > got(15L))
    assert(got.values.sum <= 1000000000000L)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("triangleCounts: K4, star, and path on known answers") {
    // K4 on {1..4}: C(4,3)=4 triangles, every node in 3 of them
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)).toDF("a_id","b_id")
    val nodes = (1L to 8L).toDF("id")
    // star 5-{6,7,8}: wedges but no closures; 5 isolated from K4
    val star = Seq((5L,6L),(5L,7L),(5L,8L)).toDF("a_id","b_id")
    val got = GraphRank.triangleCounts(nodes, "id", k4.unionByName(star))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(got(_) == 3L), got.toString)
    assert((5L to 8L).forall(got(_) == 0L), got.toString)
    // total triangle mass = 3 * number of triangles
    assert(got.values.sum == 3 * 4)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("kCore: chain peels away, triangle survives; cascade needs multiple rounds") {
    // chain 1-2-3-4 (endpoints degree 1) + triangle 5-6-7
    val edges = Seq((1L,2L),(2L,3L),(3L,4L),(5L,6L),(5L,7L),(6L,7L))
      .toDF("a_id","b_id")
    // round 1: drop 1,4 → chain becomes 2-3 (degrees 1); round 2: drop
    // 2,3 → only the triangle left. rounds=1 still shows the middle.
    val r1 = GraphRank.kCore(edges, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.keySet == Set(2L,3L,5L,6L,7L) && r1(2L) == 1L)
    val r3 = GraphRank.kCore(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(5L -> 2L, 6L -> 2L, 7L -> 2L))
    // rounds past convergence are idempotent, including the lineage-cut
    // path (rounds > 4)
    val r6 = GraphRank.kCore(edges, k = 2, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r6 == r3)
    // k above the max degree empties the graph
    assert(GraphRank.kCore(edges, k = 5, rounds = 2).count() == 0)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("labelPropagation: cliques converge to min-label communities, bridge kept out") {
    // two triangles {1,2,3} and {5,6,7} joined by one bridge 3-5;
    // node 9 isolated. After 3 rounds each triangle carries its min
    // label; the single bridge cannot outvote in-clique majorities.
    val edges = Seq((1L,2L),(1L,3L),(2L,3L),(5L,6L),(5L,7L),(6L,7L),(3L,5L))
      .toDF("a_id","b_id")
    val nodes = Seq(1L,2L,3L,5L,6L,7L,9L).toDF("id")
    val got = GraphRank.labelPropagation(nodes, "id", edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(9L) == 9L, "isolated node keeps its own label")
    val c1 = Set(1L,2L,3L).map(got)
    val c2 = Set(5L,6L,7L).map(got)
    assert(c1.size == 1 && c2.size == 1 && c1 != c2,
      s"two distinct communities expected: $got")
    // deterministic under repartitioning
    val re = GraphRank.labelPropagation(nodes.repartition(5), "id",
      edges.repartition(3), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == got)
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("pageRank: empty node table is refused loudly") {
    val nodes = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val e = intercept[IllegalArgumentException] {
      GraphRank.pageRank(nodes, "id", edges)
    }
    assert(e.getMessage.contains("at least one node"))
    graft.core.OpCache.releaseAll(blocking = true)
  }
}

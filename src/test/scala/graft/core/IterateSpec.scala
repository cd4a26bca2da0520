package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FastCut
import graft.SparkSuite
import graft.operators.{Curation, Dedup, GraphRank, Similarity}

/** The round-loop combinator: AQE scoped to the loop's own plans, loud
  * non-convergence, and release of superseded rounds. */
class IterateSpec extends SparkSuite {
  import spark.implicits._

  private val aqeKey = "spark.sql.adaptive.enabled"
  private def path64 = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  test("a non-adaptive loop leaves its caller's session adaptive, also for concurrent queries") {
    assert(spark.conf.get(aqeKey) == "true")
    val roundJobs = new ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("cc: round")).foreach(d => roundJobs.add((e.time, d)))
    }
    sc.addSparkListener(listener)
    // (start ms, end ms, caller conf, concurrent query planned adaptively)
    val samples = new ConcurrentLinkedQueue[(Long, Long, String, Boolean)]()
    @volatile var running = true
    val probe = new Thread(() =>
      while (running) {
        val t0 = System.currentTimeMillis()
        val conf = spark.conf.get(aqeKey)
        val q = spark.range(100).groupBy((col("id") % 3).as("k")).count()
        samples.add((t0, System.currentTimeMillis(), conf, adaptive(q)))
      })
    probe.start()
    val labels =
      try Dedup.connectedComponents(path64, "a", "b", maxIter = 10)
      finally { running = false; probe.join() }
    val end = System.currentTimeMillis()
    val deadline = end + 10000
    while (roundJobs.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300) // let the listener bus drain the remaining rounds
    sc.removeSparkListener(listener)

    val rounds = roundJobs.asScala.toSeq
    assert(rounds.nonEmpty, "the loop must label its rounds")
    // at most two jobs a round (the label sum and the jump join's
    // broadcast): the rounds were planned statically — adaptive rounds
    // run every stage as a job of its own
    assert(rounds.groupBy(_._2).values.forall(_.size <= 2), rounds)
    val firstRound = rounds.map(_._1).min
    val during = samples.asScala.filter(s => s._1 >= firstRound && s._2 <= end)
    assert(during.nonEmpty, "the probe must sample while the rounds run")
    assert(during.forall(_._3 == "true"), s"caller conf flipped: $during")
    assert(during.forall(_._4), s"a concurrent query lost AQE: $during")
    assert(spark.conf.get(aqeKey) == "true")
    // the returned frame is back in the caller's (adaptive) session
    assert(adaptive(labels.groupBy("component").count()))
    assert(labels.as[(Long, Long)].collect().toMap.values.toSet == Set(0L))
    OpCache.releaseAll(blocking = true)
  }

  test("a loop that runs out of rounds throws and releases every frame it made") {
    OpCache.releaseAll(blocking = true)
    val runs = Seq[DataFrame => DataFrame](
      Dedup.connectedComponents(_, "a", "b", maxIter = 1),
      Dedup.connectedComponentsStars(_, "a", "b", maxIter = 1))
    runs.foreach { run =>
      val before = sc.getPersistentRDDs.size
      val e = intercept[IllegalStateException](run(path64))
      assert(e.getMessage.contains("did not converge within 1 rounds"))
      assert(Seq("connected components", "star contraction")
        .exists(e.getMessage.startsWith), e.getMessage)
      assert(sc.getPersistentRDDs.size == before)
      assert(OpCache.liveCount == 0)
    }
  }

  test("superseded rounds are released: live frames do not grow with the round count") {
    val emb = (0 until 40).map { i =>
      (i.toLong, Array((i % 2 * 2 - 1) * 10f, (i % 5) * 0.1f, (i % 3).toFloat, 1f))
    }.toDF("vec_id", "embedding")
    val nodes = (1L to 20L).toDF("id")
    val edges = (2L to 10L).map(i => (1L, i)).toDF("a_id", "b_id")
    val docs = Seq(("a", 100L), ("b", 50L), ("c", 10L), ("a", 30L)).toDF("src", "tok")
    def live(iters: Int, loop: Int => DataFrame): Int = {
      OpCache.releaseAll(blocking = true)
      loop(iters).collect()
      try OpCache.liveCount finally OpCache.releaseAll(blocking = true)
    }
    val loops = Seq[(String, Int, Int => DataFrame)](
      ("pca", 3, Similarity.pcaComponent(emb, "vec_id", "embedding", _)),
      ("kmeans", 3, Similarity.trainIvfCentroids(emb, "vec_id", "embedding", 8, _)),
      ("pagerank", 6, n => GraphRank.pageRank(nodes, "id", edges, iters = n)),
      // every round's graph is settled (read three times) and no round
      // runs an action: the superseded graphs go once the result is read
      ("nndescent", 3, Similarity.nnDescentGraph(emb, "vec_id", "embedding", 4, _)),
      ("waterfill", 4, n => Curation.tokenBudgetWaterfill(
        docs, "src", col("tok"), Map("a" -> 2), 1, 120L, rounds = n)))
    // What stays live is the loop's inputs plus at most the last settled
    // state, which the lazy result still reads — one frame above a
    // loop that never settled (PageRank settles past the plan budget).
    loops.foreach { case (name, iters, loop) =>
      val Seq(one, n, twice) = Seq(1, iters, 2 * iters).map(live(_, loop))
      assert(n == twice, s"$name: $n frames at $iters rounds, $twice at ${2 * iters}")
      assert(n <= one + 1, s"$name: $n frames at $iters rounds, $one at 1")
    }
  }

  test("a state the next round reads twice is settled every round") {
    // un-settled, round r's plan would hold 2^r copies of the first state
    val out = Iterate("doubling", spark) {
      _.frames((1L to 5L).toDF("x"), 12)(s =>
        s.union(s).groupBy("x").agg(count(lit(1)).as("n")).select("x"))
    }
    assert(FastCut.planSize(out) < 8)
    assert(out.as[Long].collect().sorted.toSeq == (1L to 5L))
    assert(OpCache.liveCount > 0, "the last state is persisted and tracked")
    OpCache.releaseAll(blocking = true)
  }

  test("a state read once is cut when its plan outgrows the budget") {
    val rounds = Iterate.PlanBudget + 40
    val out = Iterate("linear", spark) {
      _.frames((1L to 5L).toDF("x"), rounds)(_.select((col("x") + 1).as("x")))
    }
    assert(FastCut.planSize(out) <= Iterate.PlanBudget)
    assert(out.as[Long].collect().sorted.toSeq == (1L to 5L).map(_ + rounds))
    assert(OpCache.liveCount > 0, "the cut state is persisted and tracked")
    OpCache.releaseAll(blocking = true)
  }
}

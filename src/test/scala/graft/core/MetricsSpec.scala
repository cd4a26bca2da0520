package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import graft.SparkSuite
import graft.operators.Dedup

class MetricsSpec extends SparkSuite {
  import spark.implicits._

  test("a labelled action is charged to its phase; totals are labelled plus unlabelled") {
    // a slow listener on the same bus holds every task-end event back,
    // so only a snapshot that drains the bus sees the last tasks
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    sc.addSparkListener(slow)
    val m = Metrics.attach(sc)
    try {
      val t0 = m.snapshot()
      Jobs.described(spark, "x")(sc.parallelize(1 to 100, 3).count())
      sc.parallelize(1 to 100, 5).count()
      val d = m.snapshot() - t0
      assert(d.phases.keySet == Set("x"))
      val x = d.phases("x")
      assert((x.jobs, x.tasks) == (1L, 3L))
      assert((d.unlabelled.jobs, d.unlabelled.tasks) == (1L, 5L))
      assert(d.total == x + d.unlabelled)
    } finally { sc.removeSparkListener(m); sc.removeSparkListener(slow) }
  }

  test("AQE's per-stage jobs inherit the label of the action that planned them") {
    val m = Metrics.attach(sc)
    try {
      val t0 = m.snapshot()
      Jobs.described(spark, "agg") {
        spark.range(0, 1000, 1, 4).groupBy(($"id" % 7).as("k")).count().collect()
      }
      val d = m.snapshot() - t0
      assert(d.unlabelled == Metrics.Zero)
      assert(d.phases.keySet == Set("agg") && d.total == d.phases("agg"))
      assert(d.total.jobs >= 1 && d.total.tasks >= 4)
    } finally sc.removeSparkListener(m)
  }

  test("connected components on a 64-node path shows its rounds as phases") {
    val m = Metrics.attach(sc)
    try {
      val t0 = m.snapshot()
      val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
      Dedup.connectedComponents(edges, "a", "b", maxIter = 10).collect()
      val d = m.snapshot() - t0
      val rounds = d.phases.keySet.filter(_.startsWith("cc: round "))
      assert(rounds.contains("cc: round 1") && rounds.size >= 2, d.phases.keySet)
      assert(d.total == d.phases.values.foldLeft(d.unlabelled)(_ + _))
    } finally sc.removeSparkListener(m)
  }
}

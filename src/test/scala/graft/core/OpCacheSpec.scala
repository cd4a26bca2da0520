package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSuite
import graft.operators.Dedup

/** Operator cache lifecycle: persists made on the caller's behalf must
  * be releasable, so a long-lived session doesn't accumulate resident
  * frames it has no handle to drop. */
class OpCacheSpec extends SparkSuite {

  private def docs = {
    import spark.implicits._
    (1 to 40).map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta doc $i"))
      .toDF("doc_id", "text")
  }

  test("releaseAll drops every frame an operator persisted") {
    OpCache.releaseAll(blocking = true)
    val before = sc.getPersistentRDDs.size
    // blockedJaccardPairs persists its inverted index via OpCache
    Dedup.blockedJaccardPairs(
      docs.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text"))),
      "doc_id", "text", "lang", "n_chars").count()
    assert(sc.getPersistentRDDs.size > before,
      "operator should have persisted an intermediate")
    assert(OpCache.liveCount > 0)
    OpCache.releaseAll(blocking = true)
    assert(OpCache.liveCount == 0)
    assert(sc.getPersistentRDDs.size == before,
      "release must return the cache to its pre-operator state")
  }

  test("checkpoint holds no lineage; release frees its cache and its rows") {
    OpCache.releaseAll(blocking = true)
    val before = sc.getPersistentRDDs.size
    val df = spark.range(200).groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
    val c = OpCache.checkpoint(df)
    assert(c.storageLevel != StorageLevel.NONE && OpCache.liveCount == 1)
    assert(rowsOf(c) == rowsOf(df))
    // the first action wrote the checkpoint: the leaf's lineage ends there
    val leaf = c.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case other => fail(s"not a leaf:\n${other.treeString}")
    }
    assert(leaf.isCheckpointed && leaf.dependencies.forall(_.rdd.dependencies.isEmpty))
    assert(sc.getPersistentRDDs.size == before + 2, "the cache and the checkpoint's rows")
    OpCache.release(c, blocking = true)
    assert(OpCache.liveCount == 0 && sc.getPersistentRDDs.size == before)
  }

  test("iterative CC tracks its final persisted state for release") {
    import spark.implicits._
    OpCache.releaseAll(blocking = true)
    val before = sc.getPersistentRDDs.size
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    Dedup.connectedComponents(edges, "a", "b").count()
    Dedup.connectedComponentsStars(edges, "a", "b").count()
    OpCache.releaseAll(blocking = true)
    assert(sc.getPersistentRDDs.size == before,
      "CC final label/edge frames must be released, not leaked")
  }

  test("collectScoped sees this thread's persists, never a concurrent thread's") {
    import spark.implicits._
    OpCache.releaseAll(blocking = true)
    // a "concurrent query" persisting on the same session while the
    // scope runs — its cache must survive the scoped release untouched
    val otherReady = new java.util.concurrent.CountDownLatch(1)
    val scopeDone = new java.util.concurrent.CountDownLatch(1)
    var otherFrame: org.apache.spark.sql.DataFrame = null
    val other = new Thread(() => {
      otherFrame = OpCache.persist(Seq((1L, "x")).toDF("id", "v"))
      otherFrame.count()
      otherReady.countDown()
      scopeDone.await()
    })
    other.start()
    otherReady.await()
    val (result, made) = OpCache.collectScoped {
      // operator-internal persist (no caller handle) + a direct one
      val pairs = Dedup.blockedJaccardPairs(
        docs.withColumn("lang", lit("en"))
          .withColumn("n_chars", length(col("text"))),
        "doc_id", "text", "lang", "n_chars")
      val mine = OpCache.persist(docs.limit(3))
      mine.count(); pairs.count()
      mine
    }
    scopeDone.countDown(); other.join()
    assert(made.exists(_ eq result), "directly persisted frame collected")
    assert(made.size >= 2, "operator-internal persists collected too")
    assert(!made.exists(_ eq otherFrame),
      "a concurrent thread's persist must NOT leak into the scope")
    made.foreach(OpCache.release(_, blocking = true))
    assert(otherFrame.storageLevel != StorageLevel.NONE,
      "scoped release left the concurrent query's cache intact")
    OpCache.releaseAll(blocking = true)
  }

  test("collectScoped nests: inner frames belong to the outer scope too") {
    import spark.implicits._
    OpCache.releaseAll(blocking = true)
    val (_, outer) = OpCache.collectScoped {
      val (inner, innerMade) = OpCache.collectScoped {
        OpCache.persist(Seq(1L).toDF("a"))
      }
      assert(innerMade.size == 1 && (innerMade.head eq inner))
      OpCache.persist(Seq(2L).toDF("b"))
    }
    assert(outer.size == 2,
      "outer scope must cover the inner block's persists as well")
    OpCache.releaseAll(blocking = true)
  }

  test("a frame whose plan another owner cached is neither tracked nor released") {
    import spark.implicits._
    OpCache.releaseAll(blocking = true)
    val base = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val owner = base.filter(col("v") > 0).persist()
    owner.count()
    val before = OpCache.liveCount
    val (_, made) = OpCache.collectScoped(OpCache.persist(base.filter(col("v") > 0)))
    assert(made.isEmpty && OpCache.liveCount == before,
      "a persist Spark serves from another owner's entry must not be tracked")
    OpCache.releaseAll(blocking = true)
    assert(owner.storageLevel != StorageLevel.NONE,
      "releaseAll dropped a cache the operator did not make")
    owner.unpersist(true)
  }
}

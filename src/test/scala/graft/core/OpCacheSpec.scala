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
    made.foreach { f => f.unpersist(true); OpCache.untrack(f) }
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

  test("StorageLevel.NONE disables operator caching entirely") {
    OpCache.releaseAll(blocking = true)
    val before = sc.getPersistentRDDs.size
    OpCache.setStorageLevel(StorageLevel.NONE)
    try {
      val d = docs.withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")))
      val withCache = Dedup.blockedJaccardPairs(
        d, "doc_id", "text", "lang", "n_chars").collect().toSet
      assert(sc.getPersistentRDDs.size == before,
        "NONE policy must not create cached RDDs")
      OpCache.setStorageLevel(StorageLevel.MEMORY_AND_DISK)
      val cached = Dedup.blockedJaccardPairs(
        d, "doc_id", "text", "lang", "n_chars").collect().toSet
      assert(withCache == cached, "cache policy must not change results")
    } finally {
      OpCache.setStorageLevel(StorageLevel.MEMORY_AND_DISK)
      OpCache.releaseAll(blocking = true)
    }
  }
}

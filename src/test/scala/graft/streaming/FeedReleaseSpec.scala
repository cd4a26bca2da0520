package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSuite
import graft.core.OpCache
import graft.operators.{Dedup, Multimodal, Similarity}

/** The micro-batch driver's release contract, feed by feed: each feed
  * runs over several staged micro-batches, and afterwards the operator
  * cache holds exactly what it held before plus what the feed returns —
  * never one cached frame per batch — while the frames the caller
  * passed in stay persisted. */
class FeedReleaseSpec extends SparkSuite {
  import spark.implicits._

  // 36 docs over ten texts with no word in common: doc i repeats the
  // text of doc i - 10, so a batch carries copies of earlier batches' docs
  private def docs: DataFrame =
    (0 until 36).map { i =>
      val k = i % 10
      (i.toLong, s"t$k a${k * 7} b${k * 13} c${k + 100} d${k * 3} e${k * 11}",
        s"src${i % 3}")
    }.toDF("doc_id", "text", "source")

  // the stored corpus: texts 0-4
  private def corpus = docs.filter(col("doc_id") < 5)

  /** `df` split by `id` mod `n`, staged as `n` micro-batches. */
  private def slices(df: DataFrame, id: String, n: Int = 3): DataFrame =
    graft.queries.StreamingQueries.stagedStream(spark,
      (0 until n).map(k => df.filter(pmod(col(id), lit(n)) === k)): _*)

  private def outDir(): String =
    java.nio.file.Files.createTempDirectory("graft_release_out")
      .resolve("out").toString

  /** The change in `OpCache.liveCount` across `feed`, after checking
    * that `callerFrames` are still persisted. */
  private def liveDelta(callerFrames: DataFrame*)(feed: => Unit): Int = {
    val before = OpCache.liveCount
    feed
    val after = OpCache.liveCount
    callerFrames.foreach(f => assert(f.storageLevel != StorageLevel.NONE,
      "a frame the caller passed in was released"))
    after - before
  }

  /** [[liveDelta]] for a feed that carries checkpointed state: the
    * session's persisted RDDs are also back to their count from before
    * the feed (the caller's frames filled first, so theirs are in that
    * count), so a released state freed its checkpoint's rows, not only
    * its `OpCache` entry. */
  private def releasedDelta(callerFrames: DataFrame*)(feed: => Unit): Int = {
    callerFrames.foreach(_.count())
    val rdds = sc.getPersistentRDDs.size
    val d = liveDelta(callerFrames: _*)(feed)
    assert(sc.getPersistentRDDs.size == rdds,
      s"${sc.getPersistentRDDs.size - rdds} persisted RDDs left behind")
    d
  }

  private def persistedIndex(df: DataFrame): Dedup.CorpusIndex = {
    val ix = Dedup.buildCorpusIndex(df, "doc_id", "text")
    Dedup.CorpusIndex(OpCache.persist(ix.hashes), OpCache.persist(ix.shingles),
      OpCache.persist(ix.bands))
  }

  private def frames(ix: Dedup.CorpusIndex) = Seq(ix.hashes, ix.shingles, ix.bands)

  test("ingestDedup releases every frame it persisted") {
    OpCache.releaseAll(blocking = true)
    val index = persistedIndex(corpus)
    val out = outDir()
    // six batches: an index whose plan nests every earlier batch's
    // would run out of memory planning the later ones
    val d = liveDelta(frames(index): _*) {
      EventStreams.ingestDedup(slices(docs.filter(col("doc_id") >= 5), "doc_id", 6),
        index, "doc_id", "text", out)
    }
    assert(d == 0, s"ingestDedup left $d frames cached")
    assert(spark.read.parquet(out).count() == 5, "texts 5-9 are admitted once each")
    OpCache.releaseAll(blocking = true)
  }

  test("componentMaintenance keeps only its returned labels") {
    OpCache.releaseAll(blocking = true)
    val index = persistedIndex(corpus)
    val labels0 = OpCache.persist(
      corpus.select(col("doc_id").as("node"), col("doc_id").as("component")))
    var labels: DataFrame = null
    val d = liveDelta(labels0 +: frames(index): _*) {
      labels = EventStreams.componentMaintenance(
        slices(docs.filter(col("doc_id") >= 5), "doc_id"),
        index, labels0, "doc_id", "text")
    }
    assert(d == 1, s"componentMaintenance left $d frames cached, expected its labels")
    assert(labels.storageLevel != StorageLevel.NONE)
    assert(labels.count() == 36)
    OpCache.releaseAll(blocking = true)
  }

  test("componentMaintenance carries labels with no lineage: one frame, the single-shot closure") {
    import org.apache.spark.sql.execution.LogicalRDD
    OpCache.releaseAll(blocking = true)
    val index = persistedIndex(corpus)
    val labels0 = OpCache.persist(
      corpus.select(col("doc_id").as("node"), col("doc_id").as("component")))
    val before = OpCache.liveCount
    val labels = EventStreams.componentMaintenance(
      slices(docs.filter(col("doc_id") >= 5), "doc_id", 4),
      index, labels0, "doc_id", "text")
    assert(OpCache.liveCount == before + 1)
    // the labels are a leaf over a checkpointed RDD: nothing of the
    // batches' plans is reachable through them
    val leaf = labels.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd
      case other => fail(s"labels are not a leaf:\n${other.treeString}")
    }
    assert(leaf.isCheckpointed)
    assert(leaf.dependencies.forall(_.rdd.dependencies.isEmpty))
    val pairs = Dedup.pairsFromIndex(Dedup.buildCorpusIndex(docs, "doc_id", "text"),
      threshold = 0.5).select(col("a_id"), col("b_id"))
    val closure = Dedup.connectedComponents(
      pairs.unionByName(docs.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"))),
      "a_id", "b_id")
    assert(rowsOf(labels.select("node", "component")) ==
      rowsOf(closure.select("node", "component")))
    OpCache.releaseAll(blocking = true)
  }

  test("chunkIngestFeed releases every frame it persisted") {
    OpCache.releaseAll(blocking = true)
    val store0 = OpCache.persist(
      Multimodal.gearChunkHashes(corpus, "doc_id", "text").select(col("h")).distinct())
    val d = liveDelta(store0) {
      EventStreams.chunkIngestFeed(slices(docs, "doc_id"), store0,
        "doc_id", "text", outDir())
    }
    assert(d == 0, s"chunkIngestFeed left $d frames cached")
    OpCache.releaseAll(blocking = true)
  }

  test("profileMaintenanceFeed releases its state once the profile is written") {
    OpCache.releaseAll(blocking = true)
    val out = outDir()
    val d = releasedDelta() {
      EventStreams.profileMaintenanceFeed(slices(docs, "doc_id"),
        Seq("doc_id", "source"), c => Dedup.hash60(col(c).cast("string")), out)
    }
    assert(d == 0, s"profileMaintenanceFeed left $d frames cached")
    val rows = spark.read.parquet(out).select("col_name", "n_rows").as[(String, Long)]
      .collect().toMap
    assert(rows == Map("doc_id" -> 36L, "source" -> 36L))
    OpCache.releaseAll(blocking = true)
  }

  test("budgetGateFeed releases its state and keeps the caller's allocation") {
    OpCache.releaseAll(blocking = true)
    val alloc = OpCache.persist(docs.select(col("source")).distinct()
      .select(col("source"), lit(40L).as("alloc_tokens")))
    val out = outDir()
    val d = releasedDelta(alloc) {
      EventStreams.budgetGateFeed(slices(docs, "doc_id"), "doc_id", "source",
        size(split(col("text"), " ")).cast("long"), alloc, out)
    }
    assert(d == 0, s"budgetGateFeed left $d frames cached")
    assert(spark.read.parquet(out).count() == 36)
    OpCache.releaseAll(blocking = true)
  }

  test("mediaIngestFeed releases its identity store") {
    OpCache.releaseAll(blocking = true)
    val media = Multimodal.syntheticImages(docs, "doc_id", "text")
      .select(col("media_id"), col("bytes"))
    val out = outDir()
    val d = releasedDelta() {
      EventStreams.mediaIngestFeed(slices(media, "media_id"), out)
    }
    assert(d == 0, s"mediaIngestFeed left $d frames cached")
    OpCache.releaseAll(blocking = true)
  }

  test("indexHealthFeed releases its deltas and cuts") {
    OpCache.releaseAll(blocking = true)
    val em = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat, 1f))
    }.toDF("vec_id", "embedding")
    val b = Similarity.buildIvfIndex(em.filter(pmod(col("vec_id"), lit(4)) === 0),
      "vec_id", "embedding", centroidStride = 8)
    val idx = Similarity.IvfIndex(OpCache.persist(b.centroids), OpCache.persist(b.cells))
    val out = outDir()
    // nine one-vector batches: the eighth checkpoints the union of eight
    // deltas, the ninth appends one more
    val rest = (0 until 40).filter(_ % 4 != 0).take(9).map(_.toLong)
    val settled = scala.collection.mutable.ListBuffer.empty[Int]
    var batch = 0
    val d = releasedDelta(idx.centroids, idx.cells) {
      EventStreams.indexHealthFeed(
        graft.queries.StreamingQueries.stagedStream(spark,
          rest.map(id => em.filter(col("vec_id") === id)): _*),
        idx, "vec_id", "embedding", lit(1L), out,
        probe = { ix =>
          batch += 1
          ix.cells.queryExecution.analyzed match {
            case _: org.apache.spark.sql.execution.LogicalRDD => settled += batch
            case _ => ()
          }
        })
    }
    assert(settled.toList == List(8), s"checkpointed at batches ${settled.toList}")
    assert(d == 0, s"indexHealthFeed left $d frames cached")
    assert(spark.read.parquet(out).count() == rest.size)
    OpCache.releaseAll(blocking = true)
  }

  test("lateDataAudit releases each batch") {
    OpCache.releaseAll(blocking = true)
    val events = (0 until 30).map { i =>
      (i.toLong, new Timestamp(1700000000000L + i * 600000L), (i % 4).toLong,
        if (i % 2 == 0) "view" else "click", i.toDouble, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = outDir()
    val d = liveDelta() {
      EventStreams.lateDataAudit(slices(events, "event_id"), out)
    }
    assert(d == 0, s"lateDataAudit left $d frames cached")
    OpCache.releaseAll(blocking = true)
  }
}

package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.FastCut
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for frames operators persist on the caller's
  * behalf (shingle tables, inverted indexes, signature tables, star
  * dims). Operators that consume an intermediate more than once cache
  * it so the expensive narrow work (shingling, hashing) runs once —
  * correct for a single job, but a long-lived session accumulates
  * resident frames it has no handle to drop. Routing those persists
  * here gives the session a release path: `OpCache.releaseAll()`
  * after consuming results returns the executors' storage memory
  * without nuking caches the APPLICATION made (unlike
  * `spark.catalog.clearCache()`, which drops those too).
  *
  * Per-round frames of iterative algorithms are released by
  * [[Iterate]] as later rounds supersede them; only frames still
  * resident when an operator RETURNS are tracked — and of those, the
  * rounds a loop's unmaterialized result still reads are released here
  * once it is materialized ([[supersede]]).
  */
object OpCache {

  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataFrame]()

  /** Persist `df` (`MEMORY_AND_DISK`) and track it for release. A frame
    * whose plan is already cached is left alone and not tracked: Spark
    * serves it from the existing entry, and releasing it would drop
    * that entry's owner's cache. */
  def persist(df: DataFrame): DataFrame = {
    sweep()
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK); live.add(df); noteScoped(df)
    }
    df
  }

  // checkpointed frame -> the RDD holding its checkpoint's rows
  private val checkpoints = new java.util.concurrent.ConcurrentHashMap[DataFrame, RDD[_]]()

  /** `df` computed now and held with no lineage — the state a
    * long-running loop carries from one step into the next, which must
    * not keep every earlier step's plan (and the broadcast relations
    * its RDDs reference) reachable, as a `FastCut.cut` frame does.
    * An eager local checkpoint stores the rows on disk; the frame over
    * it is [[persist]]ed and tracked like any, so reads are served from
    * the cache, and [[release]] frees the checkpoint with the cache. */
  def checkpoint(df: DataFrame): DataFrame = {
    val (s, rows) = FastCut.localCheckpoint(df, StorageLevel.DISK_ONLY)
    checkpoints.put(s, rows)
    persist(s)
  }

  /** Track an already-persisted frame ([[Iterate]]'s settled states). */
  private[core] def track(df: DataFrame): DataFrame = { sweep(); live.add(df); noteScoped(df); df }

  // stale frame -> the frame whose materialization frees it
  private val supersededBy =
    new java.util.concurrent.ConcurrentHashMap[DataFrame, DataFrame]()

  /** Track `stale` — a persisted frame nothing reads once `by` is
    * materialized, like a loop round the next round replaces — and
    * release it at the first call into OpCache after `by`'s cache is
    * filled. */
  def supersede(stale: DataFrame, by: DataFrame): Unit = {
    track(stale); supersededBy.put(stale, by); ()
  }

  // all checks before any release: releasing a frame first would leave
  // a frame it superseded waiting on an unpersisted cache
  private def sweep(): Unit =
    supersededBy.asScala.filter(e => FastCut.materialized(e._2)).keys
      .foreach(release(_))

  private val scope = new ThreadLocal[java.util.ArrayList[DataFrame]]()

  private def noteScoped(df: DataFrame): Unit = {
    val buf = scope.get()
    if (buf ne null) { buf.add(df); () }
  }

  /** Run `body` and return its result together with every frame
    * persisted (or tracked) ON THIS THREAD while it ran — including
    * frames persisted inside called operators the caller has no handle
    * to. This is the scoped-release primitive for streaming
    * micro-batches: release exactly the frames the batch created,
    * WITHOUT diffing the process-global registry (a global snapshot
    * diff would strip the live cache of any concurrent query that
    * persisted frames on the same SparkSession during the batch).
    * Scopes nest: an inner scope's frames also belong to the enclosing
    * scope, so an outer release still covers everything its block
    * made. The returned list may hold a frame the body already
    * released itself — [[release]] is idempotent, so releasing it
    * again is a no-op. */
  def collectScoped[A](body: => A): (A, Seq[DataFrame]) = {
    val outer = scope.get()
    val buf = new java.util.ArrayList[DataFrame]()
    scope.set(buf)
    try {
      val r = body
      val made = List.newBuilder[DataFrame]
      buf.forEach(f => made += f)
      (r, made.result())
    } finally {
      if (outer ne null) { outer.addAll(buf); scope.set(outer) }
      else scope.remove()
    }
  }

  /** Unpersist `df` — and its checkpoint, when [[checkpoint]] made it —
    * and stop tracking it. */
  def release(df: DataFrame, blocking: Boolean = false): Unit = {
    live.remove(df); supersededBy.remove(df)
    df.unpersist(blocking)
    Option(checkpoints.remove(df)).foreach(_.unpersist(blocking))
  }

  /** Unpersist every tracked frame, and every checkpoint; returns how
    * many frames were released. */
  def releaseAll(blocking: Boolean = false): Int = {
    supersededBy.clear()
    val all = live.asScala.toList
    all.foreach(release(_, blocking))
    checkpoints.asScala.keys.foreach(release(_, blocking))
    all.size
  }

  def liveCount: Int = { sweep(); live.size }
}

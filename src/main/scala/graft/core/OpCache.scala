package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.FastCut
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for frames operators persist on the caller's
  * behalf (shingle tables, inverted indexes, signature tables, star
  * dims). Operators that consume an intermediate more than once cache
  * it so the expensive narrow work (shingling, hashing) runs once —
  * correct for a single job, but a long-lived session accumulates
  * resident frames it has no handle to drop. Routing those persists
  * here gives the session a release path:
  *
  *  - `OpCache.releaseAll()` after consuming results returns the
  *    executors' storage memory without nuking caches the APPLICATION
  *    made (unlike `spark.catalog.clearCache()`, which drops those
  *    too);
  *  - `OpCache.setStorageLevel(StorageLevel.NONE)` turns operator
  *    caching off entirely (recompute semantics — results identical,
  *    narrow stages run per consumer).
  *
  * Per-round frames of iterative algorithms are released by
  * [[Iterate]] as later rounds supersede them; only frames still
  * resident when an operator RETURNS are tracked — and of those, the
  * rounds a loop's unmaterialized result still reads are released here
  * once it is materialized ([[supersede]]).
  */
object OpCache {

  @volatile private var level: StorageLevel = StorageLevel.MEMORY_AND_DISK
  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataFrame]()

  def storageLevel: StorageLevel = level

  /** `StorageLevel.NONE` disables operator-side caching. */
  def setStorageLevel(l: StorageLevel): Unit = level = l

  /** Persist `df` under the session policy and track it for release.
    * Under `StorageLevel.NONE` this is the identity — callers must not
    * rely on materialization side effects. A frame whose plan is already
    * cached is left alone and not tracked: Spark serves it from the
    * existing entry, and releasing it would drop that entry's owner's
    * cache. */
  def persist(df: DataFrame): DataFrame =
    if (level == StorageLevel.NONE) df
    else {
      sweep()
      if (df.storageLevel == StorageLevel.NONE) {
        df.persist(level); live.add(df); noteScoped(df)
      }
      df
    }

  /** Track an already-persisted frame (iterative algorithms persist
    * their final state directly — lineage truncation needs the
    * materialized RDD regardless of the cache policy). */
  def track(df: DataFrame): DataFrame = { sweep(); live.add(df); noteScoped(df); df }

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
      .foreach { stale => untrack(stale); stale.unpersist(false) }

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
    * released itself — `unpersist`/`untrack` are idempotent, so
    * releasing it again is a no-op. */
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

  /** Drop a frame from tracking without touching its storage — for
    * callers that released it themselves (index-scoped unpersist). */
  def untrack(df: DataFrame): Unit = { live.remove(df); supersededBy.remove(df); () }

  /** Unpersist every tracked frame; returns how many were released. */
  def releaseAll(blocking: Boolean = false): Int = {
    supersededBy.clear()
    var n = 0
    val it = live.iterator()
    while (it.hasNext) {
      it.next().unpersist(blocking)
      it.remove()
      n += 1
    }
    n
  }

  def liveCount: Int = { sweep(); live.size }
}

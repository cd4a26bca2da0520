package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.FastCut
import org.apache.spark.storage.StorageLevel

/** The round loop of every iterative operator (connected components,
  * star contraction, GD, PCA, k-means, PQ codebooks, NN-Descent,
  * PageRank, k-core, label propagation, the water-fill). The operator
  * supplies the round; `Iterate` owns the rest:
  *
  *  - '''Job labels.''' Every round runs under `<name>: round N`
  *    ([[Jobs.described]]), so profilers attribute each round's jobs.
  *
  *  - '''AQE scope.''' AQE materializes every exchange of a plan as its
  *    own job, and every `Lineage.cut`/`toRdd` of an adaptive plan
  *    finalizes eagerly, stage by stage. For corpus-scale plans that is
  *    the right trade (runtime coalescing, skew splits, broadcast
  *    conversion). For round plans that are uniform by construction —
  *    cached-partitioning joins, explicit broadcasts, aggregates bounded
  *    by a batch, a subgraph or a model — there is nothing to adapt, and
  *    the job fan costs ~100 ms of scheduling latency a job, several jobs a
  *    round. Such a loop runs with `adaptive = false`: its input frames
  *    are re-bound once ([[adopt]]) into a private clone of their
  *    session with AQE off. A plan is prepared under the conf of its own
  *    session (the session of its leftmost frame), so every plan built
  *    from adopted frames runs statically, while the caller's session —
  *    and any query running in it concurrently — stays adaptive; its
  *    conf is never written. The frames a loop returns are re-bound to
  *    the caller's session, so downstream corpus-scale plans adapt.
  *    Corpus-scale loops stay adaptive.
  *
  *  - '''Lineage cut and persistence.''' An un-cut loop state nests the
  *    previous round's plan inside the next; Catalyst re-analyzes the
  *    whole tree on every action even when each round's data is cached,
  *    and a state read more than once per round grows the tree
  *    geometrically (connected components died planning round ~8).
  *    Rebuilding the state over its own InternalRow RDD (`FastCut.cut`)
  *    is the iterative-algorithm contract on Spark (the role of GraphX
  *    checkpoint intervals; with executor-loss tolerance use
  *    `checkpoint()` to a reliable dir instead). One rule decides:
  *    a round's state is ''settled'' — cut, laid out, persisted — when
  *    it will be read more than once, or when its plan exceeds
  *    [[Iterate.PlanBudget]] nodes (`FastCut.planSize`). A state is read
  *    more than once when the round's convergence test reads it (the
  *    next round reads it again), or when this round read its own
  *    predecessor more than once (`FastCut.reads`; rounds are uniform).
  *    Unsettled, such a state re-runs its plan for every read. A state
  *    read once is cheaper unsettled for a few rounds: there is no RDD
  *    hop, and an adaptive cut would finalize the round stage by stage
  *    and drop its output partitioning. The cut comes before the persist, so an
  *    adaptive round runs adaptively (a cached plan compiles
  *    statically); the `layout` under the persist (a repartition) gives
  *    the next round's joins the cached partitioning they reuse.
  *
  *  - '''Release.''' Settled states are tracked in [[OpCache]], each
  *    handed to [[OpCache.supersede]] with its successor: it is
  *    unpersisted at the first OpCache call after the successor's cache
  *    is filled — nothing reads it after that. In a loop whose rounds
  *    run actions (a convergence test, an adaptive cut's stage jobs)
  *    that is a round later; in one whose rounds run none (a static
  *    NN-Descent), after the caller's first action on the result. The
  *    last settled state goes the same way once the frame the loop
  *    returns is filled, when that frame is a later, unsettled round
  *    the caller persists. Frames [[persist]]ed inside a round live
  *    until the round ends; outside a round, until the loop ends.
  *
  *  - '''Convergence.''' A loop with a convergence test that runs out of
  *    rounds returns silently wrong state (components split across
  *    labels), so it releases everything and throws
  *    `IllegalStateException` with the `diverged` message.
  */
final class Iterate private (name: String, caller: SparkSession, session: SparkSession) {
  import Iterate._

  private val held = ArrayBuffer.empty[DataFrame]
  private var roundHeld: ArrayBuffer[DataFrame] = null

  /** `df` re-bound to the loop's session — the identity in an adaptive
    * loop. */
  def adopt(df: DataFrame): DataFrame = FastCut.rebind(df, session)

  /** Persist `df` until the enclosing round ends, or until the loop
    * ends when called outside a round. */
  def persist(df: DataFrame): DataFrame = {
    (if (roundHeld ne null) roundHeld else held) += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def round[A](r: Int)(f: => A): A = {
    roundHeld = ArrayBuffer.empty
    try Jobs.described(caller, s"$name: round $r")(f)
    finally { roundHeld.foreach(_.unpersist(false)); roundHeld = null }
  }

  /** `n` rounds over a state that is not a frame (a model held in
    * memory). */
  def fold[S](init: S, n: Int)(step: S => S): S =
    (1 to n).foldLeft(init)((s, r) => round(r)(step(s)))

  /** Rounds over a frame state: exactly `maxRounds` without `until`;
    * with it, until `until(previous, next)` holds, throwing
    * `diverged` (default: `<name> did not converge within N rounds`)
    * when `maxRounds` run out. `init`, if persisted, belongs to the
    * loop like every later state. Returns the last state, bound to the
    * caller's session. */
  def frames(
      init: DataFrame, maxRounds: Int,
      layout: DataFrame => DataFrame = identity,
      until: (DataFrame, DataFrame) => Boolean = null,
      diverged: String = null)(
      step: DataFrame => DataFrame): DataFrame = {
    var settled = Vector(init).filter(_.storageLevel != StorageLevel.NONE)
    var cur = init
    var r = 0
    var done = false
    while (!done && r < maxRounds) {
      r += 1
      round(r) {
        var next = step(cur)
        if ((until ne null) || FastCut.reads(next, cur) > 1 ||
          FastCut.planSize(next) > PlanBudget) {
          next = OpCache.track(layout(FastCut.cut(next))
            .persist(StorageLevel.MEMORY_AND_DISK))
          settled.lastOption.foreach(OpCache.supersede(_, next))
          settled :+= next
        }
        done = (until ne null) && until(cur, next)
        cur = next
      }
    }
    if ((until ne null) && !done) {
      settled.foreach { f => OpCache.untrack(f); f.unpersist(false) }
      throw new IllegalStateException(Option(diverged)
        .getOrElse(s"$name did not converge within $maxRounds rounds"))
    }
    settled.lastOption.filter(_ ne cur).foreach(OpCache.supersede(_, cur))
    FastCut.rebind(cur, caller)
  }
}

object Iterate {

  /** Plan nodes a loop state read once per round may reach before it is
    * settled. Each nested round makes every later plan of the loop
    * longer to analyze, and AQE re-plans the rest of the tree after
    * every stage; settling costs an RDD hop, a cache and, in an adaptive
    * loop, the cut's eager stage jobs. Measured on PageRank (7 nodes a
    * round) and label propagation (11) at 2–40 rounds, 20- and
    * 5,000-node graphs, local[4], median of three. Against the old
    * rule (cut every round past four), this budget (a settlement every
    * 6 PageRank or 4 LPA rounds) ran 0.64–1.11× the time, except the
    * 5,000-node PageRank at 5–40 rounds, 1.14–1.30×. Settling every
    * round and a 32-node budget ran within ~20% of each other; 64 ran
    * 12–40 rounds up to 1.9× slower than settling every round; 256 had
    * not finished the sweep after 8 min (settling every round: 4 min),
    * its driver busy in analysis. The floor is the
    * registry's: qd25's 3-round LPA is 35 nodes, and settling its last
    * round raised it from 5 jobs and 11 tasks to 28 and 95. */
  val PlanBudget = 40

  /** [[Iterate#frames]] over `init` as an adaptive loop of its own, for
    * a loop that needs nothing else of `Iterate`. */
  def frames(name: String, init: DataFrame, rounds: Int)(
      step: DataFrame => DataFrame): DataFrame =
    Iterate(name, init.sparkSession)(_.frames(init, rounds)(step))

  /** Run `body` as the loop `name` over frames of `spark`. */
  def apply[A](name: String, spark: SparkSession, adaptive: Boolean = true)(
      body: Iterate => A): A = {
    val it = new Iterate(name, spark,
      if (adaptive) spark else FastCut.withoutAqe(spark))
    try body(it)
    finally it.held.foreach(_.unpersist(false))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.operators.Dedup

/** Process-level stored-artifact memo for the registry — the composed
  * production shape the per-query registry can't otherwise express: a
  * corpus clusters ONCE per snapshot (a RUN that writes a label table),
  * and every diagnostic that follows reads the STORED labels instead of
  * re-running the corpus-scale collapse + LSH + closure.
  *
  * The first query to need the labels for a given corpus dir builds
  * them ([[graft.operators.Dedup.corpusClusters]], default dials),
  * persists them via [[graft.operators.Dedup.writeLabels]] (the
  * CorpusIndex round-trip pattern), and records the store path; every
  * later query — in the same bench/verify session, or a Bench subset
  * that names it twice — gets the parquet read-back, label-table-sized.
  * Results are IDENTICAL either way: clustering is deterministic and
  * the round-trip is bit-exact (LabelStoreSpec), so oracles don't know
  * or care which path produced the frame.
  *
  * Keyed by corpus dir; store lives in a fresh temp dir per process, so
  * concurrent processes (bench + gate check) never share a path and a
  * new process never reads a stale snapshot. computeIfAbsent makes the
  * build once-only under concurrent callers.
  */
object Stores {

  /** One lazily-built store path per corpus dir. The CHM maps dir →
    * holder and `computeIfAbsent` only ALLOCATES the holder (cheap,
    * non-blocking) — the corpus-scale clustering job runs under the
    * holder's own `lazy val` monitor, so two first-callers of the
    * SAME dir serialize on each other while callers of other dirs
    * (even ones hashing to the same CHM bin) proceed untouched.
    * Never run a Spark job inside a CHM bin lock. */
  private final class Holder(build: () => String) {
    lazy val path: String = build()
  }

  private val labelDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Holder]()

  /** The stored (node, component) duplicate-cluster label table for
    * `documents` at `dir` — built on first use, parquet read-back
    * after. ASSUMES `dir` is an immutable snapshot for the process
    * lifetime (the bench/verify contract: testdata dirs never change
    * mid-run); a pipeline re-pointing a dir at new data must use a
    * new path or a new process, or the memo serves stale labels. */
  def corpusLabels(s: SparkSession, dir: String): DataFrame = {
    val holder = labelDirs.computeIfAbsent(dir, d => new Holder(() => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_labels_").toString
      Dedup.writeLabels(
        Dedup.corpusClusters(Tables.load(s, d, "documents"),
          "doc_id", "text"), out)
      out
    }))
    Dedup.readLabels(s, holder.path)
  }
}

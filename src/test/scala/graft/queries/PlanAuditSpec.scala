package graft.queries

import graft.SparkSuite

/** Plan-shape guardrail over the whole registry: no query may plan a
  * cartesian or nested-loop join unless it is one of the named exact
  * baselines — the scale property the engine is built around, enforced
  * as a test so a future edit cannot silently regress a bucketed plan
  * back to O(n²). Planning only (executedPlan), no execution. */
class PlanAuditSpec extends SparkSuite {

  /** Queries allowed to contain a nested-loop join:
    *  - qs01/qs03: deliberate exact all-pairs baselines (docs say so);
    *  - qs02: the n×C centroid-scoring cross join against the
    *    BROADCAST centroid table — linear in n, not a pair join. */
  private val allowedNestedLoop =
    Set("qs01_cosine_topk", "qs03_cosine_neardup", "qs02_ivf_ann",
      "qs07_ivf_from_index", // qs02's centroid cross join, from storage
      "qs08_kmeans_ivf", // same broadcast centroid-scoring cross join
      "qs11_ivf_sq", // same centroid cross join; in-cell scoring is int8
      "qs15_ivf_pq", // same centroid cross join; in-cell scoring is PQ-ADC
      "qs16_ivf_pq_residual", // same centroid cross join; residual PQ-ADC
      // one-row calibration-array broadcast + broadcast query batch ×
      // corpus scan — both linear in the corpus, neither a pair join
      "qs10_scalar_quant",
      "qs12_sq_from_index", // qs10's scan against the stored codes
      // qs10's candidate scan + two id EQUI-joins for the rerank; the
      // only BNLJ is the inherited one-row calibration/query broadcast
      "qs13_sq_rerank",
      // pairwise join over the per-source SKETCH table — one row per
      // source (dim-sized by construction), corpus work is the sketch agg
      "qd15_kmv_setops",
      // one-row broadcast of the corpus total / vocab size / bigram
      // total crossed into a linear scan — not a pair join
      "q44_heavy_hitters", "qt20_ngram_perplexity", "qt22_pmi_collocations",
      // inherits qt20's one-row vocab broadcast (the perplexity stage)
      "qt25_quality_weighted_mix",
      // qs02's broadcast centroid-scoring cross join, reused for the
      // SemDeDup cell assignment; the pair stage is an equi-join
      "qs17_semantic_dedup",
      // one-row Bloom-filter broadcast crossed into the fact scan —
      // linear prefilter, the join that follows is an equi-join
      "q45_bloom_semi_join", "q46_bloom_anti_join",
      // qs10's broadcast query-batch × corpus linear scan, in the
      // 16-dim projected space — not a pair join
      "qs18_random_projection",
      // qs02's broadcast centroid-scoring cross join (queries × stored
      // centroids); the probe↔cell stage is an EQUI-join on
      // (cent_id, label)
      "qs19_filtered_ann",
      // same inherited broadcast centroid-scoring cross join; the
      // probe↔cell stage is an EQUI-join on cent_id with the label
      // inequality as an in-join filter (negative predicates pass
      // ~(L−1)/L of pairs — nothing to partition by)
      "qs23_hard_negatives",
      // qs01's broadcast query-batch × corpus linear scan over the
      // in-engine hashed embeddings — linear in the corpus, never a
      // pair join; the qs IVF ladder is the scale path for the same
      // vectors
      "qt31_doc_neighbors",
      // qs02's broadcast centroid-scoring cross join twice over (the
      // base build + the incremental batch assignment); the serve
      // stage is qs07's cell EQUI-join
      "qs28_ivf_insert",
      // per-table 1×1 count-aggregate broadcasts crossed into 1-row
      // frames (the qw19 zone-map precedent) — audit metadata, never
      // data×data
      "qw21_erasure_execute",
      // qs02's broadcast centroid-scoring cross join, fed by the
      // hashed doc embeddings — the composition inherits the same
      // linear-in-corpus exception
      "qs24_hashed_ivf",
      // inherits qs15's broadcast centroid/codebook cross joins; the
      // rerank stage itself is two id EQUI-joins
      "qs20_ivfpq_rerank",
      // one-row broadcast of the 16 KB CMS grid crossed into the
      // per-key estimate projection / the one-row exact-size frame —
      // never a pair join (q53's "join" exists only as the exact
      // baseline the estimate is compared against)
      "q52_cms_freq", "q53_cms_join_size",
      // one-row broadcast of the corpus token total crossed into the
      // per-(source, token) term projection — never a pair join
      "qt30_source_divergence",
      // one-row broadcasts of the two corpus totals crossed into the
      // KB-sized bucket table — never a pair join
      "qt32_importance_resample",
      // per-round one-row bias/doc-count broadcasts crossed into the
      // per-doc margin aggregate — never a pair join
      "qt33_quality_classifier",
      // inherits qt33's one-row bias/doc-count broadcasts (the
      // classifier-filter stage); the dedup stage is qd07's equi-join
      // pipeline
      "qt34_classifier_curation",
      // one-row as-of (max commit ts) broadcast crossed into the
      // month-winner table — commit-log metadata, never data×data
      "qw22_retention_plan",
      // qs01's broadcast query-batch × corpus linear scan for MMR
      // candidate generation; the greedy steps run over candidate-
      // bounded persisted frames (equi-joins + per-query windows)
      "qs21_mmr_rerank",
      // contains qs01's exact baseline (documented O(n²) reference)
      // plus a 1-row × 1-row final cross join; the recall join itself
      // is an equi-join on (vec_id, nbr_id)
      "qs22_recall_report",
      // per-FK-edge 1-row × 1-row cross join of the two count
      // aggregates; the orphan detection itself is a left-anti
      // equi-join per edge
      "qw15_referential_integrity",
      // per-layout 1-row × 1-row cross join of the folded zone-map
      // counters with the matching-row count; the zone maps themselves
      // come from one hash aggregate over the table
      "qw19_zone_pruning",
      // qs02's broadcast centroid-scoring cross join, reused twice for
      // the IVF entry routing (corpus assignment + query probes); the
      // walk itself is equi-joins over the cut edge table
      "qs30_ivf_routed_graph",
      // one-row globals (n_keys, total_rows) broadcast crossed into
      // the ≤topN skew-key rows — metadata, never data×data
      "q62_skew_report",
      // three 1-row count aggregates cross-joined into the one-row
      // report; the truth/LSH pair work is all equi-joins
      "qd37_lsh_recall",
      // per-round one-row globals (muv, Σc, norm, n) broadcast crossed
      // into the dim-row model / per-vector aggregates — the Logit
      // bias pattern; corpus passes are equi-joins on vec_id/dim
      "qs31_pca_projection",
      // inherits qs31's one-row training broadcasts plus the final
      // 1-row × 1-row report cross join
      "qs32_pca_variance",
      // qs10's broadcast query-batch × corpus linear scan (benchmark
      // vectors broadcast, one corpus pass, map-side struct-max) —
      // never a pair join
      "qs33_semantic_leakage",
      // qs02's broadcast centroid-scoring cross join (probe fan-out
      // scored once) + qs01's documented exact baseline for truth —
      // the sweep points themselves are filters + equi-joins
      "qs35_probe_sweep",
      // qs10's one-row calibration-array broadcast crossed into the
      // linear quantize/dequantize pass — never a pair join
      "qs36_sq_distortion",
      // qs15's broadcast codebook cross joins (train/encode); the
      // reconstruction is a (m, cent_id) equi-join
      "qs37_pq_distortion",
      // per-round one-row (remaining budget, weight sum) broadcast
      // crossed into the |sources|-row state frame — metadata-sized
      "qt39_token_budget",
      // inherits qt39's one-row waterfill broadcasts; the execution
      // side is equi-joins on (source, bucket) / source
      "qt40_budget_mix",
      // qd37's 1-row count-aggregate report cross joins; the sampled
      // truth / LSH pair work is all equi-joins (sample²-bounded)
      "qd40_lsh_recall_sampled",
      // qs02's broadcast centroid-scoring cross join on the bench
      // probe side; the probe↔cell stage is an EQUI-join on cent_id
      "qs38_semantic_leakage_indexed",
      // qs33's broadcast sampled-query-batch × corpus linear truth
      // scan + qs02's centroid cross join for the served side + the
      // 1-row report cross joins — sample·corpus, never corpus²
      "qs39_recall_sampled",
      // qs02's broadcast centroid cross join over the BENCH-side
      // index (eval-set-sized); the probe↔cell stage and the surface
      // channel are equi-joins
      "qt42_dual_decontamination",
      // qs02's broadcast centroid cross join builds the audited
      // index; the stats themselves are one hash agg + a broadcast
      // anti-join + the 1-row report cross join
      "qs40_ivf_index_stats",
      // same, over the k-means-trained quantizer (qs08's exception)
      "qs41_trained_index_stats",
      // qs02's broadcast centroid cross join builds the index being
      // split; the split itself is cent_id equi-joins + per-cell
      // windows over member-bounded partitions
      "qs42_hot_cell_split",
      // inherits qt42's bench-side centroid cross join; the rollup
      // is one hash aggregate
      "qt43_contamination_rate")

  test("no unexpected cartesian/nested-loop joins anywhere in the registry") {
    val dir = "/root/testdata/sf0.001"
    val offenders = Registry.all
      .filterNot(_.name.startsWith("qst")) // streaming queries execute on build
      .flatMap { q =>
        val plan = q.run(spark, dir).queryExecution.executedPlan.toString
        val bad = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        if (bad && !allowedNestedLoop(q.name)) Some(q.name) else None
      }
    assert(offenders.isEmpty, s"unexpected cartesian-shaped plans: $offenders")
  }

  test("every window in the registry has a partition spec") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    val offenders = Registry.all
      .filterNot(_.name.startsWith("qst"))
      .flatMap { q =>
        q.run(spark, dir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => q.name
        }
      }.distinct
    // a constant partition key the optimizer folds away IS a constant-key
    // window — judge it by the same allow-list (q50's lit(0) key is
    // eliminated in the optimized plan; q16's survives analysis only)
    val bad = offenders.filterNot(allowedConstantKeyWindow)
    assert(bad.isEmpty, s"partitionless windows (single-reducer sort): $bad")
  }

  /** Queries allowed a CONSTANT-key window (a single-reducer window in
    * disguise — partitionBy(lit(0)) satisfies "has a partition spec" on
    * a technicality). Each entry needs the same justification a global
    * window would: the windowed frame is driver-sized by construction. */
  private val allowedConstantKeyWindow = Set(
    "q16_window_ffill", // W1: order-sensitive Excel-sheet forward-fill,
                        // sheet-sized input (MoreTransformers.scala)
    // moving-average trend over the DAILY AGGREGATE (one row per day;
    // the event stream collapses in a hash agg first) — years of data
    // is thousands of window rows
    "q50_seasonal_decompose",
    // rank over the ALREADY-LIMITED topN skew keys (≤5 rows by
    // construction — the TakeOrdered limit runs first)
    "q62_skew_report")

  test("no constant-key (de-facto global) windows outside the allow-list") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    val offenders = Registry.all
      .filterNot(_.name.startsWith("qst"))
      .flatMap { q =>
        q.run(spark, dir).queryExecution.optimizedPlan.collect {
          // every partition key folded to a literal → one reducer gets
          // the whole input, same failure mode the empty-spec test bans
          case w: LWindow if w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(_.foldable) => q.name
        }
      }.distinct
    val bad = offenders.filterNot(allowedConstantKeyWindow)
    assert(bad.isEmpty, s"constant-key windows (single-reducer in disguise): $bad")
  }

  test("column pruning reaches the parquet scan (narrow projections)") {
    import org.apache.spark.sql.functions.col
    val li = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val q = li.filter(col("l_quantity") > 10)
      .select(col("l_returnflag"), col("l_quantity"))
    val scanMeta = q.queryExecution.executedPlan.toString
    // the 16-column lineitem scan must read only the two referenced
    // columns — ReadSchema in the scan node is the proof
    val readSchema = scanMeta.linesIterator
      .find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no parquet scan in plan:\n$scanMeta"))
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      readSchema)
    // and the predicate is pushed to the reader
    assert(scanMeta.contains("PushedFilters") &&
      scanMeta.contains("GreaterThan(l_quantity"), scanMeta.take(800))
  }

  test("qt10 scans the raw corpus exactly once (n_docs from cached tf)") {
    val dir = "/root/testdata/sf0.001"
    graft.core.OpCache.releaseAll(blocking = true)
    try {
      val q = Registry.byName("qt10_tfidf_topk").run(spark, dir)
      // InMemoryRelation's string render embeds its cached child plan,
      // so count REAL relations in the executing tree instead: the tf
      // cache should satisfy every consumer, leaving zero direct
      // parquet scans of documents in the query plan.
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val docScans = q.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
          case o => o.toString
        }
      }.count(_.contains("documents"))
      assert(docScans <= 1,
        s"documents scanned $docScans times — n_docs must come from the cached tf, not a second pass")
    } finally graft.core.OpCache.releaseAll(blocking = true)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed text-side lifecycle, one
  * operator: language filter → quality rules (token counts, type-token
  * ratio) → repetition rules (Gopher) → PII redaction → exact dedup of
  * the redacted text. What qw01 is to the relational lifecycle, this
  * is to the corpus-curation surface: proof the library's stages
  * compose into the pipeline a training-data run actually executes.
  *
  * Scale shape is the sum of its parts, every one audited separately:
  * narrow filters and expressions until the repetition join (doc-local
  * aggregates on uniform keys) and the final dedup (one hash shuffle).
  * Filters run cheapest-first so each stage sees only survivors.
  */
object Curation {

  /** Returns the curated corpus: (doc_id, lang, n_tokens,
    * redacted_md5), one row per kept document. */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      langs: Seq[String]): DataFrame = {
    val lf = docs.filter(col(langCol).isInCollection(langs))
    val withQ = lf.select(
      (Seq(col(idCol).as("doc_id"), col(langCol).as("lang"),
        col(textCol).as("text")) ++
        TextAnalysis.qualityColumns(col(textCol))): _*)
    val q = withQ.filter(col("keep"))
      .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"))
    val rep = QualityRules.repetitionStats(q, "doc_id", "text")
      .filter(col("keep")).select(col("doc_id"))
    val red = q.join(rep, Seq("doc_id"))
      .withColumn("redacted_md5",
        md5(Pii.redact(col("text")).cast("binary")))
    // keep-min-per-hash via groupBy + self semi-join (the qd01 shape):
    // map-side partial aggregation, so a mega-group of identically
    // redacted boilerplate never concentrates on one reducer the way a
    // per-hash window sort would
    val keep = red.groupBy(col("redacted_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
    red.join(keep, Seq("redacted_md5", "doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("redacted_md5"))
  }

  /** LEARNED-filter curation — [[curate]]'s rule stack replaced by the
    * trained classifier ([[Logit]]): distill the trusted labeling into
    * a scorer, keep documents scoring ≥ `threshold`, then run the
    * production-order near-dedup ([[graft.operators.Dedup.dedupCorpus]]:
    * exact-collapse → LSH over representatives → greedy keep) on the
    * kept pool. Output (doc_id, score) of the surviving documents —
    * the "replace my regex quality rules with a fasttext-style model"
    * migration every corpus team eventually makes, as one composed,
    * bit-reproducible operator (training is [[Logit.train]]'s
    * DECIMAL-quantized GD; the filter threshold compares the rounded
    * score, so the cut is engine-exact).
    *
    * Scale shape: training is offline-amortized (KB model, corpus-
    * linear rounds); scoring + filter are map-side against the
    * broadcast model; the dedup stage is qd07's collapse-first
    * pipeline. Nothing new moves — this is composition. */
  def curateWithClassifier(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      threshold: Double = 0.55,
      buckets: Int = 4096,
      rounds: Int = 4): DataFrame = {
    // trainAndScore shares ONE persisted feature table between the
    // training rounds and the final corpus scoring pass
    val scored = Logit.trainAndScore(docs, idCol, textCol, labelCol,
      buckets, rounds)
      .filter(col("score") >= threshold)
    // cut as well as persist: kept feeds the whole dedup machinery,
    // and an un-cut frame would make each of its constructions
    // re-analyze the classifier-scoring plan (the pipeline seam
    // lesson)
    val keptPlan =
      docs.join(scored.select(col("doc_id").as(idCol), col("score")),
        Seq(idCol))
    val kept = graft.core.OpCache.persist(
      graft.core.Lineage.cut(keptPlan))
    kept.join(
      Dedup.dedupCorpus(kept, idCol, textCol)
        .select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")
      .select(col(idCol).as("doc_id"), col("score"))
  }

  /** The COMPLETE training-data preparation lifecycle in one call —
    * what a corpus team actually ships: [[curate]] (language → quality
    * → repetition → PII → exact dedup), NEAR-dedup over the curated
    * pool ([[graft.operators.Dedup.dedupCorpus]]: exact-collapse,
    * MinHash-LSH over representatives, greedy keep), [[weightedMix]]
    * (per-source training rates), then
    * [[graft.operators.Packing.sequencePack]] into fixed-length
    * training sequences. Returns the packed assignment table
    * (doc_id, stratum, n_tokens, seq_id, seq_offset) covering exactly
    * the documents a training run would consume. Every stage is the
    * individually-audited operator — this is composition, not new
    * machinery, and the composed result stays bit-reproducible. */
  def trainingPipeline(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      sourceCol: String,
      langs: Seq[String],
      permille: Map[String, Int],
      defaultPermille: Int,
      maxLen: Int = 1024,
      nStrata: Int = 4): DataFrame = {
    val curated = curate(docs, idCol, textCol, langCol, langs)
    // the curated pool feeds near-dedup AND the survivor join; cut as
    // well as persist so the dedup machinery's many frame
    // constructions don't each re-analyze the curation plan (the
    // decontaminated variant's measured lesson: 9.3 → 6.3 s)
    val poolPlan =
      docs.join(curated.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    val pool = graft.core.OpCache.persist(
      graft.core.Lineage.cut(poolPlan))
    val kept = Dedup.dedupCorpus(pool, idCol, textCol)
    val surv = pool.join(kept.select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")
    val mixed = weightedMix(surv, idCol, sourceCol, permille, defaultPermille)
    Packing.sequencePack(mixed, idCol, textCol, maxLen, nStrata)
  }

  /** [[trainingPipeline]] with the stage every REAL pre-training run
    * adds and qt13 lacked: BENCHMARK DECONTAMINATION. After curation,
    * each pool document is scored by the winnowing fingerprints it
    * shares with the benchmark set
    * ([[graft.operators.Dedup.winnowingContamination]] — substring-
    * sensitive, so only ordered runs ≥ window+n−1 words trigger, not
    * bag-of-words coincidence) and documents above `maxSharedFp` are
    * excluded BEFORE near-dedup/mixing/packing — contaminated text
    * must never reach a training sequence, and excluding it early also
    * keeps it from claiming a near-dup cluster's representative slot.
    *
    * Scale: the added stage is qd17's audited shape — benchmark
    * fingerprints winnowed to 2/(window+1) density and broadcast, the
    * pool side one narrow fingerprint pass + broadcast semi-join; no
    * new shuffle of the pool. */
  def trainingPipelineDecontaminated(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      sourceCol: String,
      langs: Seq[String],
      permille: Map[String, Int],
      defaultPermille: Int,
      maxLen: Int = 1024,
      nStrata: Int = 4,
      maxSharedFp: Long = 0L): DataFrame = {
    val curated = curate(docs, idCol, textCol, langCol, langs)
    val pool0 = graft.core.OpCache.persist(
      docs.join(curated.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi"))
    val cont = Dedup.winnowingContamination(pool0, bench, idCol, textCol)
    // cut as well as persist: pool feeds the whole dedup machinery
    // (shingle/band/pair/component stages each construct frames over
    // it), and an un-cut pool makes every one of those constructions
    // re-analyze the curation+contamination plan (the qt36 seam
    // lesson, applied one level down)
    val poolPlan = pool0.join(cont.filter(col("n_shared_fp") <= maxSharedFp)
      .select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    val pool = graft.core.OpCache.persist(
      graft.core.Lineage.cut(poolPlan))
    val kept = Dedup.dedupCorpus(pool, idCol, textCol)
    val surv = pool.join(kept.select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")
    val mixed = weightedMix(surv, idCol, sourceCol, permille, defaultPermille)
    Packing.sequencePack(mixed, idCol, textCol, maxLen, nStrata)
  }

  /** DUAL-MODALITY decontamination audit — the TWO leakage channels a
    * real pre-training run must close, as one table per corpus doc:
    *
    *  - SURFACE: winnowing fingerprints shared with the benchmark
    *    text ([[graft.operators.Dedup.winnowingContamination]] —
    *    catches verbatim and near-verbatim runs);
    *  - SEMANTIC: the doc's embedding within `cosThreshold` of a
    *    benchmark vector, probed through an IVF index built OVER THE
    *    BENCHMARK ([[graft.operators.Similarity.semanticLeakageReportIndexed]]
    *    with the roles flipped — catches paraphrase/translation that
    *    shares no n-grams). Indexing the benchmark is the right
    *    100 TB orientation: the bench index is eval-set-sized and
    *    builds once, the corpus makes ONE probing pass (per-doc cost
    *    = nProbe cells of a small index, never corpus × bench).
    *
    * Corpus and benchmark ids live in INDEPENDENT id spaces (separate
    * tables): a numeric collision between a doc_id and a bench id is a
    * coincidence and is scored like any other pair — the probe runs
    * with `excludeSelf = false` so a true semantic leak is never
    * suppressed by a surrogate-key accident.
    *
    * `kept` = clears BOTH channels (n_shared_fp ≤ maxSharedFp AND
    * max_cos below threshold or no candidate). Zero-hit docs stay in
    * the output — this is the audit table a release review reads;
    * filter on `kept` for the gate. Semantic flags inherit IVF's
    * approximation contract (nProbe is the recall dial); surface
    * flags are exact.
    *
    * @return (doc_id, n_shared_fp, max_cos, kept) — max_cos NULL when
    *   the doc has no embedding or its probe finds no candidate. */
  def dualDecontaminationReport(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      em: DataFrame, vecIdCol: String, vecCol: String,
      n: Int = 3, window: Int = 4,
      benchStride: Int = 3, nProbe: Int = 2,
      cosThreshold: Double = 0.5, maxSharedFp: Long = 0L): DataFrame = {
    val surface = Dedup.winnowingContamination(
      corpus, bench, idCol, textCol, n, window)
    val emK = em.select(col(vecIdCol).as("vec_id"), col(vecCol).as("__emb"))
    val benchEm = emK.join(bench.select(col(idCol).as("vec_id")),
      Seq("vec_id"), "left_semi")
    val corpusEm = emK.join(corpus.select(col(idCol).as("vec_id")),
      Seq("vec_id"), "left_semi")
    val idx = Similarity.buildIvfIndex(
      benchEm, "vec_id", "__emb", benchStride)
    val sem = Similarity.semanticLeakageReportIndexed(
      idx, corpusEm, "vec_id", "__emb", cosThreshold, nProbe)
      .select(col("vec_id").as("doc_id"), col("max_cos"))
    surface.join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shared_fp"), col("max_cos"),
        (col("max_cos").isNotNull && col("max_cos") >= cosThreshold)
          .as("semantic_hit"),
        (col("n_shared_fp") <= maxSharedFp &&
          (col("max_cos").isNull || col("max_cos") < cosThreshold))
          .as("kept"))
  }

  /** One-row CONTAMINATION-RATE rollup of
    * [[dualDecontaminationReport]] — the MODEL-CARD number: how much
    * of the corpus each leakage channel flags, their overlap, and the
    * total drop rate a release review signs off on. One hash
    * aggregate over the audit table; rate is a single end division
    * rounded to 6 (NULL on an empty corpus). */
  def contaminationRate(report: DataFrame): DataFrame =
    report.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(when(col("n_shared_fp") > 0, 1L).otherwise(0L))
        .cast("long").as("n_surface"),
      sum(when(col("semantic_hit"), 1L).otherwise(0L))
        .cast("long").as("n_semantic"),
      sum(when(col("n_shared_fp") > 0 && col("semantic_hit"), 1L)
        .otherwise(0L)).cast("long").as("n_both"),
      sum(when(!col("kept"), 1L).otherwise(0L))
        .cast("long").as("n_dropped"))
      .select(col("n_docs"), col("n_surface"), col("n_semantic"),
        col("n_both"), col("n_dropped"),
        when(col("n_docs") > 0,
          round(col("n_dropped").cast("double") /
            col("n_docs").cast("double"), 6)).as("drop_rate"))

  /** Exact per-group percentile cut — keep the top `keepPermille`‰ of
    * each group by `scoreCol` (ties broken by ascending `idCol`, so
    * the kept set is deterministic). The per-domain quality-percentile
    * filter every curation run applies ("keep the longest/highest-
    * quality 25% of each source"), with integer-exact boundary
    * semantics: row kept iff rank·1000 ≤ count·permille, i.e. exactly
    * floor(count·permille/1000) rows per group — no float percentile,
    * so engines can't disagree at the boundary.
    *
    * Scale shape: one window pass partitioned by the group key. Sound
    * when groups are numerous (domains at corpus scale — millions of
    * keys, each reducer-sized); for a FEW huge groups use the
    * histogram-quantile threshold ([[Histogram.quantileEstimates]],
    * q38's machinery) to derive an approximate score cut and filter
    * narrowly instead of ranking. Output keeps the rank so downstream
    * stages can re-cut tighter without re-sorting. */
  def percentileCut(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      keepPermille: Int): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000,
      "keepPermille is permille (0..1000)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
    val ranked = df
      .withColumn("grp_rank", row_number().over(
        w.orderBy(col(scoreCol).desc, col(idCol))).cast("long"))
      .withColumn("grp_n", count(lit(1)).over(w))
    ranked.filter(col("grp_rank") * 1000 <= col("grp_n") * keepPermille)
      .select(col(idCol), col(groupCol), col(scoreCol), col("grp_rank"))
  }

  /** QUALITY-weighted sampling (the CCNet head/middle/tail treatment
    * generalized): score every document with the self-trained bigram-
    * LM perplexity ([[TextAnalysis.ngramPerplexity]]), cut each
    * source into `tierPermille.size` equal perplexity tiers (tier 0 =
    * most natural text), and keep each document with its TIER's
    * sampling rate via the content-stable hash — so high-quality text
    * is upsampled and boilerplate-ish text downsampled per source,
    * deterministically. Tier boundaries are integer-exact
    * (`(rank−1)·nTiers div count`) and the keep decision is the
    * [[weightedMix]] hash discipline, so the kept set is
    * partitioning- and engine-invariant. Documents with < 2 tokens
    * have no bigram score and are excluded (they are below any
    * quality filter's floor anyway — run [[curate]] upstream).
    *
    * Scale shape: perplexity is one Zipfian-keyed hash agg + scoring
    * join (qt20's audited plan); tiering is one window partitioned by
    * source (domains are numerous at corpus scale); the keep filter
    * is narrow. Output: (doc_id, source, tier, bits_per_bigram).
    *
    * Direction note, stated honestly: with a SELF-trained LM,
    * repetitive boilerplate scores LOW perplexity (it predicts
    * itself), so tier 0 is "most predictable", not "best" — CCNet
    * avoids this by scoring with an external wiki-trained LM. The
    * tier RATES are the caller's policy: pass descending rates to
    * upsample predictable text (external-LM setting) or ascending
    * ones to suppress boilerplate (self-trained setting); the
    * mechanics (exact tiers, stable hash keep) are identical. */
  def qualityWeightedMix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      tierPermille: Seq[Int]): DataFrame = {
    require(tierPermille.nonEmpty &&
      tierPermille.forall(p => p >= 0 && p <= 1000),
      "tierPermille: non-empty permille values (0..1000)")
    import org.apache.spark.sql.expressions.Window
    val nT = tierPermille.size
    val ppl = TextAnalysis.ngramPerplexity(docs, idCol, textCol)
      .select(col("doc_id"), col("bits_per_bigram"))
    val base = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"))
      .join(ppl, Seq("doc_id"))
    val w = Window.partitionBy(col("source"))
    val ranked = base
      .withColumn("grp_rank", row_number().over(
        w.orderBy(col("bits_per_bigram"), col("doc_id"))).cast("long"))
      .withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("tier", expr(s"((grp_rank - 1) * $nT) div grp_n"))
    ranked
      .filter(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(":"), col("source")))
          % 1000 <
          element_at(typedLit(tierPermille), col("tier").cast("int") + 1))
      .select(col("doc_id"), col("source"), col("tier"),
        col("bits_per_bigram"))
  }

  /** Leakage-safe train/val/test split: the split unit is the
    * near-duplicate CLUSTER ([[graft.operators.Dedup.corpusClusters]]
    * — exact and near duplicates, transitively closed), not the
    * document, so no (near-)duplicate pair can ever straddle train and
    * eval. Splitting documents independently silently leaks: a doc and
    * its template-sibling land in different splits and the eval set
    * scores memorization. Assignment hashes the CLUSTER id
    * (content-stable [[graft.operators.Dedup.hash60]]): reproducible
    * under any partitioning, any engine, and stable as the corpus
    * grows — adding documents to an existing cluster never moves it
    * between splits (the component id is the cluster-min doc id, which
    * only changes if an earlier-id member joins).
    *
    * Scale shape: clustering is qd11's audited collapse-first plan
    * (exact groups enter as stars, LSH over unique content only); the
    * split assignment itself is a narrow projection — zero additional
    * shuffle. Output: (doc_id, component, split) covering every input
    * document; singleton clusters hash like any other.
    *
    * @param valPermille  permille of clusters assigned to "val"
    * @param testPermille permille of clusters assigned to "test";
    *                     remainder is "train". Rates apply to CLUSTERS,
    *                     so the document-level fractions drift with
    *                     cluster-size skew — by design: the unit of
    *                     leakage is the cluster. */
  def clusterAwareSplit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      valPermille: Int = 100,
      testPermille: Int = 100,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille <= 1000,
      "split rates are permille and val + test must be <= 1000")
    val labels = Dedup.corpusClusters(docs, idCol, textCol,
      nShingle, k, bands, threshold)
    val h = pmod(Dedup.hash60(col("component").cast("string")), lit(1000))
    labels.select(col("node").as("doc_id"), col("component"),
      when(h < testPermille, lit("test"))
        .when(h < testPermille + valPermille, lit("val"))
        .otherwise(lit("train")).as("split"))
  }

  /** Deterministic weighted data mixing: keep each document with its
    * source's sampling rate (permille), decided by a content-stable
    * hash — the per-source up/down-weighting step that turns a curated
    * pool into a training mixture. Pure narrow filter (zero shuffle,
    * reproducible under any partitioning and across engines), unlike
    * RNG-based `sample()` which is neither. */
  def weightedMix(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      permille: Map[String, Int],
      defaultPermille: Int): DataFrame = {
    require((permille.values ++ Seq(defaultPermille)).forall(p =>
      p >= 0 && p <= 1000), "rates are permille (0..1000)")
    val rate = permille.foldLeft(lit(defaultPermille)) {
      case (acc, (src, p)) => when(col(sourceCol) === src, lit(p)).otherwise(acc)
    }
    // null-safe hash input: a null id or source must fall through to
    // the default rate, not null out the concat (and with it the row)
    docs.filter(
      pmod(Dedup.hash60(
        concat(coalesce(col(idCol).cast("string"), lit("")), lit(":"),
          coalesce(col(sourceCol), lit("")))),
        lit(1000)) < rate)
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every RAW-pool document by how much more
    * likely its hashed n-gram bag is under the TARGET distribution
    * than under the raw distribution, then keep the top scorers. This
    * is the model-free stand-in for "train a quality classifier":
    * point it at a trusted slice (a curated source, a wiki dump) and
    * it pulls the raw pool toward that slice's token statistics.
    *
    * Features are hashed unigram+bigram COUNTS (the paper's bag of
    * hashed n-grams): feature f lands in bucket hash60(f) mod
    * `buckets`, so the model is two B-sized count vectors regardless
    * of vocabulary — at 100 TB the bucket tables are KB-sized
    * broadcasts and the whole scorer is two hash aggregates plus one
    * broadcast join over the per-doc bucket counts. Importance weight
    * per bucket is the add-one-smoothed log-likelihood ratio
    * λ(b) = log2((c_t(b)+1)/(N_t+B)) − log2((c_r(b)+1)/(N_r+B));
    * a doc's score is Σ_b tf(b)·λ(b) over its own buckets only
    * (absent buckets contribute 0 to the sum on both sides of the
    * ratio — the sparse form, never a doc×B expansion).
    *
    * Determinism: the qt30 libm discipline — λ quantizes to
    * DECIMAL(30,6) before use, each tf·λ contribution quantizes to
    * DECIMAL(30,6) before its order-invariant sum, output rounds to
    * 6. Selection is top-`keep` by (score DESC, doc_id) via
    * orderBy+limit — per-partition top-N + merge, never a global
    * window. Deliberately NOT the paper's Gumbel-noise resample: a
    * ranked cut is reproducible across engines and runs, and the
    * noise exists only to de-bias repeated draws.
    *
    * @param targetPred rows where this is true form the target
    *                   distribution; the rest are the raw pool
    * @return (doc_id, score) — the `keep` best raw-pool documents */
  /** Per-doc hashed unigram+bigram bucket counts — the DSIR feature
    * extraction, shared by training ([[importanceResample]]) and
    * standalone scoring ([[importanceScore]]). Bag semantics (counts,
    * not sets), per the paper. */
  private def docBuckets(
      docs: DataFrame, idCol: String, textCol: String, buckets: Int,
      flag: Option[org.apache.spark.sql.Column]): DataFrame = {
    val words = split(coalesce(col(textCol), lit("")), " ")
    val feats = concat(words, Dedup.wordGrams(words, 2))
    val flagSel = flag.map(_.as("is_target")).toSeq
    val keyCols = col("doc_id") +: flag.map(_ => col("is_target")).toSeq
    docs.select(col(idCol).as("doc_id") +: flagSel :+
        explode(feats).as("f"): _*)
      .select(keyCols :+
        pmod(Dedup.hash60(col("f")), lit(buckets.toLong)).as("bucket"): _*)
      .groupBy(keyCols :+ col("bucket"): _*)
      .agg(count(lit(1)).cast("long").as("tf"))
  }

  /** The add-one-smoothed per-bucket log2-likelihood-ratio table
    * (bucket, lam) from the flagged count frame — the trained DSIR
    * model, ≤ `buckets` rows (KB-sized at any corpus size). */
  private def lamTable(fb: DataFrame, buckets: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ct = fb.filter(col("is_target"))
      .groupBy(col("bucket")).agg(sum(col("tf")).cast("long").as("ct"))
    val cr = fb.filter(!col("is_target"))
      .groupBy(col("bucket")).agg(sum(col("tf")).cast("long").as("cr"))
    val nt = ct.groupBy().agg(sum(col("ct")).cast("double").as("nt"))
    val nr = cr.groupBy().agg(sum(col("cr")).cast("double").as("nr"))
    ct.join(cr, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("bucket"),
        (log2((coalesce(col("ct"), lit(0L)).cast("double") + 1.0) /
            (col("nt") + buckets.toDouble)) -
          log2((coalesce(col("cr"), lit(0L)).cast("double") + 1.0) /
            (col("nr") + buckets.toDouble)))
          .cast(DecimalType(30, 6)).as("lam"))
  }

  /** (doc_id, score) from a (doc_id, bucket, tf) frame and a trained
    * model — the one scoring expression both the batch cut and the
    * streaming feed share, so their scores are bit-identical. */
  private def scoreBuckets(db: DataFrame, model: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    db.join(broadcast(model), Seq("bucket"))
      .select(col("doc_id"),
        (col("tf").cast("double") * col("lam").cast("double"))
          .cast(DecimalType(30, 6)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("c")).cast("double"), 6).as("score"))
  }

  /** Train the DSIR model: (bucket, lam) over the full doc pool with
    * `targetPred` marking the target slice. Persist/broadcast it and
    * score any doc set — including a stream's micro-batches — with
    * [[importanceScore]]. */
  def importanceModel(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    lamTable(docBuckets(docs, idCol, textCol, buckets, Some(targetPred)),
      buckets)
  }

  /** Score documents against a TRAINED model (bucket, lam) — pure
    * feature extraction + one broadcast join + one hash agg; no model
    * state is touched, so it serves batch reruns and streaming
    * micro-batches identically. `buckets` must match the model's. */
  def importanceScore(
      docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, buckets: Int = 1024): DataFrame =
    scoreBuckets(docBuckets(docs, idCol, textCol, buckets, None), model)

  def importanceResample(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column,
      buckets: Int = 1024, keep: Int = 100): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(keep >= 1, s"keep must be >= 1, got $keep")
    // one explode feeds BOTH the model and the raw-pool scoring
    val fb = graft.core.OpCache.persist(
      docBuckets(docs, idCol, textCol, buckets, Some(targetPred)))
    scoreBuckets(
      fb.filter(!col("is_target")).select(col("doc_id"), col("bucket"),
        col("tf")),
      lamTable(fb, buckets))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(keep)
  }

  /** The EXPORT step closing the pre-training lifecycle: run the
    * decontaminated pipeline ([[trainingPipelineDecontaminated]]) and
    * cut its packed sequences into token-balanced shards
    * ([[Sharding.tokenShards]] over the stable (stratum, seq_id)
    * sequence key) — the shard manifest a trainer consumes. Sequences,
    * not documents, are the shard unit: a shard boundary can never
    * split a training sequence. Output: (shard, n_seqs, shard_tokens),
    * deterministic at any partitioning like every stage upstream.
    */
  def exportManifest(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      sourceCol: String,
      langs: Seq[String],
      permille: Map[String, Int],
      defaultPermille: Int,
      maxLen: Int = 1024,
      nStrata: Int = 4,
      maxSharedFp: Long = 0L,
      shardBudget: Long = 4096L): DataFrame = {
    // CUT the pipeline lineage before the sharding stage fans out:
    // packed is sequence-manifest-sized, but an un-cut frame carries
    // the whole composed pipeline's logical plan into every downstream
    // action — the shard stage alone re-analyzed it per job (measured
    // 11.9 s over a CACHED 43-row input; < 1 s after the cut). The
    // Logit/connectedComponents entry-cut lesson, applied at the
    // pipeline→export seam.
    val packedPlan = trainingPipelineDecontaminated(docs, bench, idCol,
      textCol, langCol, sourceCol, langs, permille, defaultPermille, maxLen,
      nStrata, maxSharedFp)
    val packed = graft.core.OpCache.persist(
      graft.core.Lineage.cut(packedPlan))
    val seqs = packed
      .groupBy(col("stratum"), col("seq_id"))
      .agg(sum(col("n_tokens")).cast("long").as("seq_tokens"))
      .select(concat_ws(":", col("stratum"), col("seq_id")).as("seq_key"),
        col("seq_tokens"))
    Sharding.tokenShards(seqs, "seq_key", col("seq_tokens"), shardBudget)
      .select(col("shard"), col("n_docs").as("n_seqs"), col("shard_tokens"))
  }

  /** WATER-FILLING token-budget allocation — the mixture-planning
    * step before [[weightedMix]] samples anything: given per-source
    * availability, integer mixing weights, and a total token budget,
    * decide how many tokens each source contributes. Sources whose
    * proportional claim exceeds what they have SATURATE (contribute
    * everything) and their unused claim redistributes among the rest —
    * the standard water-filling fixpoint, reached here by `rounds`
    * unrolled passes (each pass saturates ≥ 1 source or is already
    * stable, so rounds ≈ the expected saturation depth; 3 covers the
    * usual "a couple of small high-weight sources" shape).
    *
    * All arithmetic is INTEGER (longs: want = ⌊R·w/Σw⌋), so the
    * allocation is bit-reproducible and the oracle replays it exactly;
    * floor slack (< |sources| tokens per round) is deliberately left
    * unallocated. Overflow bound: budget·max(w) must fit a long —
    * 10¹³ tokens × 10³ weight = 10¹⁶ ≪ 2⁶³.
    *
    * Scale shape: one hash agg over the corpus (per-source totals),
    * then `rounds` passes over a |sources|-row frame.
    * Output: (source, avail_tokens, alloc_tokens, saturated).
    */
  def tokenBudgetWaterfill(
      docs: DataFrame,
      sourceCol: String,
      tokensCol: org.apache.spark.sql.Column,
      weights: Map[String, Int],
      defaultWeight: Int,
      budget: Long,
      rounds: Int = 3): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(defaultWeight >= 0 && weights.values.forall(_ >= 0),
      "weights must be >= 0")
    val init = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(tokensCol.cast("long")).as("avail"))
      .select(col("source"), col("avail"),
        coalesce(element_at(typedLit(weights), col("source")), lit(defaultWeight))
          .cast("long").as("w"),
        lit(false).as("saturated"), lit(null).cast("long").as("want"))
    val st = graft.core.Iterate.frames("waterfill", init, rounds) { st =>
      val glob = st.agg(
        (lit(budget) -
          coalesce(sum(when(col("saturated"), col("avail"))), lit(0L)))
          .as("rb"),
        coalesce(sum(when(!col("saturated"), col("w"))), lit(0L)).as("ws"))
      st.crossJoin(broadcast(glob))
        .select(col("source"), col("avail"), col("w"),
          when(col("saturated"), col("want"))
            .when(col("ws") > 0, expr("(rb * w) div ws"))
            .otherwise(lit(0L)).as("want_n"),
          (col("saturated") ||
            (col("ws") > 0 && col("avail") <= expr("(rb * w) div ws")))
            .as("sat_n"))
        .select(col("source"), col("avail"), col("w"),
          col("sat_n").as("saturated"), col("want_n").as("want"))
    }
    st.select(col("source"), col("avail").as("avail_tokens"),
      when(col("saturated"), col("avail"))
        .otherwise(coalesce(col("want"), lit(0L))).as("alloc_tokens"),
      col("saturated"))
  }

  /** EXECUTE a [[tokenBudgetWaterfill]] plan: each source's documents
    * stand in stable md5-hash order and the PREFIX whose cumulative
    * tokens fit the source's allocation is kept — a document never
    * splits, a saturated source keeps everything (its allocation IS
    * its availability), and the kept set is a reproducible manifest
    * at any partitioning (the property that makes a budget-cut
    * retryable without re-sampling drift).
    *
    * Scale shape: the allocation plan is |sources| rows (broadcast);
    * the per-source cumulative sum is
    * [[Sharding.groupedTokenPrefix]]'s two-phase bucketed form — no
    * source ever pays a single-reducer sort. One corpus shuffle on
    * (source, bucket).
    *
    * @return kept (doc_id, source, tokens) */
  def waterfilledMix(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      tokensCol: org.apache.spark.sql.Column,
      weights: Map[String, Int],
      defaultWeight: Int,
      budget: Long,
      rounds: Int = 3): DataFrame = {
    val alloc = tokenBudgetWaterfill(docs, sourceCol, tokensCol,
      weights, defaultWeight, budget, rounds)
      .select(col("source").as("grp"), col("alloc_tokens"))
    Sharding.groupedTokenPrefix(docs, sourceCol, idCol, tokensCol)
      .join(broadcast(alloc), Seq("grp"))
      .filter(col("before") + col("tokens") <= col("alloc_tokens"))
      .select(col("doc_id"), col("grp").as("source"), col("tokens"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora — the beyond-reference
  * surface a training-data pipeline needs. All portable-hash based:
  * the base hash is the top 60 bits of MD5 (hex-parsed), so any engine
  * can reproduce signatures exactly. Everything is expression-level
  * (no UDFs) and shuffle-frugal: LSH turns the O(n²) near-dup problem
  * into equi-joins on band keys, which is the only strategy that
  * survives 100 TB (candidate generation stays linear in n, the join
  * shuffles only band keys, and verification touches candidate pairs
  * only).
  *
  * Caching contract: the pair operators persist intermediate frames
  * (shingle sets, inverted index, signatures) through
  * [[graft.core.OpCache]] — Spark's LRU evicts under pressure, but a
  * long-lived session running many corpora should call
  * `OpCache.releaseAll()` after consuming each result (or set
  * `OpCache.setStorageLevel(StorageLevel.NONE)` to disable operator
  * caching outright). [[Dedup.CorpusIndex.unpersist]] releases a
  * specific index's artifacts.
  */
object Dedup {

  /** Portable 60-bit hash: top 15 hex chars of md5, parsed base-16.
    * Fits a positive Long; reproducible in any engine with md5. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Word n-grams WITH multiplicity over a pre-split token array,
    * built as a ZIP of the array with its own shifted slices — each
    * shift is one arraycopy and the join is one concat per element,
    * ~4× faster than the former element_at-per-position transform
    * (measured 4.0 → 0.9 s on the sf0.1 trigram explode; same grams,
    * same order — parity-diffed). The trailing n−1 positions have no
    * full gram (the shifted arrays run out, zip_with pads with null,
    * concat propagates it) and are filtered, so size(words) < n
    * yields an empty array instead of the old backwards-`sequence`
    * hazard. */
  def wordGrams(words: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    if (n == 1) words
    else {
      val joined = (2 to n).foldLeft(words) { (acc, o) =>
        zip_with(acc,
          slice(words, lit(o), greatest(size(words) - (o - 1), lit(0))),
          (a, b) => concat(a, lit(" "), b))
      }
      filter(joined, x => x.isNotNull)
    }
  }

  /** Distinct word n-gram shingles — the set form of [[wordGrams]],
    * same size(words) >= n contract. */
  def wordShingles(words: Column, n: Int = 3): Column =
    array_distinct(wordGrams(words, n))

  /** LSH band-plan S-curve — the tuning table behind every banded
    * minhash choice in this engine (qd02's bands=4/rows=4, the probe
    * caps, the linkage thresholds): for every (bands, rows) split of a
    * k-minhash signature and every candidate jaccard level s, the
    * collision probability p = 1 − (1 − s^rows)^bands. Reading the
    * table row-wise answers "at my target threshold, which split puts
    * the S-curve's knee where I want it" — the decision that at 100 TB
    * separates a linear candidate stream from a flood (more bands =
    * higher recall AND more candidate pairs; this is the dial).
    *
    * Determinism: the powers are LEFT-FOLD repeated multiplication
    * (exact IEEE, identical in any engine), never a libm pow — the
    * same discipline as every float the engine emits. The table is
    * parameter-sized (divisor pairs × grid), metadata not data.
    *
    * @param k    signature length (split into bands × rows = k)
    * @param grid jaccard levels in integer percent (exact
    *             CAST(j)/100 division both engines) */
  def lshBandPlan(
      spark: org.apache.spark.sql.SparkSession,
      k: Int = 16,
      grid: Seq[Int] = (5 to 95 by 5)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import spark.implicits._
    val combos = (1 to k).filter(k % _ == 0).map(b => (b, k / b))
    def foldPow(base: Column, n: Column): Column =
      aggregate(sequence(lit(1), n), lit(1.0), (acc, _) => acc * base)
    combos.toDF("bands", "rows")
      .select(col("bands"), col("rows"),
        explode(typedLit(grid)).as("jaccard_pct"))
      .withColumn("s", col("jaccard_pct").cast("double") / 100.0)
      .withColumn("p_band", foldPow(col("s"), col("rows")))
      .select(lit(k).as("k"), col("bands").cast("long").as("bands"),
        col("rows").cast("long").as("rows"),
        col("jaccard_pct").cast("long").as("jaccard_pct"),
        (lit(1.0) - foldPow(lit(1.0) - col("p_band"), col("bands")))
          .as("p_collide"))
  }

  /** Modulus for the affine minhash family: 2^61 − 1 (Mersenne prime). */
  val MinhashP: Long = 2305843009213693951L

  /** MinHash signature: k minimum values of k hash functions over the
    * shingle set. One md5 per shingle, split into two 56-bit halves
    * (lo, hi); the k functions are the affine family
    * h_j = (lo + j·hi) mod (2^61−1) — the classic "one strong hash +
    * k pairwise combinations" construction. All arithmetic fits a
    * signed 64-bit long (lo,hi < 2^56, j < 16), so any engine
    * reproduces the signature exactly; and md5 runs once per shingle
    * instead of k times. */
  def minhashSignature(shingles: Column, k: Int): Column = {
    require(k <= 64, "j*hi must stay below 2^63")
    val pairs = transform(
      transform(shingles, s => md5(s.cast("binary"))),
      h => array(
        conv(substring(h, 1, 14), 16, 10).cast("long"),
        conv(substring(h, 15, 14), 16, 10).cast("long")))
    transform(
      sequence(lit(0), lit(k - 1)),
      j => array_min(transform(pairs,
        p => (element_at(p, 1) + j.cast("long") * element_at(p, 2)) % MinhashP)))
  }

  /** LSH band keys: signature split into `bands` bands of r rows, each
    * rendered "v1,v2,..,vr"; result is array<struct<band,bkey>>. */
  def bandKeys(sig: Column, bands: Int, r: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        array_join(
          transform(slice(sig, b * lit(r) + lit(1), lit(r)), _.cast("string")),
          ",").as("bkey")))

  /** Default in-bucket membership cap for the banded near-dup joins.
    * A mega-cluster of near-identical documents lands every member in
    * the same LSH bucket; uncapped, that bucket materializes one giant
    * array on a single reducer and emits O(m²) pairs. 256 members
    * (≤32640 pairs per bucket) keeps the reducer bounded while leaving
    * real near-dup buckets — tens of members at most — untouched. */
  val DefaultMaxBucketSize: Int = 256

  /** Bound bucket membership BEFORE the collect_list: keep the first
    * `cap` members of each (band, key) bucket in ascending id order.
    * The window partitions on the same keys as the downstream groupBy,
    * so the exchange is reused; buckets at or under the cap are
    * untouched (identical pair set), oversized buckets emit pairs among
    * their cap lowest ids only — truncation, not silent OOM. Members of
    * a truncated mega-bucket are still mutually reachable through the
    * kept representatives' pairs (connected-component closure), which
    * is the SCALING.md prescription for duplicate-mass clusters. */
  private def capBuckets(banded: DataFrame, band: Column, key: Column, cap: Int): DataFrame =
    banded
      .withColumn("__rn", row_number().over(
        Window.partitionBy(band, key).orderBy(col("doc_id"))))
      .filter(col("__rn") <= cap)
      .drop("__rn")

  /** Set jaccard of two distinct-element arrays (single exact double
    * division of two int counts — deterministic). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** MinHash+LSH near-duplicate pairs with exact-jaccard verification.
    *
    * Plan shape (scale-first): shingle (narrow) → EXPLODE shingles and
    * hash-aggregate the k signature mins per doc (each shingle's md5
    * runs exactly once; the k affine rehashes are codegen'd min
    * aggregates with map-side partials — no nested-lambda
    * re-evaluation) → explode band keys (×bands) → self equi-join on
    * (band, bkey) → distinct candidate id pairs → join shingle sets
    * back → verify jaccard ≥ threshold. No cartesian anywhere; data
    * volume is n·shingles rows into one hash aggregate, then n·bands.
    */
  /** (doc_id, shingles) table — persisted, since shingle sets feed the
    * signature build AND both sides of the verification join. */
  private[operators] def shingleTable(
      docs: DataFrame, idCol: String, textCol: String,
      nShingle: Int): DataFrame =
    graft.core.Partitioning.parallelize(docs, col(idCol))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= nShingle)
      .select(col("doc_id"), wordShingles(col("w"), nShingle).as("shingles"))
      .transform(graft.core.OpCache.persist)

  /** (doc_id, band, bkey) LSH band table from a shingle table. A
    * signature depends only on the document text, so band tables built
    * separately (a stored corpus table, a fresh batch table) bucket
    * identically to one built over the union — the property
    * [[incrementalDedup]]'s asymmetric probe relies on. */
  private[operators] def bandTable(
      sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    require(bands * r == k, "k must be divisible by bands")
    require(k <= 64, "j*hi must stay below 2^63")
    // (doc, shingle) → (doc, lo, hi): md5 once per shingle
    val hashed = sh
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 14), 16, 10).cast("long").as("lo"),
        conv(substring(col("h"), 15, 14), 16, 10).cast("long").as("hi"))
    val minCols = (0 until k).map(j =>
      min((col("lo") + lit(j.toLong) * col("hi")) % MinhashP).as(s"mh$j"))
    val sigs = hashed.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until r).map(i => col(s"mh${b * r + i}")): _*).as("bkey"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  def lshNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, nShingle)
    pairsFromBandTable(sh, bandTable(sh, k, bands), threshold, maxBucketSize)
  }

  /** Verified near-dup pairs from a prebuilt (shingle, band) pair of
    * tables. Candidate pairs: group each LSH bucket's members and emit
    * the in-bucket combinations — ONE pass over the signatures,
    * instead of a self-join that would evaluate the whole minhash
    * pipeline twice. Buckets are near-dup clusters, so member lists
    * stay small; the capBuckets guard bounds the pathological
    * mega-cluster case. */
  private[operators] def pairsFromBandTable(
      sh: DataFrame,
      banded: DataFrame,
      threshold: Double,
      maxBucketSize: Int): DataFrame = {
    val ids = col("ids")
    val pairs = capBuckets(banded, col("band"), col("bkey"), maxBucketSize)
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(ids) > 1)
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)),
          y => struct(x.as("a"), y.as("b")))))).as("pr"))
      .select(col("pr.a").as("a_id"), col("pr.b").as("b_id"))
      .distinct()
    pairs
      .join(sh.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("sa.shingles"), col("sb.shingles")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** RECALL audit of the MinHash-LSH configuration against exhaustive
    * exact-jaccard ground truth — the dedup family's counterpart of
    * qs22's ANN recall report, and the number that justifies a chosen
    * (k, bands) operating point before it gates a corpus (composes
    * with [[lshBandPlan]], which predicts the curve this measures).
    *
    * Ground truth is EXHAUSTIVE over pairs sharing ≥ 1 shingle (pairs
    * sharing none have jaccard 0 < any real threshold): the inverted
    * hashed-shingle index self-joined with NO df-cut and NO length
    * blocking, intersection counts → exact jaccard. That is O(Σ df²)
    * — an AUDIT operator: at 100 TB run it on a sample (the recall of
    * a hash-bucketing scheme is sample-estimable; the production path
    * never pays this cost), exactly like qs22's brute-force baseline.
    *
    * Output one row: n_true (exact pairs ≥ threshold), n_lsh
    * (LSH-verified output pairs — all pass the same threshold, so
    * precision is 1 by construction), n_missed (true pairs absent
    * from the LSH output: candidate-generation misses), recall
    * rounded to 6 (NULL when n_true = 0).
    */
  def lshRecallReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, nShingle)
    val lsh = graft.core.OpCache.persist(
      pairsFromBandTable(sh, bandTable(sh, k, bands), threshold, maxBucketSize)
        .select(col("a_id"), col("b_id")))
    val inv = graft.core.OpCache.persist(
      sh.select(col("doc_id"), size(col("shingles")).as("n_sh"),
          explode(col("shingles")).as("s"))
        .select(col("doc_id"), col("n_sh"), hash60(col("s")).as("shh")))
    val truth = graft.core.OpCache.persist(
      inv.as("p").join(inv.as("q"),
          col("p.shh") === col("q.shh") && col("p.doc_id") < col("q.doc_id"))
        .select(col("p.doc_id").as("a_id"), col("q.doc_id").as("b_id"),
          col("p.n_sh").as("na"), col("q.n_sh").as("nb"))
        .groupBy(col("a_id"), col("b_id"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double") >= threshold)
        .select(col("a_id"), col("b_id")))
    val nTrue = truth.agg(count(lit(1)).cast("long").as("n_true"))
    val nLsh = lsh.agg(count(lit(1)).cast("long").as("n_lsh"))
    val nMissed = truth.join(lsh, Seq("a_id", "b_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_missed"))
    nTrue.crossJoin(broadcast(nLsh)).crossJoin(broadcast(nMissed))
      .select(col("n_true"), col("n_lsh"), col("n_missed"),
        when(col("n_true") > 0,
          round((col("n_true") - col("n_missed")).cast("double") /
            col("n_true").cast("double"), 6)).as("recall"))
  }

  /** SAMPLED-TRUTH recall audit — [[lshRecallReport]] made runnable at
    * production scale: the exhaustive exact-jaccard ground truth (the
    * O(Σ df²) cost that keeps qd37 an audit-only operator) runs on a
    * deterministic hash-order document sample (the qt24
    * bottom-k-of-hash machinery — stable under corpus growth, so the
    * audit is refreshable), while the LSH side stays the FULL
    * production output restricted to sampled pairs. Restricting BOTH
    * sides to pairs within the sample makes the two sides count the
    * same pair universe, so est_recall is an unbiased estimate of
    * pair recall under uniform document sampling; with t true pairs
    * observed in the sample, the binomial se is ≈ √(r(1−r)/t) —
    * report n_true alongside so the reader can size the error bar.
    *
    * Scale shape: truth cost is sample²-bounded (FLAT as the corpus
    * grows — the ScaleSmoke contrast with qd37's corpus-quadratic
    * truth side), the sample is one mergeable bottom-k aggregate
    * (k longs of state), and the LSH side is the candidate machinery
    * the production dedup already ran.
    *
    * @return one row (sample_n, n_true, n_lsh, n_missed, est_recall) —
    *         counts over sampled pairs only; est_recall NULL when the
    *         sample holds no true pair. */
  def lshRecallSampled(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize,
      sampleSize: Int = 250): DataFrame = {
    require(sampleSize >= 2, s"sampleSize must be >= 2, got $sampleSize")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // deterministic hash-order sample: the sampleSize docs with the
    // smallest hash60(id) — one bottom-k aggregate, stable hash order
    val hashed = docs.select(col(idCol).as("doc_id"),
      hash60(col(idCol).cast("string")).as("__h"))
    val picked = hashed
      .agg(call_function("graft_bottom_k", col("__h"), lit(sampleSize)).as("hs"))
      .select(explode(col("hs")).as("__h"))
    val sample = graft.core.OpCache.persist(
      hashed.join(picked, Seq("__h"), "left_semi").select(col("doc_id")))
    val sh = shingleTable(docs, idCol, textCol, nShingle)
      .join(sample, Seq("doc_id"), "left_semi")
    // the FULL production LSH output, restricted to in-sample pairs
    val shAll = shingleTable(docs, idCol, textCol, nShingle)
    val lsh = graft.core.OpCache.persist(
      pairsFromBandTable(shAll, bandTable(shAll, k, bands),
        threshold, maxBucketSize)
        .join(sample.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
        .join(sample.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
        .select(col("a_id"), col("b_id")))
    // exhaustive truth over the SAMPLE only — sample²-bounded
    val inv = graft.core.OpCache.persist(
      sh.select(col("doc_id"), size(col("shingles")).as("n_sh"),
          explode(col("shingles")).as("s"))
        .select(col("doc_id"), col("n_sh"), hash60(col("s")).as("shh")))
    val truth = graft.core.OpCache.persist(
      inv.as("p").join(inv.as("q"),
          col("p.shh") === col("q.shh") && col("p.doc_id") < col("q.doc_id"))
        .select(col("p.doc_id").as("a_id"), col("q.doc_id").as("b_id"),
          col("p.n_sh").as("na"), col("q.n_sh").as("nb"))
        .groupBy(col("a_id"), col("b_id"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double") >= threshold)
        .select(col("a_id"), col("b_id")))
    val nS = sample.agg(count(lit(1)).cast("long").as("sample_n"))
    val nTrue = truth.agg(count(lit(1)).cast("long").as("n_true"))
    val nLsh = lsh.agg(count(lit(1)).cast("long").as("n_lsh"))
    val nMissed = truth.join(lsh, Seq("a_id", "b_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_missed"))
    nS.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nLsh))
      .crossJoin(broadcast(nMissed))
      .select(col("sample_n"), col("n_true"), col("n_lsh"), col("n_missed"),
        when(col("n_true") > 0,
          round((col("n_true") - col("n_missed")).cast("double") /
            col("n_true").cast("double"), 6)).as("est_recall"))
  }

  /** MinHash ESTIMATOR-ERROR audit — the sketch-accuracy twin of the
    * quantization distortion reports (qs36/qs37) for the dedup
    * family: for every LSH-verified near-dup pair, the k-coordinate
    * signature-agreement estimate of jaccard next to the exact value
    * and their absolute error. E[agreement/k] = jaccard, sd
    * ≈ √(j(1−j)/k) — this measures the realized spread at the
    * configured k, the number that justifies (or indicts) a
    * signature width before [[lshBandPlan]]'s S-curve is trusted.
    *
    * Costs nothing new at scale: pairs and shingle sets come from the
    * audited LSH machinery; the estimate adds one fixed-k
    * zip-and-count over the two signatures per VERIFIED pair
    * (output-proportional, never corpus-proportional).
    *
    * @return (a_id, b_id, jaccard, est_jaccard, abs_err) — jaccard
    *         exact (the verify value), est = agreements/k, both
    *         rounded to 6. */
  def minhashErrorReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, nShingle)
    val pairs = pairsFromBandTable(sh, bandTable(sh, k, bands),
      threshold, maxBucketSize)
    val sigs = sh.select(col("doc_id"),
      minhashSignature(col("shingles"), k).as("sig"))
    val est = (size(filter(zip_with(col("sa"), col("sb"),
      (x, y) => x === y), b => b)).cast("double") / k)
    pairs
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sa")),
        Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(col("jaccard"), 6).as("jaccard"),
        round(est, 6).as("est_jaccard"),
        round(abs(est - col("jaccard")), 6).as("abs_err"))
  }

  /** SimHash signature (60-bit) over a column holding the DISTINCT
    * token hashes (array<long> from [[hash60]]): majority vote per bit,
    * computed by the native one-pass codegen kernel
    * ([[graft.functions.Simhash60]]). Callers must have registered the
    * graft functions in the session ([[graft.functions.GraftFunctions]]
    * — the df-taking operators below do it automatically). Pass a
    * materialized column (see [[withSimhash]]) — inlining the hash
    * computation here would re-evaluate md5 per element. */
  def simhashOfHashes(hs: Column): Column =
    call_function("graft_simhash60", hs)

  /** The composed-expression form of [[simhashOfHashes]] (60
    * filter+size traversals): kept as the executable spec the native
    * kernel is parity-tested against. */
  private[graft] def simhashOfHashesComposed(hs: Column): Column = {
    val n = size(hs)
    (0 until 60).map { j =>
      val mask = 1L << j
      when(lit(2) * size(filter(hs, h => h.bitwiseAND(lit(mask)) =!= 0)) > n,
        lit(mask)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Attach a 60-bit simhash of the whitespace tokens of `textCol`.
    * Hashes are materialized in a temp column so md5 runs once per
    * token, not once per bit. */
  def withSimhash(df: DataFrame, textCol: String, out: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("__hs",
        transform(array_distinct(split(col(textCol), " ")), x => hash60(x)))
      .withColumn(out, simhashOfHashes(col("__hs")))
      .drop("__hs")
  }

  /** SimHash near-duplicate pairs: band the 60-bit signature into four
    * 15-bit keys (any shared band → candidate), then verify exact
    * hamming distance. Same scale shape as MinHash-LSH: linear banding,
    * bucket-local candidate generation, per-pair verification only on
    * candidates.
    *
    * The signature is computed over word SHINGLES, not the token set:
    * on small-vocabulary corpora every long document contains the whole
    * vocabulary, so set-based signatures collide into mega-cliques —
    * order-sensitive shingles keep the signature discriminative.
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 8,
      nShingle: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigs = graft.core.Partitioning.parallelize(docs, col(idCol))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= nShingle)
      .withColumn("__hs",
        transform(wordShingles(col("w"), nShingle), s => hash60(s)))
      .select(col("doc_id"), simhashOfHashes(col("__hs")).as("sh"))
      .transform(graft.core.OpCache.persist)
    val bandStructs = (0 until 4).map(b => struct(
      lit(b).as("band"),
      shiftright(col("sh"), 15 * b).bitwiseAND(lit(32767L)).as("bval")))
    val ids = col("ids")
    val banded = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bval").as("bval"))
    val pairs = capBuckets(banded, col("band"), col("bval"), maxBucketSize)
      .groupBy(col("band"), col("bval"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(ids) > 1)
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)),
          y => struct(x.as("a"), y.as("b")))))).as("pr"))
      .select(col("pr.a").as("a_id"), col("pr.b").as("b_id"))
      .distinct()
    pairs
      .join(sigs.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sa.sh").bitwiseXOR(col("sb.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact duplicate groups: hash-groupBy on content hash. Returns one
    * row per content hash with the representative (min id) and group
    * size; a semi-join against `keep_id` dedups the corpus. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Soft dedup — per-document duplication scoring for WEIGHTED
    * sampling instead of hard removal (the SoftDeDup idea: downweight
    * commonness, keep the document): each document's distinct shingles
    * meet the corpus-wide shingle document-frequency table, and the
    * fraction of shingles that appear in 2+ documents becomes the
    * duplication score. A fully-boilerplate document keeps weight
    * floor(10000-bp/2); pristine text keeps 10000 — the weights feed
    * [[graft.operators.Curation.weightedMix]]-style samplers directly.
    *
    * All-integer outputs (counts + basis points by integer division),
    * so the score is bit-identical under any partitioning or engine.
    * Scale shape: one shingle explode (narrow), one hash agg for df
    * (map-side combinable, 8-byte keys), one equi-join back (shuffles
    * on the shingle hash — the same inverted-index shape as qd04's
    * index build, WITHOUT the pair join that follows there; cost is
    * linear in corpus shingle count), one per-doc hash agg. Documents
    * shorter than `n` words carry no shingles and are absent — the
    * caller treats missing as weight 10000. */
  def duplicationScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(wordShingles(col("w"), n)).as("sg"))
      .select(col("doc_id"), hash60(col("sg")).as("h"))
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        expr("10000 * n_dup div n_shingles").as("dup_bp"),
        expr("10000 - (10000 * n_dup div n_shingles) div 2").as("weight_bp"))
  }

  /** End-to-end corpus dedup — the production pipeline order SCALING.md
    * prescribes, as one operator:
    *
    *  1. collapse exact duplicates (one hash shuffle; keeps the min-id
    *     representative per content hash) — this also removes the
    *     dominant mega-bucket source before LSH ever runs;
    *  2. MinHash-LSH near-dup pairs among representatives only;
    *  3. greedy keep: drop every representative that appears as the
    *     higher id of a verified pair (pairs are oriented a < b, so
    *     the kept set is deterministic and one pass — no iterative
    *     connected components, the standard corpus-dedup choice).
    *
    * Returns the kept ids (one `keep_id` column). Documents shorter
    * than `nShingle` words never enter LSH and are always kept. */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val reps = docs.join(
      exactDupGroups(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")
    val dropped = lshNearDupPairs(reps, idCol, textCol,
      nShingle, k, bands, threshold, maxBucketSize)
      .select(col("b_id").as(idCol)).distinct()
    reps.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol).as("keep_id"))
  }

  /** Incremental dedup — admit a NEW BATCH against an EXISTING corpus,
    * the daily-ingest shape: a batch document is kept iff it is not an
    * exact duplicate of the corpus, not an exact duplicate of a
    * lower-id batch document, and not a verified near-duplicate of the
    * corpus or of a lower-id batch document (corpus always wins;
    * within the batch the lowest id wins, matching [[dedupCorpus]]'s
    * greedy orientation).
    *
    * Genuinely incremental in the corpus: the exact stage is a hash
    * anti-join of the batch against the corpus HASH SET, and the near
    * stage probes the batch's LSH band table against the corpus BAND
    * TABLE (both corpus-side tables are exactly what a production
    * deployment keeps materialized between ingests) — no corpus×corpus
    * candidate generation ever runs, so per-ingest cost is
    * O(batch + matching buckets), not O(corpus). Signatures depend
    * only on document text, so separately-built band tables bucket
    * identically to a union build. Returns the kept batch ids. */
  def incrementalDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    incrementalDedupWithIndex(
      buildCorpusIndex(corpus, idCol, textCol, nShingle, k, bands),
      batch, idCol, textCol, nShingle, k, bands, threshold, maxBucketSize)

  /** The materialized corpus artifacts incremental ingest probes:
    * content-hash set, shingle table, LSH band table. Build once per
    * corpus ([[buildCorpusIndex]]), persist between ingests
    * ([[writeCorpusIndex]]/[[readCorpusIndex]] — three parquet
    * datasets), append admitted batches over time. */
  final case class CorpusIndex(
      hashes: DataFrame, // (__h)
      shingles: DataFrame, // (doc_id, shingles)
      bands: DataFrame) { // (doc_id, band, bkey)
    /** Release any cached artifact frames (no-op on unpersisted ones) —
      * the long-lived-service cleanup hook between corpora. */
    def unpersist(blocking: Boolean = false): Unit = {
      hashes.unpersist(blocking)
      shingles.unpersist(blocking)
      bands.unpersist(blocking)
      graft.core.OpCache.untrack(hashes)
      graft.core.OpCache.untrack(shingles)
      graft.core.OpCache.untrack(bands)
    }
  }

  def buildCorpusIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4): CorpusIndex = {
    val sh = shingleTable(corpus, idCol, textCol, nShingle)
    CorpusIndex(
      corpus.select(md5(col(textCol).cast("binary")).as("__h")).distinct(),
      sh,
      bandTable(sh, k, bands))
  }

  /** Cross-corpus fuzzy record LINKAGE — verified near-dup pairs
    * (left_id, right_id) between two DIFFERENT tables, the entity-
    * resolution join every data platform needs ("which of our docs
    * match theirs", crawl-vs-archive reconciliation, vendor-feed
    * matching). MinHash band signatures depend only on a row's own
    * text (the [[bandTable]] independence property), so each side
    * builds its band table separately and candidates come from ONE
    * equi-join on (band, bkey) — the probe-asymmetric shape of
    * [[batchNearDupPairs]] generalized to two arbitrary corpora,
    * never a cross join. Both sides bucket-cap before probing (the
    * mega-bucket guard, applied per side); candidates verify by
    * shingle jaccard ≥ `threshold`.
    *
    * Output orientation is (a_id from `left`, b_id from `right`),
    * id-overlap between the tables is allowed (ids are namespaced by
    * side, a (x, x) self-text pair is a legitimate link), and a row
    * pairing with several right-side rows emits several links — the
    * keep-best read is one window away and deliberately NOT baked in.
    *
    * Result equals "LSH near-dup pairs over the two-sided union,
    * restricted to cross pairs" (bucket membership is per-row), which
    * is what the oracle replays. */
  def linkCorpora(
      left: DataFrame, right: DataFrame,
      idCol: String, textCol: String,
      nShingle: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val shA = shingleTable(left, idCol, textCol, nShingle)
    val shB = shingleTable(right, idCol, textCol, nShingle)
    val cand = capBuckets(bandTable(shA, k, bands), col("band"), col("bkey"),
        maxBucketSize).as("a")
      .join(capBuckets(bandTable(shB, k, bands), col("band"), col("bkey"),
        maxBucketSize).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cand
      .join(shA.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(shB.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("sa.shingles"), col("sb.shingles")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Verified near-dup pairs of an ALREADY-INDEXED corpus — identical
    * to [[lshNearDupPairs]] over the same documents, but derived from
    * the stored/persisted index artifacts instead of re-running the
    * corpus-scale shingle + minhash passes. The bootstrap idiom:
    * build (or read) the index once, then take BOTH the pair graph
    * and the ingest-probe target from it. The band table already
    * fixes k/bands; only the verify threshold and bucket cap apply. */
  def pairsFromIndex(
      index: CorpusIndex,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    pairsFromBandTable(index.shingles, index.bands, threshold, maxBucketSize)

  /** Persist a (node, component) label table — the [[corpusClusters]]
    * output as a first-class stored artifact, the [[writeCorpusIndex]]
    * pattern applied to clustering. A production corpus clusters ONCE
    * per snapshot; every diagnostic that follows (histogram,
    * representative selection, span rewrites) should read the stored
    * label table instead of re-running the corpus-scale collapse +
    * LSH + closure. */
  def writeLabels(labels: DataFrame, dir: String): Unit =
    labels.write.mode("overwrite").parquet(s"$dir/labels.parquet")

  def readLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(s"$dir/labels.parquet")

  def writeCorpusIndex(index: CorpusIndex, dir: String): Unit = {
    index.hashes.write.mode("overwrite").parquet(s"$dir/hashes.parquet")
    index.shingles.write.mode("overwrite").parquet(s"$dir/shingles.parquet")
    index.bands.write.mode("overwrite").parquet(s"$dir/bands.parquet")
  }

  def readCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): CorpusIndex =
    CorpusIndex(
      spark.read.parquet(s"$dir/hashes.parquet"),
      spark.read.parquet(s"$dir/shingles.parquet"),
      spark.read.parquet(s"$dir/bands.parquet"))

  /** [[incrementalDedup]] against a prebuilt (typically storage-read)
    * corpus index — the recurring-ingest entry point: nothing
    * corpus-sized is recomputed per batch. */
  def incrementalDedupWithIndex(
      index: CorpusIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val bh = batch.select(col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("__h"))
    // exact vs corpus, then exact within batch (keep-first by id)
    val s1 = bh.join(index.hashes, Seq("__h"), "left_anti")
    val minB = bh.groupBy(col("__h")).agg(min(col("doc_id")).as("__min_id"))
    val s2 = s1.join(minB, Seq("__h"))
      .filter(col("doc_id") === col("__min_id"))
      .select(col("doc_id"))
    // Asymmetric near stage: batch bands PROBE the corpus band table,
    // then candidates verify against the shingle tables. BOTH sides
    // are bucket-capped — an uncapped corpus mega-bucket would emit
    // O(|batch bucket|·|corpus bucket|) candidate rows on one hot key,
    // the exact pathology maxBucketSize exists to bound.
    val shC = index.shingles
    val shB = shingleTable(batch, idCol, textCol, nShingle)
    val bandsC = capBuckets(index.bands, col("band"), col("bkey"), maxBucketSize)
    val bandsB = bandTable(shB, k, bands)
    val candCross = capBuckets(bandsB, col("band"), col("bkey"), maxBucketSize)
      .as("p")
      .join(bandsC.as("q"),
        col("p.band") === col("q.band") && col("p.bkey") === col("q.bkey"))
      .select(col("p.doc_id").as("batch_id"), col("q.doc_id").as("corpus_id"))
      .distinct()
    val nearCorpusDrop = candCross
      .join(shB.as("sb"), col("batch_id") === col("sb.doc_id"))
      .join(shC.as("sc"), col("corpus_id") === col("sc.doc_id"))
      .filter(jaccard(col("sb.shingles"), col("sc.shingles")) >= threshold)
      .select(col("batch_id").as("doc_id"))
    // within-batch near-dups from the ALREADY-BUILT batch tables
    // (pairs are oriented a < b → the higher id drops)
    val nearBatchDrop =
      pairsFromBandTable(shB, bandsB, threshold, maxBucketSize)
        .select(col("b_id").as("doc_id"))
    s2.join(nearCorpusDrop.unionByName(nearBatchDrop).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("keep_id"))
  }

  /** Near-dup pairs INCIDENT TO an ingest batch, from the stored
    * corpus index — the edge-discovery half of incremental cluster
    * maintenance ([[incrementalComponents]]): batch band signatures
    * probe the corpus band table (asymmetric equi-join, both sides
    * bucket-capped) for batch↔corpus pairs, and the batch's own band
    * table yields batch↔batch pairs — nothing corpus-sized is
    * recomputed per ingest. Pair set equals "all near-dup pairs of the
    * full corpus with at least one end in the batch" (bucket
    * membership of a doc is independent of the other docs), which is
    * what the oracle replays. Output: (a_id, b_id), batch↔corpus pairs
    * oriented (corpus, batch). */
  def batchNearDupPairs(
      index: CorpusIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val shB = graft.core.OpCache.persist(
      shingleTable(batch, idCol, textCol, nShingle))
    // consumed by the cross probe AND the within-batch pair pass —
    // persist so the signature windows run once
    val bandsB = graft.core.OpCache.persist(bandTable(shB, k, bands))
    val candCross = capBuckets(bandsB, col("band"), col("bkey"), maxBucketSize)
      .as("p")
      .join(capBuckets(index.bands, col("band"), col("bkey"), maxBucketSize)
        .as("q"),
        col("p.band") === col("q.band") && col("p.bkey") === col("q.bkey"))
      .select(col("q.doc_id").as("a_id"), col("p.doc_id").as("b_id"))
      .distinct()
    val cross = candCross
      .join(shB.as("sb"), col("b_id") === col("sb.doc_id"))
      .join(index.shingles.as("sc"), col("a_id") === col("sc.doc_id"))
      .filter(jaccard(col("sb.shingles"), col("sc.shingles")) >= threshold)
      .select(col("a_id"), col("b_id"))
    val within = pairsFromBandTable(shB, bandsB, threshold, maxBucketSize)
      .select(col("a_id"), col("b_id"))
    cross.unionByName(within)
  }

  /** CONNECTIVITY-equivalent batch edge discovery with COLLAPSE-FIRST
    * — [[batchNearDupPairs]] for consumers that only need the edges'
    * connected components ([[incrementalComponents]], the
    * componentMaintenance stream): exact duplicates INSIDE the batch
    * fold to their min-id representative before any shingling, enter
    * the edge list as depth-1 STARS (rep → member), and only the
    * representatives run the band probe (reps ↔ corpus and
    * reps ↔ reps).
    *
    * Why it matters at scale: a real ingest batch carries duplicate
    * mass (re-crawls, mirror floods), and the raw pair contract emits
    * |group|²/2 identical-content pairs per exact group — measured
    * QUADRATIC in duplicate multiplicity on the ScaleSmoke duplicated
    * corpus (×10→×30: 5.3 → 43 s) — while the stars are linear. This
    * is [[corpusClusters]]' collapse-first argument applied to the
    * ingest side.
    *
    * The edge SET differs from [[batchNearDupPairs]] (stars, not
    * cliques; near-dup pairs carry representative ids, not every
    * member's), but its connected components over (batch ∪ touched
    * corpus) are IDENTICAL: exact-dup members connect through their
    * rep, and a rep's band signature equals its members' (identical
    * text → identical shingles), so every cross/within component the
    * raw contract finds is found through the rep. Labels computed
    * downstream are bit-identical. Callers that need the per-pair
    * fan-out itself (witness tables, pair audits) keep the raw
    * operator. */
  def batchNearDupStarEdges(
      index: CorpusIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val bh = graft.core.OpCache.persist(
      batch.select(col(idCol).cast("long").as("doc_id"),
        md5(col(textCol).cast("binary")).as("__h")))
    val groups = bh.groupBy(col("__h")).agg(min(col("doc_id")).as("rep"))
    // rep → member stars (self-edge rep → rep rides along, harmless:
    // incrementalComponents adds batch self-edges anyway)
    val stars = bh.join(groups, Seq("__h"))
      .select(col("rep").as("a_id"), col("doc_id").as("b_id"))
    val reps = batch.join(
      groups.select(col("rep").cast("long").as(idCol)), Seq(idCol), "left_semi")
    batchNearDupPairs(index, reps, idCol, textCol,
      nShingle, k, bands, threshold, maxBucketSize)
      .unionByName(stars)
  }

  /** Incremental connected-components maintenance — update STORED
    * cluster labels with an ingest batch instead of re-clustering the
    * corpus. Components only ever MERGE when edges are added, so:
    *
    *  1. components touched by a new edge endpoint are re-solved on a
    *     star-compressed subgraph (each stored component enters as
    *     depth-1 star edges node→component-min, so the closure
    *     converges in O(1) rounds regardless of the original
    *     component's diameter);
    *  2. every other stored label passes through UNCHANGED — zero
    *     recompute for the corpus majority.
    *
    * The result is bit-identical to a full re-clustering over (old
    * edges ∪ new edges): untouched components keep their min label by
    * definition, and a merged component's new min is the min over its
    * constituent stars' mins, all of which appear as nodes in the
    * subgraph. At 100 TB the per-ingest cost is
    * O(affected components + batch edges), not O(corpus) — the label
    * table is read (one semi/anti join pair) but never re-solved.
    *
    * @param labels   stored (node, component) state, component = min
    *                 node id of the component (the contract
    *                 [[connectedComponents]] emits)
    * @param newEdges (a_id, b_id) edges discovered for the batch —
    *                 [[batchNearDupStarEdges]] (collapse-first, the
    *                 production default: linear in batch duplicate
    *                 mass) or [[batchNearDupPairs]] (the raw per-pair
    *                 contract); both yield identical labels, only the
    *                 edge volume differs
    * @param newNodes (node) the batch's node ids (kept as singletons
    *                 when no edge touches them)
    */
  def incrementalComponents(
      labels: DataFrame,
      newEdges: DataFrame,
      newNodes: DataFrame): DataFrame = {
    // The stored label table is corpus-sized and the stream caller
    // already persists it between batches (componentMaintenance's cut
    // labels, qd27's bootstrap) — re-persisting a cast-wrapper here
    // materialized a SECOND corpus-sized cache copy per ingest batch,
    // O(corpus) work the incremental contract exists to avoid. Reuse
    // the caller's cache when the frame already has the contract shape;
    // persist only when given an unpersisted or differently-typed frame.
    val labContractShape = labels.columns.toSeq == Seq("node", "component") &&
      labels.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType)
    val lab =
      if (labContractShape &&
        labels.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        labels
      else graft.core.OpCache.persist(
        labels.select(col("node").cast("long").as("node"),
          col("component").cast("long").as("component")))
    // newEdges is typically an LSH probe PIPELINE (batchNearDupPairs:
    // band windows + shingle joins + verify) consumed three times
    // below (touched, the closure, and through touched the untouched
    // split) — persist it or the probe re-executes per consumer (the
    // funnel lesson applied here), and CUT its lineage or every
    // downstream action re-ANALYZES the probe's whole logical tree
    // (the connectedComponents entry-cut rationale; the probe plan is
    // the fattest in the family)
    val ePlan = newEdges.select(col("a_id").cast("long").as("a_id"),
      col("b_id").cast("long").as("b_id"))
    val e = graft.core.Jobs.described(labels.sparkSession, "icc: probe cut") {
      graft.core.OpCache.persist(graft.core.Lineage.cut(ePlan))
    }
    val ends = e.select(col("a_id").as("node"))
      .unionByName(e.select(col("b_id").as("node")))
      .distinct()
    val touched = graft.core.OpCache.persist(
      lab.join(ends, Seq("node"), "left_semi")
        .select(col("component")).distinct())
    // stored components re-enter as stars: node → component-min
    val star = lab.join(touched, Seq("component"), "left_semi")
      .select(col("node").as("a_id"), col("component").as("b_id"))
    val selfNew = newNodes.select(col("node").cast("long").as("a_id"),
      col("node").cast("long").as("b_id"))
    val solved = connectedComponents(
      star.unionByName(e).unionByName(selfNew),
      "a_id", "b_id")
    // Untouched stored labels take PRECEDENCE over the subgraph solve:
    // a re-delivered node (at-least-once ingest) that sits in an
    // untouched component appears in the subgraph only through its
    // self-edge, where solving it would both duplicate the row and
    // forget its stored component — anti-joining solved against the
    // untouched node set makes maintenance idempotent under replay.
    val untouched = graft.core.OpCache.persist(
      lab.join(touched, Seq("component"), "left_anti")
        .select(col("node"), col("component")))
    untouched.unionByName(
      solved.select(col("node"), col("component"))
        .join(untouched.select(col("node")), Seq("node"), "left_anti"))
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond")
    * — the algorithm [[connectedComponents]]'s scaladoc names as the
    * 10¹⁰-node path, implemented and parity-tested so the claim is
    * executable, not aspirational.
    *
    * Each round is two edge rewrites, each ONE groupBy(min) + join on
    * the edge list — no per-node adjacency materialization, so a node
    * of any degree costs its edge count, never a collected list:
    *  - large-star: every neighbor v > u re-points to m = min(N(u)∪{u})
    *  - small-star: orient edges (max, min); every neighbor re-points
    *    to the minimum.
    * Edges monotonically flatten into stars rooted at component
    * minima; rounds = O(log² n) worst case, 2–4 on dedup graphs. The
    * edge list shrinks every round (distinct), so per-round cost
    * DECREASES — the property that matters at 10¹⁰ edges, where
    * label-propagation's full label table per round would dominate.
    * Same contract as [[connectedComponents]]: (node, component-min).
    */
  def connectedComponentsStars(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    requireIntegralIds(edges, srcCol, dstCol)
    val spark = edges.sparkSession

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      oriented.join(mins, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    val edges0 = graft.core.Lineage.cut(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()).persist(MEMORY_AND_DISK)
    var curCount = edges0.count()
    // Adaptive (unlike connectedComponents' rounds, measured and
    // rejected): the star rewrites' mins⋈sym joins rely on AQE's runtime
    // broadcast conversion — statically planned they fall back to
    // sort-merge over the full edge list, and qd13 measured 5.9 → 8.5 s
    // (task-seconds +92%) with AQE off despite jobs halving. The CC
    // rounds differ because their joins are cached-partitioning-aligned
    // and explicitly broadcast.
    val stars = if (curCount == 0) graft.core.OpCache.track(edges0)
    else graft.core.Iterate("stars", spark) { it =>
      it.frames(edges0, maxIter,
        until = (cur, next) => {
          val c1 = next.count()
          // set equality: only pay the union-distinct shuffle when the
          // cheap cardinality check already agrees
          val same = c1 == curCount &&
            next.unionByName(cur).distinct().count() == c1
          curCount = c1
          same
        },
        diverged = s"star contraction did not converge within $maxIter rounds"
      )(cur => smallStar(largeStar(cur)))
    }
    // final edges are stars (child → component min); roots and isolated
    // nodes label themselves
    val nodes = graft.core.OpCache.persist(edges
      .select(col(srcCol).cast("long").as("n"))
      .union(edges.select(col(dstCol).cast("long").as("n")))
      .distinct())
    nodes.join(stars.select(col("a").as("n"), col("b").as("component")),
        Seq("n"), "left_outer")
      .select(col("n").as("node"),
        coalesce(col("component"), col("n")).as("component"))
  }

  /** Full-corpus duplicate CLUSTERS at production scale: every document
    * labeled with its duplicate-cluster id (exact AND near duplicates,
    * transitively closed).
    *
    * The scale trick vs. running [[connectedComponents]] on the raw
    * near-dup pair graph: exact duplicates collapse FIRST, so
    *  - the LSH pair join sees unique content only (the duplicate mass
    *    that would quadratically inflate raw pair generation is gone);
    *  - exact groups enter the edge list as STARS (representative →
    *    member), diameter 2, instead of cliques with O(m²) edges.
    * Edge count is linear in corpus size + near-dup pairs among unique
    * texts; the closure then runs over this sparse graph. */
  def corpusClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // feeds the group aggregate AND the member-edge join — persist so
    // the corpus is scanned and hashed once, not three times
    val hashes = graft.core.OpCache.persist(
      docs.select(col(idCol).as("doc_id"),
        md5(col(textCol).cast("binary")).as("__h")))
    val groups = hashes.groupBy(col("__h")).agg(min(col("doc_id")).as("keep_id"))
    // star edges: representative → every member (self-edge for the rep
    // keeps singletons in the node set)
    val memberEdges = hashes.join(groups, Seq("__h"))
      .select(col("keep_id").as("a"), col("doc_id").as("b"))
    val repDocs = docs.join(groups.select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")
    val repPairs = lshNearDupPairs(repDocs, idCol, textCol,
      nShingle, k, bands, threshold, maxBucketSize)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    connectedComponents(memberEdges.unionByName(repPairs), "a", "b")
  }

  /** QUALITY-aware cluster representative selection — every
    * production dedup keeps ONE document per duplicate cluster, and
    * min-id ([[dedupCorpus]]'s rule) is arbitrary: this keeps the
    * HIGHEST-scoring copy instead ("keep the clean mirror, drop the
    * boilerplate-wrapped scrape"), with ties broken to the smallest
    * id so the kept set stays deterministic. `scoreCol` is any
    * non-null per-document expression (a quality ratio, a trained
    * [[Logit]] score, recency).
    *
    * Scale shape: labels come from [[corpusClusters]]' collapse-first
    * pipeline; the per-cluster argmax is a struct-max hash aggregate
    * (map-side combined — never a window over members), so the added
    * cost over labeling is one narrow join + one agg.
    *
    * @return (component, keep_id, cluster_size, score) — one row per
    *         cluster; score is the winner's, rounded to 6. */
  def bestRepresentatives(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: Column,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    bestRepresentativesFromLabels(
      corpusClusters(docs, idCol, textCol,
        nShingle, k, bands, threshold, maxBucketSize),
      docs.select(col(idCol).as("node"), scoreCol.as("score")))

  /** [[bestRepresentatives]] over an ALREADY-COMPUTED (node, component)
    * label table (stored via [[writeLabels]] or fresh from
    * [[corpusClusters]]) — the composed-setting entry point: when the
    * clustering run already happened, representative selection is one
    * narrow join + one struct-max hash aggregate, label-table-sized,
    * never corpus-scale. `scored` = (node, score), score non-null. */
  def bestRepresentativesFromLabels(
      labels: DataFrame, scored: DataFrame): DataFrame =
    labels.join(scored, Seq("node"))
      .groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("cluster_size"),
        max(struct(col("score"), (-col("node")).as("nn"))).as("m"))
      .select(col("component"), (-col("m.nn")).as("keep_id"),
        col("cluster_size"), round(col("m.score"), 6).as("score"))

  /** Cluster-size HISTOGRAM over a label table — the one-page
    * diagnostic every dedup run prints before anyone trusts its
    * output: (cluster_size, n_clusters). A healthy near-dup graph is
    * dominated by size-1 clusters with a thin tail; a GIANT component
    * (threshold too low, stop-phrase shingles, percolation) shows up
    * here as a single huge size bucket long before it derails the
    * keep-one-per-cluster rewrite. Two map-side-combinable hash
    * aggregates over the label table — label-table-scale, never
    * corpus-scale. */
  def clusterSizeHistogram(labels: DataFrame): DataFrame =
    labels.groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))

  /** Blocked exact n-gram-jaccard near-dup pairs: block on
    * (lang, length-bucket), probe the ±1-bucket window via an exploded
    * equi-join (the scale-safe form of the |lenA−lenB|≤width range
    * join), with pair ownership oriented so only the upward bucket is
    * probed.
    *
    * Two scale tricks, both semantics-preserving:
    *  - shingles are compared as 60-bit hashes, not strings — the
    *    set-intersection works over longs (8B, primitive equality)
    *    instead of variable-length strings;
    *  - a size-ratio prune runs inside the join predicate: jaccard ≤
    *    min(|A|,|B|)/max(|A|,|B|), so pairs whose cardinality ratio
    *    already falls below the threshold are dropped at the join —
    *    their shingle matches never reach the pair-count aggregate.
    *    Output-neutral: every pruned pair's jaccard is provably under
    *    the threshold.
    */
  /** @param maxDocFreq optional df-cut: drop shingles appearing in more
    *                    than this many documents before pair counting —
    *                    the hot-shingle (stop-phrase) skew mitigation
    *                    for corpus-scale runs. NOTE: changes which
    *                    pairs can reach the threshold; keep None when
    *                    an external oracle replays the exact semantics. */
  def blockedJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      lenCol: String,
      bucketWidth: Int = 100,
      nShingle: Int = 3,
      threshold: Double = 0.4,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val base = graft.core.Partitioning.parallelize(docs, col(idCol)).select(
      col(idCol).as("doc_id"), col(langCol).as("lang"),
      (col(lenCol).cast("long") / bucketWidth).cast("long").as("bkt"),
      split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= nShingle)
      .select(col("doc_id"), col("lang"), col("bkt"),
        transform(wordShingles(col("w"), nShingle), s => hash60(s)).as("sh"))
    // Inverted index: one row per (doc, shingle-hash). Intersection
    // sizes come from a pair-count aggregate over the shingle join —
    // no per-pair array operations anywhere, everything codegen'd.
    // the inverted index is both join sides (probe + build): persist so
    // shingling+hashing executes once
    val invAll = graft.core.OpCache.persist(
      base.select(col("doc_id"), col("lang"), col("bkt"),
        size(col("sh")).as("n_sh"), explode(col("sh")).as("shh")))
    val inv = maxDocFreq match {
      case None => invAll
      case Some(cut) =>
        val hot = invAll.groupBy(col("shh")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cut).select(col("shh"))
        invAll.join(broadcast(hot), Seq("shh"), "left_anti")
    }
    // Pair ownership is oriented by (bucket, doc_id), not doc_id alone:
    // the lower-bucket side owns cross-bucket pairs, so the probe only
    // has to look UP — explode ×2 ({bkt, bkt+1}) instead of ×3
    // ({bkt-1, bkt, bkt+1}) for an identical pair set, cutting the
    // biggest join's probe volume by a third. Output ids re-normalize
    // to a_id < b_id (jaccard is symmetric in na/nb).
    val probeInv = inv.select(col("doc_id"), col("lang"), col("shh"),
      col("n_sh"), col("bkt"), explode(array(col("bkt"), col("bkt") + 1)).as("jbkt"))
    val inter = probeInv.as("p")
      .join(inv.as("q"),
        col("p.shh") === col("q.shh") && col("p.jbkt") === col("q.bkt") &&
          col("p.lang") === col("q.lang") &&
          (col("p.bkt") < col("q.bkt") ||
            (col("p.bkt") === col("q.bkt") && col("p.doc_id") < col("q.doc_id"))) &&
          // size-ratio prune: jaccard ≤ min/max, so ratio < threshold
          // can never qualify — drop before the aggregate
          least(col("p.n_sh"), col("q.n_sh")).cast("double") >=
            lit(threshold) * greatest(col("p.n_sh"), col("q.n_sh")).cast("double"))
      .groupBy(
        least(col("p.doc_id"), col("q.doc_id")).as("a_id"),
        greatest(col("p.doc_id"), col("q.doc_id")).as("b_id"),
        when(col("p.doc_id") < col("q.doc_id"), col("p.n_sh"))
          .otherwise(col("q.n_sh")).as("na"),
        when(col("p.doc_id") < col("q.doc_id"), col("q.n_sh"))
          .otherwise(col("p.n_sh")).as("nb"))
      .agg(count(lit(1)).as("inter"))
    // |A∪B| = |A|+|B|−|A∩B|; same integers as an array-union size,
    // so the jaccard double is bit-identical to the set-op form.
    inter
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected edge list — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (pairs are not an
    * equivalence relation; transitive closure is what "keep one copy
    * per cluster" actually needs). Returns (node, component) where
    * component = the minimum node id reachable from the node.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round (a) takes the min of a node's label and its neighbors'
    * labels (one equi-join on the edge list), then (b) replaces every
    * label by its label's label (one self-join — path halving). The
    * jump step makes long chains collapse in O(log diameter) rounds
    * instead of O(diameter); near-dup graphs are unions of dense
    * clusters, so 2–4 rounds in practice. Each round is two hash
    * joins + one aggregate — all shuffle-partitioned, nothing
    * driver-side except the convergence count. This is the
    * small-graph-per-round half of the large-star/small-star method;
    * at 10¹⁰ nodes swap the label join to that full method, same
    * contract.
    *
    * Deterministic by construction: min over a set is order- and
    * partitioning-independent.
    */
  /** Both component algorithms cast ids to long; a silent cast would
    * null out string ids and collapse the graph — fail loudly. */
  private def requireIntegralIds(
      edges: DataFrame, srcCol: String, dstCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    Seq(srcCol, dstCol).foreach { c =>
      require(integral.contains(edges.schema(c).dataType),
        s"node id column '$c' is ${edges.schema(c).dataType.simpleString}; " +
          "ids must be integral (a silent cast would null out string ids " +
          "and collapse the graph) — hash or dictionary-encode them first")
    }
  }

  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    requireIntegralIds(edges, srcCol, dstCol)
    // Cut the CALLER's edge lineage before iterating, not just persist
    // it: every round's viaNeighbors/minLabels embeds sym's LOGICAL
    // plan, and when the edges arrive as a fat pipeline (an LSH
    // probe, a banded join) Catalyst re-analyzes that whole tree on
    // every action even though execution reads the cache — measured
    // 10.1 → 2.3 s on a 121-edge incremental subgraph whose edge plan
    // was a batchNearDupPairs probe. One materialization either way
    // (sym is persisted regardless); the cut just makes the plan as
    // small as the data.
    val symPlan = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("t"))
      .union(edges.select(col(dstCol).cast("long").as("s"),
        col(srcCol).cast("long").as("t")))
      .distinct()
    // Cache the edge list PRE-PARTITIONED by its per-round join key
    // (guide §2.4 — two operations keyed the same way share one
    // exchange): every round joins sym on t, and an unpartitioned
    // cache re-shuffled the FULL edge list — the largest frame in the
    // loop — once per round. The repartition pays one exchange inside
    // the cache; every round after reads it exchange-free. Cached
    // plans compile without AQE, so the hash(t) partitioning is final
    // and visible to EnsureRequirements (the qt33 cached-repartition
    // pattern, LineageSpec-pinned).
    //
    // The partition COUNT is derived from the measured edge count, not
    // pinned at the session shuffle parallelism (guide §2: make
    // partitioning scale-adaptive — a cached plan never gets AQE
    // coalescing, so a fixed spark.sql.shuffle.partitions here fans a
    // 100-edge incremental subgraph into 32 near-empty tasks per round
    // and a 10¹⁰-edge graph into far too few). Sizing comes from an
    // exact count of the already-cut, already-cached frame (one cheap
    // job), NOT from plan statistics — optimizedPlan.stats underruns
    // exploded frames ~10× and serialized qt33's CPU-bound rounds when
    // tried in round 11. Per-round work here is longs + min, so
    // ~2M edges/partition (≈50 MB) balances task overhead against
    // parallelism; the session cap keeps the cluster's configured
    // parallelism as the ceiling.
    val spark = edges.sparkSession
    val sym0 = graft.core.Jobs.described(spark, "cc: sym cut") {
      graft.core.Lineage.cut(symPlan).persist(MEMORY_AND_DISK)
    }
    val nEdges = graft.core.Jobs.described(spark, "cc: sym count")(sym0.count())
    val nParts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      math.ceil(nEdges / 2e6).toInt))
    // Convergence via the MONOTONE label-sum invariant: every round
    // assigns label' = min(label, neighbor labels, label(label)) —
    // per-node labels never increase, and the node set is fixed, so
    // Σlabel strictly decreases until the fixed point and equal
    // consecutive sums ⟺ no label changed. One narrow single-stage
    // aggregate over the freshly-persisted round frame replaces the
    // old join-on-node + filter + count (a full extra shuffle per
    // round). DECIMAL(38,0) keeps the sum exact for any id range
    // (10¹² rows of 2⁶³-scale ids stay < 10³²).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val row = df.agg(sum(col("label").cast(
        org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))),
        count(lit(1))).collect()(0)
      val s = row.getDecimal(0)
      if (s != null) s
      else if (row.getLong(1) == 0L) java.math.BigDecimal.ZERO // empty set
      else
        // sum(DECIMAL(38,0)) also returns null on OVERFLOW — comparing
        // ZERO==ZERO across two overflowing rounds would silently
        // declare convergence with wrong labels (round-11 ADVICE).
        // Unreachable for any id range this engine admits (10¹² ids ×
        // 2⁶³ < 10³⁸), so fail loudly rather than guess.
        throw new ArithmeticException(
          "connected-components label sum overflowed DECIMAL(38,0) on a " +
            "non-empty node set — convergence cannot be decided")
    }
    // Round plans are UNIFORM by construction — cached-partitioning
    // joins, one jump exchange, an explicit count-derived repartition —
    // so AQE has nothing left to adapt; below ~5M edges (per-round work
    // well under a second) its one-job-per-stage materialization is
    // pure scheduler overhead, 4-5 jobs/round where one suffices. Keep
    // AQE for big graphs, where runtime coalescing of the jump
    // exchange still pays. Pointer jumping converges in O(log diameter)
    // rounds, so the default cap covers any graph a dedup pipeline can
    // produce; running out means a bug, not a big input.
    graft.core.Iterate("cc", spark, adaptive = nEdges >= 5000000L) { it =>
      val sym = it.persist(it.adopt(sym0).repartition(nParts, col("t")))
      // labels piggybacks sym's hash(t) layout: sym is symmetric, so
      // select(t).distinct() covers every node with ZERO exchange (alias
      // t→node carries the partitioning), leaving the initial label
      // frame cached hash(node) — the layout both per-round joins reuse.
      val labels0 = sym.select(col("t").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .persist(MEMORY_AND_DISK)
      var prevSum = graft.core.Jobs.described(spark, "cc: init sum") {
        labelSum(labels0) // materializes labels → sym → sym0
      }
      sym0.unpersist(false) // superseded by the repartitioned cache
      // The repartition(node) under each round's persist restores the
      // hash(node) layout the next round's two joins reuse — one
      // exchange paid there saves two here.
      it.frames(labels0, maxIter,
        layout = _.repartition(nParts, col("node")),
        until = (_, next) => {
          val s = labelSum(next)
          val same = s.compareTo(prevSum) == 0
          prevSum = s
          same
        },
        diverged = s"connected components did not converge within $maxIter rounds; " +
          "raise maxIter (rounds needed ~ log2 of the graph diameter)") { labels =>
        // Exchange-free on BOTH sides: sym is cached hash(t), labels is
        // cached hash(node) and the alias node→t carries the partitioning
        // through the Project — the round's biggest join shuffles nothing.
        val viaNeighbors = sym
          .join(labels.select(col("node").as("t"), col("label")), Seq("t"))
          .select(col("s").as("node"), col("label"))
        val minLabels = labels.unionByName(viaNeighbors)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
        // Pointer jumping: label <- min(label, label(label)). The lookup
        // table is the PREVIOUS round's cached labels, not minLabels
        // itself: a minLabels self-join embedded the union+agg subtree
        // twice and re-shuffled its output on both join keys, while the
        // cached labels side is already hash(node) — so the jump costs
        // ONE exchange (c.label) and zero recompute (guide §7.2
        // duplicated subtrees, §2.4 partitioning reuse). Reading the
        // stale table only weakens the jump's shortcut by one round:
        // label' = min(own, neighbors, prev[label]) is still monotone
        // non-increasing over a fixed node set, a sum-stable round is
        // still exactly a fixed point of the update map, and the fixed
        // point (component minima) is unchanged — final labels are
        // bit-identical, only the round count may differ by one.
        minLabels.as("c")
          .join(labels.select(col("node").as("jn"), col("label").as("jl")),
            col("c.label") === col("jn"))
          .select(col("c.node").as("node"),
            least(col("c.label"), col("jl")).as("label"))
      }.select(col("node"), col("label").as("component"))
    }
  }

  /** Winnowing fingerprints — the MOSS document-fingerprinting
    * algorithm: over each document's ORDERED 60-bit n-gram hash
    * sequence, slide a window of `window` consecutive hashes and keep
    * each window's minimum; the distinct minima are the fingerprint
    * set. Guarantee: any shared run of ≥ window + n − 1 words
    * contributes at least one SHARED fingerprint (both documents see
    * the same window of hashes somewhere inside the run), while
    * expected density is only 2/(window+1) of the grams — a
    * substring-sensitive index at a fraction of the full inverted
    * index's size. Narrow per-document transform, no shuffle. */
  def winnowingFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, window: Int = 4): DataFrame = {
    val w = split(col(textCol), " ")
    // Materialize the gram-hash sequence as its own projection: the
    // window lambda below references it once per window, and lambda
    // bodies get no common-subexpression elimination — inlining the
    // md5 chain there would recompute EVERY hash for EVERY window
    // (O(len²) md5 calls per document). CollapseProject keeps the
    // split because the alias is non-cheap and multiply-referenced.
    val hashed = docs.filter(size(split(col(textCol), " ")) >= n + window - 1)
      .select(col(idCol).as("doc_id"),
        transform(wordGrams(w, n), g => hash60(g)).as("h"))
    hashed.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), size(col("h")) - (window - 1)),
        i => array_min(slice(col("h"), i, lit(window)))))).as("fp"))
  }

  /** Winnowing candidate pairs: documents sharing ≥ `minShared`
    * fingerprints — the plagiarism/boilerplate-overlap detector that
    * catches shared SUBSTRINGS (ordered runs), where MinHash/SimHash
    * measure bag-of-shingles similarity. Inverted-index equi-join on
    * the fingerprint (qd04's join family), pair counting by hash agg.
    * The fingerprint key inherits gram skew: a hot boilerplate phrase
    * is exactly what `maxDocFreq` drops before the join (same df-cut
    * semantics as [[blockedJaccardPairs]]). */
  /** Winnowing-based benchmark contamination — [[graft.operators.Overlap.contaminationHits]]
    * with SUBSTRING sensitivity: a corpus document is flagged by the
    * number of winnowing fingerprints it shares with the benchmark
    * set, so only ordered runs of ≥ window + n − 1 words trigger (a
    * bag-of-words paraphrase that reorders the grams does not — the
    * precision complement to qd08's recall-oriented n-gram hits).
    * Benchmark fingerprints are winnowed to 2/(window+1) density and
    * broadcast (benchmarks are small by definition); the corpus side
    * is one narrow fingerprint pass + a broadcast semi-join — linear,
    * no shuffle of the corpus. Every corpus document appears in the
    * output (zero hits included), so the result joins straight onto
    * curation filters. */
  def winnowingContamination(
      docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, window: Int = 4): DataFrame = {
    val cfp = winnowingFingerprints(docs, idCol, textCol, n, window)
    val bfp = winnowingFingerprints(bench, idCol, textCol, n, window)
      .select(col("fp")).distinct()
    val hits = cfp.join(broadcast(bfp), Seq("fp"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared_fp"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"))
  }

  /** Per-BENCHMARK-document leakage fan-out — [[winnowingContamination]]
    * REVERSED: that flags corpus documents carrying benchmark text;
    * this reports, for each benchmark item, HOW WIDELY it leaked —
    * the table an eval owner reads to decide which benchmark items
    * are burned (a contaminated corpus doc is curable by exclusion;
    * a benchmark item mirrored across thousands of pages is not).
    * Output per benchmark doc: (doc_id, n_leaking_docs = distinct
    * corpus docs sharing ≥1 winnowing fingerprint, n_shared_fp =
    * total shared (corpus doc, fingerprint) occurrences). Substring-
    * sensitive like qd17: only ordered runs ≥ window+n−1 words
    * trigger.
    *
    * Scale shape: benchmark fingerprints broadcast (eval-set-sized);
    * the corpus side is one narrow fingerprint pass + broadcast
    * equi-join; per-benchmark aggregation keys on the benchmark id —
    * bounded by the benchmark, never corpus-sized. */
  def benchmarkLeakReport(
      docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, window: Int = 4): DataFrame = {
    val cfp = winnowingFingerprints(docs, idCol, textCol, n, window)
      .select(col("doc_id").as("c_id"), col("fp"))
    val bfp = winnowingFingerprints(bench, idCol, textCol, n, window)
      .select(col("doc_id").as("doc_id"), col("fp"))
    val hits = cfp.join(broadcast(bfp), Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("c_id")).cast("long").as("n_leaking_docs"),
        count(lit(1)).cast("long").as("n_shared_fp"))
    bench.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_leaking_docs"), lit(0L)).as("n_leaking_docs"),
        coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"))
  }

  def winnowingPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, window: Int = 4, minShared: Int = 2,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val fps = graft.core.OpCache.persist(
      winnowingFingerprints(docs, idCol, textCol, n, window))
    val inv = maxDocFreq match {
      case None => fps
      case Some(cut) =>
        val hot = fps.groupBy(col("fp"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cut)
        fps.join(hot.select(col("fp")), Seq("fp"), "left_anti")
    }
    inv.as("a").join(inv.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Edit-distance near-duplicate pairs over SHORT strings (names,
    * titles, product labels — the record-linkage dedup family, where
    * the token-set operators above measure the wrong thing: "red
    * widget" vs "red widgets" is one edit but zero shared 3-gram
    * shingles). Candidates come from TWO blocking passes — first
    * token and last token, unioned — so a single edit anywhere except
    * both endpoints still collides somewhere (the multi-table-LSH
    * union discipline applied to blocking keys); a length band
    * |Δlen| ≤ maxDist prunes in-join (levenshtein ≥ length gap, so
    * the band loses nothing); verification is exact `levenshtein`
    * (integer metric — engine-exact, no float anywhere).
    *
    * Scale shape: each pass is an equi-join on the block key; blocks
    * are vocabulary-sized (first/last tokens), so a hot block (every
    * "red ..." product) is the qd02 mega-bucket problem — `maxBlock`
    * caps each block at its lowest-id members before the self-join
    * (the capBuckets discipline; in-block pairs grow quadratically in
    * block size, and ScaleSmoke's duplicated-corpus fixture measures
    * exactly that blowup without the cap). The length band bounds each
    * row's in-block matches losslessly (levenshtein ≥ length gap).
    * Output: (a_id, b_id, dist), a_id < b_id, dist ≤ maxDist. */
  def editDistanceNearDup(
      df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2, maxBlock: Int = 500): DataFrame = {
    require(maxDist >= 0 && maxBlock >= 2)
    val s = graft.core.Partitioning.parallelize(df, col(idCol))
      .select(col(idCol).as("sid"), col(strCol).as("str"),
        length(col(strCol)).as("len"),
        split(col(strCol), " ")(0).as("k1"),
        element_at(split(col(strCol), " "), -1).as("k2"))
    def pass(key: String): DataFrame = {
      val b = s.select(col("sid"), col("str"), col("len"), col(key).as("blk"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("blk")).orderBy(col("sid"))))
        .filter(col("__rn") <= maxBlock)
        .drop("__rn")
      b.as("a").join(b.as("b"),
          col("a.blk") === col("b.blk") && col("a.sid") < col("b.sid") &&
            abs(col("a.len") - col("b.len")) <= maxDist)
        .select(col("a.sid").as("a_id"), col("b.sid").as("b_id"),
          col("a.str").as("sa"), col("b.str").as("sb"))
    }
    pass("k1").unionByName(pass("k2")).distinct()
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
  }

  /** Prefix-filtered EXACT set-similarity join (the PPJoin family:
    * Bayardo et al. WWW'07, Xiao et al. WWW'08) over distinct 3-gram
    * shingle sets — the LOSSLESS complement to [[blockedJaccardPairs]]'
    * df-cut: instead of dropping hot shingles (which changes which
    * pairs can qualify), order each doc's shingles rarest-first by
    * global document frequency and index only the PREFIX of length
    * |x| − ⌈t·|x|⌉ + 1. Two sets with jaccard ≥ t must share a prefix
    * token (if x∩y avoided x's prefix it would fit in the ⌈t·|x|⌉−1
    * suffix, but jaccard ≥ t forces |x∩y| ≥ t·|x∪y| ≥ t·|x|), so no
    * qualifying pair is lost — the oracle can be the direct all-pairs
    * definition.
    *
    * Scale shape: the candidate join's buckets hold only docs whose
    * PREFIX contains the token — and prefixes hold each doc's ~(1−t)
    * RAREST shingles, so hot boilerplate shingles (the skew that
    * forces qd04's cut) sit in the suffixes and never reach the join.
    * A size-ratio prune (jaccard ≤ min/max) runs inside the join;
    * survivors verify with one linear array_intersect per pair over
    * 8-byte shingle hashes. Everything is equi-join + aggregate; the
    * only per-pair work is the verify on the filtered candidate set. */
  /** Shared PPJoin-family preparation: each doc's distinct shingle
    * hashes in rarest-first canonical order (global-df ascending, tok
    * tiebreak — a total order, so the layout is deterministic under
    * any partitioning). Persisted: both the prefix/probe explode and
    * the verify step read it. */
  private def rarestFirstOrdered(
      docs: DataFrame, idCol: String, textCol: String,
      nShingle: Int): DataFrame = {
    val base = graft.core.Partitioning.parallelize(docs, col(idCol))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= nShingle)
      .select(col("doc_id"),
        array_distinct(transform(wordShingles(col("w"), nShingle), s => hash60(s)))
          .as("sh"))
    val tok = base.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfTab = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // collect_list is order-nondeterministic but sort_array imposes the
    // (df, tok) total order
    graft.core.OpCache.persist(
      tok.join(dfTab, "tok")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
        .select(col("doc_id"),
          transform(col("ord"), s => s.getField("tok")).as("sh"),
          size(col("ord")).as("n")))
  }

  def prefixJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      threshold: Double = 0.4): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val ordered = rarestFirstOrdered(docs, idCol, textCol, nShingle)
    val pre = ordered.select(col("doc_id"), col("n"),
      explode(slice(col("sh"), lit(1),
        (col("n") - ceil(lit(threshold) * col("n")) + lit(1)).cast("int")))
        .as("ptok"))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.ptok") === col("b.ptok") && col("a.doc_id") < col("b.doc_id") &&
          // size-ratio prune: jaccard ≤ min/max — below-ratio pairs can
          // never reach the threshold, drop before the distinct
          least(col("a.n"), col("b.n")).cast("double") >=
            lit(threshold) * greatest(col("a.n"), col("b.n")).cast("double"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val aS = ordered.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("n").as("na"))
    val bS = ordered.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("n").as("nb"))
    cand.join(aS, "a_id").join(bS, "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"),
        col("na"), col("nb"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC containment pairs — |A∩B| / |A| ≥ threshold, emitted
    * as (a_id contained-in b_id): the subset-duplication detector the
    * symmetric operators structurally miss. [[prefixJaccardPairs]]
    * and [[blockedJaccardPairs]] both run a size-ratio prune (jaccard
    * ≤ min/max), so a 50-word document copied verbatim into a
    * 500-word page can NEVER qualify there — jaccard ≈ 0.1 — while
    * its containment is ≈ 1.0. This is the quote/extraction/
    * boilerplate-embedding signal of a crawl pipeline.
    *
    * Lossless prefix filter, containment edition: a qualifying pair
    * needs |A∩B| ≥ ⌈t·|A|⌉, so A's rarest-first PREFIX of length
    * |A| − ⌈t·|A|⌉ + 1 must intersect B (pigeonhole on A's canonical
    * order — no ordering assumption on B). Hence: index A-side
    * prefixes, probe the FULL token index of the corpus (the
    * asymmetry is structural: prefix × full, not prefix × prefix),
    * no size-ratio prune anywhere. Prefix tokens are each doc's
    * RAREST shingles, so the full index is only ever probed at rare
    * keys — the hot-boilerplate skew stays out of the join by the
    * same argument as qd20. Oracle = the direct all-pairs containment
    * definition (losslessness makes that valid). */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val ordered = rarestFirstOrdered(docs, idCol, textCol, nShingle)
    val pre = ordered.select(col("doc_id"), col("n"),
      explode(slice(col("sh"), lit(1),
        (col("n") - ceil(lit(threshold) * col("n")) + lit(1)).cast("int")))
        .as("ptok"))
    val full = ordered.select(col("doc_id").as("b_id"),
      explode(col("sh")).as("ftok"))
    val cand = pre.as("a").join(full.as("f"),
        col("a.ptok") === col("f.ftok") && col("a.doc_id") =!= col("f.b_id"))
      .select(col("a.doc_id").as("a_id"), col("f.b_id").as("b_id"))
      .distinct()
    val aS = ordered.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("n").as("na"))
    val bS = ordered.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    cand.join(aS, "a_id").join(bS, "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          col("na").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** SKETCH-tier containment pairs — [[containmentPairs]]'s constant-
    * cost sibling for corpus scale: instead of probing the index with
    * a (1−t)·|A|+1 prefix of every document, probe with the KMV
    * bottom-k sketch of A's shingle hashes (k smallest — a uniform
    * sample of A under the hash order), and ESTIMATE containment as
    * the fraction of sketch hashes present in B. Documents with ≤ k
    * shingles carry their whole set, so their estimate is exact; the
    * estimator is deterministic (hash order, not RNG), engine- and
    * partitioning-invariant, and the probe cost is EXACTLY k rows per
    * document regardless of document length — the lever qd24 lacks
    * when long documents dominate.
    *
    * Candidate generation is lossless for the ESTIMATOR's own
    * semantics: any pair with estimate ≥ threshold > 0 shares at
    * least one sketch hash, so joining sketch probes against the
    * full inverted index generates every qualifying pair.
    *
    * Scale shape: probes = n·k rows (vs n·|A|·(1−t) for qd24) joined
    * against the (hash, doc) index on 8-byte keys; the count
    * aggregate is map-side-combinable. Hot shingles fan probes out
    * df-proportionally — at corpus scale apply the same df-cut
    * mitigation as qd04 upstream of the index (not parameterized
    * here: the oracle replays exact semantics). */
  def sketchContainmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    require(k >= 1, s"sketch size must be >= 1, got $k")
    // (doc, distinct shingle hashes) — feeds the sketch AND the index
    val hs = graft.core.OpCache.persist(
      graft.core.Partitioning.parallelize(docs, col(idCol))
        .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__w"))
        .filter(size(col("__w")) >= nShingle)
        .select(col("doc_id"),
          array_distinct(transform(wordShingles(col("__w"), nShingle),
            s => hash60(s))).as("hs")))
    // bottom-k sketch: k smallest hashes (doc-local sort — arrays are
    // document-sized, never a shuffle)
    val sk = hs.select(col("doc_id"),
      slice(array_sort(col("hs")), 1, k).as("sk"))
    val probes = sk.select(col("doc_id").as("a_id"),
      size(col("sk")).as("ka"), explode(col("sk")).as("h"))
    val index = hs.select(col("doc_id").as("b_id"), explode(col("hs")).as("h"))
    // (a, h) and (b, h) are both distinct, so the join emits each
    // sketch-hash hit exactly once and the count is the exact overlap
    probes.join(index, Seq("h"))
      .filter(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("ka"), col("b_id"))
      .agg(count(lit(1)).as("m"))
      .select(col("a_id"), col("b_id"),
        (col("m").cast("double") / col("ka").cast("double"))
          .as("est_containment"))
      .filter(col("est_containment") >= threshold)
  }

  /** Sorted-neighborhood near-dup pairs (Hernández–Stolfo SNM, the
    * classic record-linkage alternative to LSH blocking): globally
    * sort the corpus on each of `sortKeys` ([[graft.core.Partitioning
    * .globalRank]] — a range-partitioned distributed sort, no global
    * window), pair every doc with its `window−1` successors in each
    * sort order, union candidates across passes, and verify with
    * exact shingle jaccard. Multi-pass keys are SNM's recall lever: a
    * near-dup pair adjacent under ANY key is found (e.g. text-prefix
    * + reversed-word-order keys catch edits near either end; measured
    * 25/25 = 100% recall vs brute force on the sf0.01 corpus at
    * t=0.4).
    *
    * Scale shape vs LSH (qd02): candidate count is EXACTLY
    * n·(window−1)·passes — linear, tunable, and skew-proof (no hot
    * bucket can blow up: rank neighborhoods have fixed size by
    * construction). The trade is recall through sort-key choice
    * instead of through band/row parameters. Probes are equi-joins on
    * the rank (8-byte key); verification touches candidates only.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sortKeys: Seq[Column],
      window: Int = 4,
      nShingle: Int = 3,
      threshold: Double = 0.4): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(sortKeys.nonEmpty, "at least one sort key required")
    val w = split(col(textCol), " ")
    // textCol keeps its name so caller sort-key expressions resolve
    val base = graft.core.OpCache.persist(
      docs.select(col(idCol).as("doc_id"), col(textCol), w.as("__w"))
        .filter(size(col("__w")) >= nShingle)
        .select(col("doc_id"), col(textCol),
          array_distinct(transform(wordShingles(col("__w"), nShingle),
            s => hash60(s))).as("sh")))
    val candPasses = sortKeys.map { key =>
      val ranked = graft.core.Partitioning.globalRank(
        base.select(col("doc_id"), key.as("__k")),
        "__rnk", col("__k"), col("doc_id"))
      val probes = ranked.select(col("doc_id").as("l_id"),
        explode(sequence(col("__rnk") + 1, col("__rnk") + (window - 1)))
          .as("__rnk"))
      probes.join(ranked.select(col("doc_id").as("r_id"), col("__rnk")), "__rnk")
        .select(least(col("l_id"), col("r_id")).as("a_id"),
          greatest(col("l_id"), col("r_id")).as("b_id"))
    }
    val cand = candPasses.reduce(_ unionByName _).distinct()
    val aS = base.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val bS = base.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    cand.join(aS, "a_id").join(bS, "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"),
        size(col("a_sh")).as("na"), size(col("b_sh")).as("nb"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The default SNM key pair for free-text corpora: the text itself
    * (prefix-sensitive) and its word-reversed form (suffix-sensitive)
    * — together they catch near-dups whose edits fall near either end
    * of the document. Callers with real record keys (names, titles,
    * URLs) should pass those instead. */
  def snmDefaultKeys(textCol: String): Seq[Column] = Seq(
    col(textCol),
    array_join(reverse(split(col(textCol), " ")), " "))

  /** Exact segment-level corpus REWRITE (the C4 / "Deduplicating
    * Training Data" shape at fixed word-segment granularity): cut each
    * document into consecutive non-overlapping `segWords`-word
    * segments, keep only the globally FIRST occurrence of each
    * distinct segment (ordered by (doc_id, seg_idx) — a total order,
    * so the result is partitioning-invariant), and reassemble each
    * document from its surviving segments in original order. Unlike
    * the pair/cluster operators above (which FIND duplicates) and
    * [[Overlap.duplicatedSpanStats]] (which MEASURES them), this one
    * rewrites the corpus — the op that actually removes boilerplate
    * repeated across crawled pages.
    *
    * Scale shape: one narrow explode to (doc_id, seg_idx, segment);
    * keep-first is an argmin — `groupBy(md5(seg)).agg(min(struct(
    * doc_id, seg_idx)))` — which partial-aggregates map-side, so only
    * DISTINCT segments cross the wire (a window would shuffle+sort
    * every occurrence). Survivors semi-join back on (doc_id, seg_idx)
    * (8/4-byte keys), and reassembly is one groupBy(doc_id) whose
    * `sort_array(collect_list(struct(...)))` imposes a deterministic
    * layout. Two shuffles on narrow keys + one on doc_id; nothing is
    * O(n²). Dedup identity is md5(segment) (128-bit — collision odds
    * negligible at any corpus size, same contract as [[exactDedup]]).
    *
    * Output: (doc_id, text, n_kept, n_dropped) — one row per input
    * document; a document whose every segment occurred earlier
    * elsewhere survives with `text = ""` and n_kept = 0. A null
    * `textCol` is treated as the empty string (the doc stays in the
    * output — a rewrite must never silently drop rows, the
    * snapshotDiff lesson applied here).
    */
  def segmentDedupRewrite(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int = 10): DataFrame = {
    val w = split(coalesce(col(textCol), lit("")), " ")
    // size(w) >= 1 always (split never yields an empty array), so the
    // sequence upper bound is >= 0 and never runs backwards
    val segs = graft.core.OpCache.persist(
      docs.select(col(idCol).as("doc_id"), w.as("w"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0),
              ((size(col("w")) + (segWords - 1)) / segWords).cast("int") - 1),
            i => array_join(slice(col("w"), i * segWords + 1, lit(segWords)), " ")))
            .as(Seq("seg_idx", "seg")))
        .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
          col("seg")))
    val kept = segs
      .groupBy(md5(col("seg")).as("h"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.seg_idx").as("seg_idx"))
    val rebuilt = segs.join(kept, Seq("doc_id", "seg_idx"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg")), " ").as("text_new"),
        count(lit(1)).cast("long").as("n_kept"))
    segs.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("text_new"), lit("")).as("text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Densification offset multiplier for [[ophBandTable]]: a prime
    * near 2^40, so a borrowed min (< 2^60) plus offset·C (offset < 64)
    * stays well inside a positive Long and distinct borrow distances
    * cannot produce colliding slot values by accident. */
  val OphDensifyC: Long = 1099511627791L

  /** One-permutation-hashing (OPH) MinHash band table — the
    * signature-cost optimization of [[bandTable]]: classic MinHash
    * evaluates k hash functions per shingle (here: one md5 + k affine
    * rehashes), so signature construction is O(k·shingles). OPH (Li,
    * Owen & Zhang, NIPS 2012) hashes each shingle ONCE and splits the
    * hash space into k bins (`bin = h mod k`); slot i of the signature
    * is the minimum hash landing in bin i. Construction cost drops to
    * O(shingles) — at corpus scale the signature build dominates
    * MinHash-LSH wall time, so this is the production variant.
    *
    * Empty bins (short documents can miss bins entirely) are filled by
    * ROTATION DENSIFICATION (Shrivastava & Li, ICML 2014): slot i
    * borrows the min of the nearest occupied bin to its right
    * (cyclically), offset-shifted by `o · OphDensifyC` so two slots
    * borrowing the same bin at different distances stay distinguishable
    * (unbiased collision probability, which plain copying would break).
    * A document with ≥1 shingle has ≥1 occupied bin, so densification
    * is total.
    *
    * Plan shape: explode shingles → ONE hash60 per shingle → k
    * conditional `min` aggregates (map-side partials, codegen'd) → a
    * per-row densify + band expression. One shuffle on doc_id; no
    * (doc, bin) intermediate shuffle. Bands/bkey layout matches
    * [[bandTable]], so [[pairsFromBandTable]] consumes it unchanged.
    */
  private[operators] def ophBandTable(
      sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    require(bands * r == k, "k must be divisible by bands")
    require(k <= 64, "borrow offset must stay below OphDensifyC reuse bound")
    val binned = sh
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), hash60(col("s")).as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(k.toLong)).as("bin"), col("h"))
    // k sparse per-bin mins in ONE hash aggregate (null = empty bin)
    val minCols = (0 until k).map(i =>
      min(when(col("bin") === i.toLong, col("h"))).as(s"m$i"))
    val sparse = binned.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val mins = array((0 until k).map(i => col(s"m$i")): _*)
    // rotation densification: first non-null bin at cyclic offset o,
    // value shifted by o·C (transform+filter preserve order, so
    // element 1 is the SMALLEST offset — deterministic)
    val sig = transform(sequence(lit(0), lit(k - 1)), i =>
      element_at(
        filter(
          transform(sequence(lit(0), lit(k - 1)), o =>
            element_at(mins, (pmod(i + o, lit(k)) + 1).cast("int")) +
              o.cast("long") * lit(OphDensifyC)),
          v => v.isNotNull),
        1))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        array_join(
          transform(slice(col("sig"), b * r + 1, r), _.cast("string")),
          ",").as("bkey"))
    }
    sparse
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Dedup PROVENANCE — the audit table behind [[dedupCorpus]]'s kept
    * set, answering the question every curation team asks when a
    * document vanishes: WHY was it dropped, and which survivor
    * absorbed it. One row per input document:
    *   - ('kept', own id): survives both stages;
    *   - ('exact_dup', rep id): collapsed in the exact stage onto its
    *     content-hash group's min-id representative;
    *   - ('near_dup', witness id): a representative dropped by the
    *     LSH greedy keep — the witness is the MINIMUM a_id among its
    *     verified pairs (deterministic, and always a lower id by the
    *     pair orientation).
    * Provenance is ONE HOP — an exact-dup points at its
    * representative even if that representative was itself near-dup
    * dropped (the proximate cause; chase the chain by self-joining
    * kept_id when full closure is wanted). Statuses partition the
    * input, and the 'kept' set equals [[dedupCorpus]] by
    * construction.
    *
    * Scale shape: the same two audited stages (hash agg + LSH
    * pipeline over representatives) plus one witness min-agg and one
    * left join on the dropped id — nothing new moves. */
  def dedupProvenance(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val withHash = docs.select(col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("h"))
    val groups = withHash.groupBy(col("h")).agg(min(col("doc_id")).as("rep_id"))
    val exact = graft.core.OpCache.persist(
      withHash.join(groups, Seq("h")).select(col("doc_id"), col("rep_id")))
    val reps = docs.join(
      exact.filter(col("doc_id") === col("rep_id"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")
    val wit = lshNearDupPairs(reps, idCol, textCol,
      nShingle, k, bands, threshold, maxBucketSize)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("w_id"))
    exact.join(wit, col("doc_id") === col("b_id"), "left_outer")
      .select(col("doc_id"),
        when(col("rep_id") =!= col("doc_id"), lit("exact_dup"))
          .when(col("w_id").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("status"),
        when(col("rep_id") =!= col("doc_id"), col("rep_id"))
          .when(col("w_id").isNotNull, col("w_id"))
          .otherwise(col("doc_id")).as("kept_id"))
  }

  /** MinHash-LSH near-dup pairs via the OPH signature ([[ophBandTable]])
    * — same candidate/verify machinery as [[lshNearDupPairs]], k× less
    * signature hashing. Output: verified (a_id, b_id, jaccard). */
  def ophNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, nShingle)
    pairsFromBandTable(sh, ophBandTable(sh, k, bands), threshold, maxBucketSize)
  }
}

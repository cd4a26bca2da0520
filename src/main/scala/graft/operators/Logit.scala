package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** In-engine trained text classifier — batch gradient descent over
  * hashed bag-of-n-gram features, the "train a fasttext-style quality
  * filter" step of a curation pipeline run entirely as DataFrame
  * algebra. The canonical use is DISTILLATION: fit the model to a
  * trusted labeling (a hand-written rule set, a human-audited sample,
  * an expensive teacher model) and serve the distilled scorer at
  * corpus scale — same shape as qt32's DSIR scorer (KB-sized
  * broadcast model, embarrassingly parallel scoring), but
  * discriminatively trained.
  *
  * Determinism is the whole design (the `trainIvfCentroids` / `Bpe`
  * discipline extended to supervised learning):
  *  - weights start at ZERO (no random init — round 1's gradient is
  *    the class-prior direction), so there is nothing to seed;
  *  - the activation is the RATIONAL fast sigmoid
  *    σ̂(z) = 0.5 + z / (2·(1+|z|)) — pure IEEE arithmetic, no
  *    exp/libm anywhere in the training loop, so engines can't
  *    disagree by a ulp;
  *  - per-round, every per-doc margin, activation, and per-bucket
  *    gradient quantizes to DECIMAL(30,6) before its order-invariant
  *    sum; the weight table itself is DECIMAL(30,6) — rounds replay
  *    bit-identically on any engine/partitioning (unrolled in the
  *    DuckDB oracle exactly like the Lloyd rounds).
  *
  * Scale shape per round: one broadcast join of the (doc, bucket, tf)
  * frame against the B-row weight table + one per-doc hash agg (the
  * margins) + one per-bucket hash agg (the gradient) — all linear in
  * corpus tokens, shuffles keyed on doc_id/bucket (uniform by
  * construction: buckets are a hash). The model never exceeds B rows
  * + 1 bias row no matter the corpus or vocabulary.
  */
object Logit {

  /** Hashed L1-normalized features: (doc_id, bucket, x) with
    * x = tf / n_doc — the per-doc feature vector rows. Unigrams +
    * bigrams, bag semantics, same bucket map as
    * [[Curation.importanceResample]] (hash60 mod `buckets`). */
  private def features(
      docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val words = split(coalesce(col(textCol), lit("")), " ")
    val feats = concat(words, Dedup.wordGrams(words, 2))
    val tf = docs.select(col(idCol).as("doc_id"), explode(feats).as("f"))
      .select(col("doc_id"),
        pmod(Dedup.hash60(col("f")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val n = tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("double").as("n"))
    tf.join(n, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"),
        (col("tf").cast("double") / col("n")).as("x"))
  }

  /** The rational fast sigmoid σ̂(z) = 0.5 + z/(2(1+|z|)) — range
    * (0, 1), monotone, exact IEEE arithmetic. */
  private def fastSigmoid(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** A trained model: `weights` = (bucket, w DECIMAL(30,6)) — B+1 rows
    * at most (the -1 sentinel included), `bias` = one (b) row. Both are
    * KB-sized broadcast tables; persist/round-trip them like any stored
    * index here (they are plain DataFrames). */
  final case class LogitModel(weights: DataFrame, bias: DataFrame)

  /** Score `docs` with a trained model — the SERVE half, stateless and
    * embarrassingly parallel (one broadcast join + one per-doc agg), so
    * it runs unchanged inside a streaming micro-batch
    * ([[graft.streaming.EventStreams.logitScoreFeed]]).
    *
    * @return (doc_id, score, pred) — score = σ̂(gain·⟨w,x⟩+b) rounded
    *         to 6, pred = 1 iff score ≥ 0.5. `buckets`/`gain` must
    *         match training. */
  def score(
      docs: DataFrame, idCol: String, textCol: String, model: LogitModel,
      buckets: Int = 256, gain: Double = 8.0): DataFrame = {
    val x = features(docs, idCol, textCol, buckets)
    margin(x, model.weights, model.bias, gain)
      .select(col("doc_id"), round(fastSigmoid(col("z")), 6).as("score"))
      .withColumn("pred", when(col("score") >= 0.5, 1L).otherwise(0L))
  }

  private def margin(
      x: DataFrame, wCur: DataFrame, bCur: DataFrame,
      gain: Double): DataFrame =
    x.join(broadcast(wCur), Seq("bucket"), "left")
      .select(col("doc_id"),
        (col("x") * coalesce(col("w").cast("double"), lit(0.0)))
          .cast(DecimalType(30, 6)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("double").as("zx"))
      .crossJoin(broadcast(bCur))
      .select(col("doc_id"),
        // gain sharpens the shallow rational sigmoid (slope ½ at 0):
        // L1-normalized features compress z toward 0, so an explicit
        // margin temperature is what lets full-batch rounds reach
        // decisive scores instead of hugging the prior
        (lit(gain) * col("zx") + col("b").cast("double"))
          .cast(DecimalType(30, 6)).cast("double").as("z"))

  /** Train `rounds` full-batch GD rounds and SCORE the corpus with
    * the final model. `labelCol` must be 0/1 (LONG/INT/BOOLEAN all
    * cast). Learning rate is the exact double `lr`.
    *
    * @return (doc_id, label, score, pred) — score = σ̂(final margin)
    *         rounded to 6, pred = 1 iff score ≥ 0.5 */
  def trainAndScore(
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      buckets: Int = 256, rounds: Int = 3, lr: Double = 1.0,
      gain: Double = 8.0): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val x = featureTable(docs, idCol, textCol, buckets)
    val y = labelTable(docs, idCol, labelCol)
    val m = trainOnFeatures(docs.sparkSession, x, y, rounds, lr, gain)
    margin(x, m.weights, m.bias, gain)
      .select(col("doc_id"), round(fastSigmoid(col("z")), 6).as("score"))
      .withColumn("pred", when(col("score") >= 0.5, 1L).otherwise(0L))
      .join(y, Seq("doc_id"))
      .select(col("doc_id"), col("y").cast("long").as("label"),
        col("score"), col("pred"))
  }

  /** The TRAIN half: `rounds` full-batch GD rounds, returning the
    * (weights, bias) model for [[score]] to serve — batch or
    * streaming. Same determinism contract as [[trainAndScore]]. */
  def train(
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      buckets: Int = 256, rounds: Int = 3, lr: Double = 1.0,
      gain: Double = 8.0): LogitModel = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val x = featureTable(docs, idCol, textCol, buckets)
    val y = labelTable(docs, idCol, labelCol)
    trainOnFeatures(docs.sparkSession, x, y, rounds, lr, gain)
  }

  /** The persisted, doc_id-PARTITIONED feature table every training
    * round reads. Three properties, each load-bearing for the
    * round-loop plan shape (optimization guide §2.4):
    *  - ONE materialization feeds training and final scoring — the
    *    feature build (explode + two hash aggs over corpus tokens) is
    *    the costliest single stage and would otherwise run twice;
    *  - lineage CUT before the repartition, so every round's
    *    margin/gradient construction re-analyzes a leaf, not the
    *    whole feature pipeline (the pipeline seam lesson);
    *  - explicit `repartition(doc_id)` UNDER the persist: cached plans
    *    keep their output partitioning, so each round's per-doc margin
    *    aggregate and the gradient's x⋈residual join cluster on the
    *    already-partitioned cache — zero x-sized Exchanges per round
    *    (was two), and at corpus scale the feature table crosses the
    *    network once per training run instead of 2·rounds times. */
  private def featureTable(
      docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    graft.core.OpCache.persist(
      graft.core.Lineage.cut(features(docs, idCol, textCol, buckets))
        .repartition(col("doc_id")))

  /** The persisted, doc_id-PARTITIONED label table — [[featureTable]]'s
    * layout discipline applied to `y`: the per-round residual join
    * (margin output hash(doc_id) off the feature cache ⋈ y) and the
    * final score join both cluster on this cache, so y crosses the
    * network once per training run. Unpartitioned, it re-exchanged
    * O(corpus) label rows EVERY round (the one per-round corpus-sized
    * Exchange the round-11 restructure left behind). */
  private def labelTable(
      docs: DataFrame, idCol: String, labelCol: String): DataFrame =
    graft.core.OpCache.persist(
      docs.select(col(idCol).as("doc_id"),
        col(labelCol).cast("int").cast("double").as("y"))
        .repartition(col("doc_id")))

  /** Training rounds over a prebuilt persisted feature table `x` =
    * (doc_id, bucket, x) and label frame `y` = (doc_id, y).
    *
    * ROUND-11 SHAPE: the model lives on the DRIVER between rounds.
    * The model is ≤ B+1 rows at ANY corpus size (B = `buckets`, a
    * constructor constant — the same scale-independence argument as
    * the vocab-sized driver read in VocabTokenizer), so holding it as
    * a driver map and re-emitting it as a broadcast LocalRelation each
    * round is corpus-size-independent by construction. What it buys
    * per round (optimization guide §1.2 step 1 — fewer passes/jobs):
    *  - ONE Spark action (the combined gradient+bias collect below)
    *    instead of ~12 jobs (residual persist + materialize, gradient
    *    agg, full_outer weight join, bias agg, two lineage cuts, two
    *    persists, per-round nDocs/bias broadcast builds);
    *  - the weight/bias frames become LocalRelations, whose broadcast
    *    costs no job at all (driver-side collect of a local plan);
    *  - zero per-round cached frames (no OpCache churn, nothing for a
    *    long-lived session to leak).
    * The gradient and bias aggregates ride ONE query: the bias rows
    * union in under the reserved bucket −2 (features hash via
    * pmod ≥ 0; −1 is the empty-model sentinel), so one shuffle
    * serves both.
    *
    * DETERMINISM IS UNCHANGED — bit-for-bit: every per-round Spark
    * expression (margin, residual, DECIMAL(30,6) quantizations, the
    * order-invariant decimal sums) is the same plan text as before;
    * the driver replays the old plan's scalar arithmetic with Spark's
    * own `Decimal` class (`Decimal(d).toPrecision(30, 6)` is exactly
    * the Cast-to-DECIMAL(30,6) path) and the identical IEEE
    * expression shapes: gs = gd / xd, w' = (w − lr·gs) quantized,
    * b' = (b − (lr·rs)/nd) quantized. LogitSpec's partitioning-
    * invariance and oracle parity pin this. */
  private def trainOnFeatures(
      spark: org.apache.spark.sql.SparkSession,
      x: DataFrame, y: DataFrame,
      rounds: Int, lr: Double, gain: Double): LogitModel = {
    import org.apache.spark.sql.types.{Decimal, StructField, StructType, LongType}
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    require(gain > 0, s"gain must be > 0, got $gain")
    val dec6 = DecimalType(30, 6)
    // THE Cast(double AS DECIMAL(30,6)) path — evaluates Spark's own
    // Cast under the session's eval mode (this engine runs Spark 4's
    // ANSI default, where a non-finite or overflowing update THROWS
    // exactly as the old all-SQL plan's cast did; round-11's advice
    // assumed the non-ANSI null-producing Cast, which this engine never
    // ran). Were a session to run non-ANSI, the Cast yields null and a
    // null weight participates in later updates as 0.0 (margin()'s
    // coalesce). DecimalReplicaSpec pins the alignment either way.
    def quant(d: Double): Decimal = graft.expr.Exprs.quantize6(d)
    def toD(v: Decimal): Double = if (v == null) 0.0 else v.toDouble
    val wSchema = StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("w", dec6, nullable = true)))
    val bSchema = StructType(Seq(StructField("b", dec6, nullable = true)))
    def wFrame(m: scala.collection.Map[Long, Decimal]): DataFrame = {
      // -1 sentinel keeps round 1 the same plan shape as round r
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](m.size + 1)
      rows.add(org.apache.spark.sql.Row(-1L, quant(0.0).toJavaBigDecimal))
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        rows.add(org.apache.spark.sql.Row(k,
          if (v == null) null else v.toJavaBigDecimal))
      }
      spark.createDataFrame(rows, wSchema)
    }
    def bFrame(b: Decimal): DataFrame =
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          if (b == null) null else b.toJavaBigDecimal)),
        bSchema)
    // nd once for the whole run (exact integer ≤ 2^53 as a double —
    // identical to the old per-round count(lit(1)).cast("double"))
    val nd = y.count().toDouble
    // Non-adaptive rounds: after the labelTable layout fix the round
    // plan's only exchange is the bucket-space-bounded gradient
    // aggregate (≤ buckets+2 keys per map partition after partial agg —
    // corpus-size-independent), the model joins are explicit
    // LocalRelation broadcasts, and the x/y scans keep their cached
    // partitioning — nothing for AQE to adapt at ANY scale, while its
    // stage-by-stage materialization costs 3-4 scheduler jobs per round
    // where one collect suffices.
    val (w, b) = graft.core.Iterate("gd", spark, adaptive = false) { it =>
      val (xs, ys) = (it.adopt(x), it.adopt(y))
      it.fold((Map.empty[Long, Decimal], quant(0.0)), rounds) { case (w, b) =>
      val res = margin(xs, wFrame(w), bFrame(b), gain)
        .join(ys, Seq("doc_id"))
        .select(col("doc_id"),
          (fastSigmoid(col("z")) - col("y"))
            .cast(dec6).cast("double").as("r"))
      // ONE margin pass per round (round-11 VERDICT "what's wrong" #2):
      // both stats branches below read the residual — the gradient join
      // and the bias union — and unpersisted it computed TWICE per
      // round (no Exchange between the branches to reuse); at corpus
      // scale that is an extra full pass over the per-doc margins every
      // round. The cache materializes lazily inside the stats action
      // itself (still exactly one Spark job per round) and is released
      // when the round ends. Cached plans are planned without AQE, so
      // the residual keeps the feature cache's hash(doc_id)
      // partitioning and the gradient join stays Exchange-free on both
      // sides.
      it.persist(res)
      // Coordinate-NORMALIZED step: each bucket moves by the
      // feature-mass-weighted MEAN residual of the docs containing it
      // (Σ r·x / Σ x), not the raw gradient / N — a bucket seen in 3
      // docs and one seen in 3 million take same-scale steps, so
      // margins reach O(1) in a handful of rounds instead of
      // vanishing at the 1/N·1/n_doc scale (where DECIMAL(30,6)
      // quantization would freeze learning entirely). The denominator
      // is strictly positive: a bucket only exists through x rows.
      // Bias rows ride the same aggregate under bucket −2 with unit
      // mass: g = r quantized (exactly the old rq), so gd(−2) = rs.
      val stats = xs.join(res, Seq("doc_id"))
        .select(col("bucket"),
          (col("r") * col("x")).cast(dec6).as("g"),
          col("x").cast(dec6).as("xm"))
        .unionByName(res.select(lit(-2L).as("bucket"),
          col("r").cast(dec6).as("g"),
          lit(1.0).cast(dec6).as("xm")))
        .groupBy(col("bucket"))
        .agg(sum(col("g")).cast("double").as("gd"),
          sum(col("xm")).cast("double").as("xd"))
        .collect()
      var rs = 0.0
      val gs = scala.collection.mutable.Map.empty[Long, Double]
      stats.foreach { row =>
        // null sums (every contributing term null — possible only when
        // every label in the bucket is null) fold as 0.0, exactly the
        // old plan's coalesce (round-11 ADVICE: getDouble on a null
        // aggregate threw where the SQL path degraded gracefully)
        def d(i: Int): Double = if (row.isNullAt(i)) 0.0 else row.getDouble(i)
        val k = row.getLong(0)
        if (k == -2L) rs = d(1)
        else gs(k) = d(1) / d(2) // 0/0 = NaN → quant() → null weight
      }
      ((w.keySet ++ gs.keySet).iterator.map { k =>
        val wd = w.get(k).map(toD).getOrElse(0.0)
        k -> quant(wd - lr * gs.getOrElse(k, 0.0))
      }.toMap, quant(toD(b) - lr * rs / nd))
      }
    }
    LogitModel(wFrame(w), bFrame(b))
  }
}
